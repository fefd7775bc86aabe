"""Multimodal columns: opaque binary payloads + typed metadata, with
REAL pure-numpy decoders for uncompressed formats.

Treats image/audio/video as ``binary`` columns with a metadata struct,
processed through ``mapInPandas`` (Arrow-batched — the only sane way to
move binary blobs between JVM and Python). Unlike round 1 (decode was a
NotImplementedError stub), the default path now actually parses bytes:

- **BMP** (24-bit uncompressed ``BI_RGB``) and binary **PPM** (``P6``)
  images — header parse + numpy pixel-array decode with row-stride
  handling;
- **WAV** (PCM16 mono/stereo RIFF) audio — fmt/data chunk parse,
  sample extraction;
- **RAWV**, a trivial uncompressed video container (``RAWV`` magic +
  u16 width/height/n_frames + raw RGB24 frames) for frame sampling;
- **PNG** (non-interlaced 8-bit, gray/RGB/palette/gray-alpha/RGBA) —
  stdlib zlib inflate + numpy unfiltering of all five filter types
  (none/sub/up/average/paeth), with whole-image vectorized fast paths
  for the uniform-filter images real encoders emit;
- **GIF89a** (animated, global palette) — the REAL variable-width LZW
  algorithm both directions (dictionary growth 9→12 bits, CLEAR/EOI,
  the KwKwK case, 4096-entry reset), one image block per animation
  frame — the only truly animated format in the set, so frame-level
  features exercise genuine multi-frame parsing.

Formats that genuinely need an external codec (JPEG/MP4…) still raise
``NotImplementedError`` — the dispatch makes that an explicit
per-magic-number decision instead of a blanket stub.

The ``mm_*`` registry queries below generate payloads deterministically
from ``documents.doc_id`` (fill values / dims / sample counts are pure
arithmetic on the id), push them through encode → Arrow → decode, and
emit features a DuckDB oracle reproduces arithmetically — so the whole
binary→Arrow→numpy pipeline is oracle-gated end-to-end on real bytes.

Scale notes: payload bytes never hit a shuffle (scan → mapInPandas →
map); metadata-only columns are projected for any grouping, so the
heavy bytes stay columnar in parquet until the Arrow batch that decodes
them. Covers reference parity: the reference has no binary-media path
at all, so this surface is net-new capability (SURVEY.md §2).
"""

from __future__ import annotations

import struct
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import table
from ..fixtures import session_memo

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("kind", T.StringType()),          # image | audio | video
    T.StructField("mime", T.StringType()),
    T.StructField("payload", T.BinaryType()),
    T.StructField("meta", T.StructType([
        T.StructField("source", T.StringType()),
        T.StructField("created_ts", T.LongType()),
    ])),
])

FEATURES_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("kind", T.StringType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("mean_pixel", T.DoubleType()),
    T.StructField("payload_hash", T.LongType()),
])


# ---------------------------------------------------------------- codecs

def encode_bmp(width: int, height: int, value: int) -> bytes:
    """24-bit BI_RGB BMP, every channel byte = ``value`` (0-255)."""
    stride = ((3 * width + 3) // 4) * 4
    img_size = stride * height
    file_hdr = struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
    info_hdr = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    row = bytes([value % 256]) * (3 * width) + b"\x00" * (stride - 3 * width)
    return file_hdr + info_hdr + row * height


def decode_bmp(payload: bytes) -> tuple[int, int, float]:
    """Parse a 24-bit uncompressed BMP → (width, height, mean_pixel).

    Handles 4-byte row stride padding (padding bytes excluded from the
    mean — that is the decode detail the oracle check exercises).
    """
    import numpy as np

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (offset,) = struct.unpack_from("<I", payload, 10)
    width, height = struct.unpack_from("<ii", payload, 18)
    (bpp,) = struct.unpack_from("<H", payload, 28)
    (compression,) = struct.unpack_from("<I", payload, 30)
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"image decoding for BMP bpp={bpp} compression={compression} "
            "requires an external codec; only 24-bit BI_RGB is built in"
        )
    h = abs(height)
    stride = ((3 * width + 3) // 4) * 4
    arr = np.frombuffer(payload, dtype=np.uint8, count=stride * h, offset=offset)
    pixels = arr.reshape(h, stride)[:, : 3 * width]
    return width, h, float(pixels.mean())


def decode_ppm(payload: bytes) -> tuple[int, int, float]:
    """Parse a binary PPM (``P6``) → (width, height, mean_pixel)."""
    import numpy as np

    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    # Header: "P6\n<w> <h>\n<maxval>\n" then raw RGB. Tokenize the first
    # three whitespace-separated fields after the magic.
    fields, i = [], 2
    while len(fields) < 3:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        fields.append(int(payload[i:j]))
        i = j
    i += 1  # single whitespace byte after maxval
    width, height, _maxval = fields
    arr = np.frombuffer(payload, dtype=np.uint8, count=3 * width * height, offset=i)
    return width, height, float(arr.mean())


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
#: channels per PNG color type (depth 8): gray, RGB, palette,
#: gray+alpha, RGBA
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import zlib

    return (struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data)))


def _png_filter_row(ftype: int, row, prev, bpp: int):
    """Apply PNG filter ``ftype`` to one raw row (encoder side)."""
    import numpy as np

    r = row.astype(np.int32)
    left = np.concatenate([np.zeros(bpp, np.int32), r[:-bpp]]) \
        if len(r) >= bpp else np.zeros_like(r)
    up = prev.astype(np.int32)
    if ftype == 0:
        out = r
    elif ftype == 1:
        out = r - left
    elif ftype == 2:
        out = r - up
    elif ftype == 3:
        out = r - (left + up) // 2
    elif ftype == 4:
        ul = np.concatenate([np.zeros(bpp, np.int32), up[:-bpp]]) \
            if len(up) >= bpp else np.zeros_like(up)
        p = left + up - ul
        pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
        pred = np.where((pa <= pb) & (pa <= pc), left,
                        np.where(pb <= pc, up, ul))
        out = r - pred
    else:
        raise ValueError(f"PNG filter type {ftype} out of range")
    return (out % 256).astype(np.uint8)


def encode_png(pixels, color_type: int = 2, filter_type: int = 0) -> bytes:
    """Encode a (height, width[, channels]) uint8 array as a
    non-interlaced 8-bit PNG, every row carrying ``filter_type`` —
    the encoder exists so tests (and the mm_png_features fixture) can
    build payloads that exercise each unfilter branch."""
    import zlib

    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, ch = arr.shape
    if ch != _PNG_CHANNELS[color_type]:
        raise ValueError(
            f"{ch} channels does not match PNG color type {color_type}")
    bpp = ch
    raw = arr.reshape(h, w * ch)
    prev = np.zeros(w * ch, np.uint8)
    body = bytearray()
    for y in range(h):
        body.append(filter_type)
        body += _png_filter_row(filter_type, raw[y], prev, bpp).tobytes()
        prev = raw[y]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (_PNG_MAGIC + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(bytes(body)))
            + _png_chunk(b"IEND", b""))


def decode_png(payload: bytes) -> tuple[int, int, float]:
    """Pure-Python PNG decode → (width, height, mean_pixel): stdlib
    zlib inflate + numpy unfiltering of all five filter types (0 none,
    1 sub, 2 up, 3 average, 4 paeth) — the same real-decode discipline
    as the BMP/PPM/WAV parsers, no PIL. Supports non-interlaced 8-bit
    images of every color type (gray, RGB, palette via PLTE,
    gray+alpha, RGBA); 16-bit and Adam7 raise loudly. mean_pixel is
    the mean over COLOR channel bytes — alpha excluded, palette
    indices mapped through the palette — so it is comparable to the
    BMP/PPM means."""
    import zlib

    import numpy as np

    if payload[: len(_PNG_MAGIC)] != _PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos = len(_PNG_MAGIC)
    width = height = None
    color_type = depth = interlace = None
    plte = None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (clen,), ctype = struct.unpack_from(">I", payload, pos), \
            payload[pos + 4: pos + 8]
        data = payload[pos + 8: pos + 8 + clen]
        if ctype == b"IHDR":
            width, height, depth, color_type, _comp, _filt, interlace = \
                struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            plte = np.frombuffer(data, np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + clen  # len + type + data + crc
    if width is None:
        raise ValueError("PNG missing IHDR")
    if depth != 8 or interlace != 0:
        raise NotImplementedError(
            f"PNG depth={depth} interlace={interlace} requires an "
            "external codec; built-in decode covers non-interlaced "
            "8-bit images"
        )
    ch = _PNG_CHANNELS.get(color_type)
    if ch is None:
        raise ValueError(f"PNG color type {color_type} is invalid")
    stride = width * ch
    raw = np.frombuffer(zlib.decompress(bytes(idat)), np.uint8)
    if len(raw) != height * (stride + 1):
        raise ValueError("PNG IDAT length does not match dimensions")
    raw = raw.reshape(height, stride + 1)
    ftypes, rows = raw[:, 0], raw[:, 1:].astype(np.int32)
    # whole-image fast paths when every row carries the same filter
    # (how encoders typically emit): none is a copy, up is a cumsum
    # down rows, sub a cumsum along pixels — all mod 256, since mod
    # distributes over the running sums. avg/paeth recurrences are
    # inherently sequential in both axes and take the row loop.
    uniform = int(ftypes[0]) if height and (ftypes == ftypes[0]).all() \
        else None
    if uniform == 0:
        return _png_mean(rows, width, height, ch, color_type, plte)
    if uniform == 2:
        out = np.cumsum(rows, axis=0, dtype=np.int64) % 256
        return _png_mean(out, width, height, ch, color_type, plte)
    if uniform == 1:
        out = np.cumsum(rows.reshape(height, width, ch), axis=1,
                        dtype=np.int64) % 256
        return _png_mean(out.reshape(height, stride), width, height,
                         ch, color_type, plte)
    out = np.zeros((height, stride), np.int32)
    prev = np.zeros(stride, np.int32)
    for y in range(height):
        ft, r = int(ftypes[y]), rows[y]
        if ft == 0:
            cur = r
        elif ft == 2:
            cur = (r + prev) % 256
        elif ft in (1, 3, 4):
            # left-dependent filters are sequential along x by pixel;
            # vectorized over the pixel's channels
            cur = np.zeros(stride, np.int32)
            up = prev
            for x in range(0, stride, ch):
                left = cur[x - ch: x] if x >= ch \
                    else np.zeros(ch, np.int32)
                if ft == 1:
                    pred = left
                elif ft == 3:
                    pred = (left + up[x: x + ch]) // 2
                else:
                    ul = up[x - ch: x] if x >= ch \
                        else np.zeros(ch, np.int32)
                    u = up[x: x + ch]
                    p = left + u - ul
                    pa, pb, pc = abs(p - left), abs(p - u), abs(p - ul)
                    pred = np.where((pa <= pb) & (pa <= pc), left,
                                    np.where(pb <= pc, u, ul))
                cur[x: x + ch] = (r[x: x + ch] + pred) % 256
        else:
            raise ValueError(f"PNG filter type {ft} out of range")
        out[y] = cur
        prev = cur
    return _png_mean(out, width, height, ch, color_type, plte)


def _png_mean(out, width: int, height: int, ch: int, color_type: int,
              plte) -> tuple[int, int, float]:
    import numpy as np

    px = np.asarray(out).reshape(height, width, ch)
    if color_type == 3:
        if plte is None:
            raise ValueError("palette PNG missing PLTE chunk")
        colors = plte[px[:, :, 0]]
    elif color_type in (4, 6):
        colors = px[:, :, : ch - 1]  # drop alpha
    else:
        colors = px
    return width, height, float(colors.mean())


def encode_wav(n_samples: int, amplitude: int, rate: int) -> bytes:
    """Mono PCM16 WAV with every sample = ``amplitude``."""
    import numpy as np

    data = np.full(n_samples, amplitude, dtype="<i2").tobytes()
    hdr = struct.pack("<4sI4s", b"RIFF", 36 + len(data), b"WAVE")
    fmt = struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, 1, rate, rate * 2, 2, 16)
    return hdr + fmt + struct.pack("<4sI", b"data", len(data)) + data


def decode_wav(payload: bytes) -> tuple[int, int, int, int]:
    """Parse PCM16 RIFF/WAVE → (rate, n_channels, n_samples, peak)."""
    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, channels, data = 12, None, None, None
    while pos + 8 <= len(payload):
        cid, clen = struct.unpack_from("<4sI", payload, pos)
        if cid == b"fmt ":
            audio_fmt, channels, rate = struct.unpack_from("<HHI", payload, pos + 8)
            if audio_fmt != 1:
                raise NotImplementedError(
                    f"audio decoding for WAV format {audio_fmt} requires an "
                    "external codec; only PCM is built in"
                )
        elif cid == b"data":
            data = payload[pos + 8 : pos + 8 + clen]
        pos += 8 + clen + (clen & 1)
    if rate is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    samples = np.frombuffer(data, dtype="<i2")
    n_samples = len(samples) // channels
    peak = int(samples.max()) if n_samples else 0
    return rate, channels, n_samples, peak


RAWV_MAGIC = b"RAWV"


def encode_rawv(width: int, height: int, frame_values: list[int]) -> bytes:
    """Uncompressed RGB24 video: RAWV + u16 w/h/n + constant-fill frames."""
    hdr = RAWV_MAGIC + struct.pack("<HHH", width, height, len(frame_values))
    frame_sz = width * height * 3
    return hdr + b"".join(bytes([v % 256]) * frame_sz for v in frame_values)


def decode_rawv(payload: bytes, every_n: int = 1) -> list[tuple[int, bytes]]:
    """Parse RAWV, sampling every ``every_n``-th frame →
    [(src_frame_idx, raw RGB bytes), ...]."""
    if payload[:4] != RAWV_MAGIC:
        raise ValueError("not a RAWV payload")
    width, height, n_frames = struct.unpack_from("<HHH", payload, 4)
    frame_sz = width * height * 3
    out = []
    for src in range(0, n_frames, max(1, every_n)):
        start = 10 + src * frame_sz
        out.append((src, payload[start : start + frame_sz]))
    return out


# ----------------------------------------------------------- GIF (LZW)
#
# Real GIF89a: the REAL variable-width LZW algorithm on both sides —
# the encoder builds the dictionary and emits growing-width codes
# (9→12 bits for the 256-gray palette), CLEAR on table-full; the
# decoder replays it including the KwKwK (code == next) case. The
# encoder/decoder width cadence is the classic off-by-one: the decoder
# learns each dictionary entry one code LATER than the encoder created
# it, so the encoder widens at next_code == 2^width + 1 while the
# decoder widens at len(table) == 2^width — both therefore agree on
# the width of every code on the wire (round-tripped across the
# 512/1024/2048 boundaries and the 4096 reset in tests). Animation:
# one full-frame image block per frame behind a graphic-control
# extension — the only REAL animated format in the codec set, so
# frame-level features exercise true multi-frame parsing.

_GIF_MAGIC = b"GIF89a"
_GIF_MCS = 8  # LZW min code size for the 256-entry palette


def _gif_lzw_compress(data: bytes, mcs: int = _GIF_MCS) -> bytes:
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    out, acc, nacc = bytearray(), 0, 0
    width = mcs + 1

    def emit(code: int) -> None:
        nonlocal acc, nacc
        acc |= code << nacc
        nacc += width
        while nacc >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nacc -= 8

    base = {bytes([i]): i for i in range(clear)}
    table = dict(base)
    next_code = eoi + 1
    emit(clear)
    buf = b""
    for b in data:
        nxt = buf + bytes([b])
        if nxt in table:
            buf = nxt
            continue
        emit(table[buf])
        if next_code < 4096:
            table[nxt] = next_code
            next_code += 1
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        else:
            emit(clear)
            table = dict(base)
            next_code = eoi + 1
            width = mcs + 1
        buf = bytes([b])
    if buf:
        emit(table[buf])
    emit(eoi)
    if nacc:
        out.append(acc & 0xFF)
    return bytes(out)


def _gif_lzw_decompress(data: bytes, mcs: int = _GIF_MCS) -> bytes:
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    width = mcs + 1
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    out = bytearray()
    acc = nacc = i = 0
    prev: bytes | None = None
    while True:
        while nacc < width:
            if i >= len(data):
                raise ValueError("GIF LZW stream truncated")
            acc |= data[i] << nacc
            nacc += 8
            i += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nacc -= width
        if code == clear:
            table = list(base)
            width = mcs + 1
            prev = None
            continue
        if code == eoi:
            return bytes(out)
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ValueError(f"corrupt GIF LZW code {code}")
        out += entry
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    raise AssertionError("unreachable")


def encode_gif(frames) -> bytes:
    """Animated grayscale GIF89a: equal-dim uint8 (h, w) frames, one
    full-frame image block each behind a graphic-control extension,
    256-gray global palette (index i = RGB(i,i,i)), real LZW."""
    h, w = frames[0].shape
    out = bytearray(_GIF_MAGIC)
    out += struct.pack("<HH", w, h)
    out += bytes([0xF7, 0, 0])  # GCT present, 8-bit, 256 entries
    for i in range(256):
        out += bytes([i, i, i])
    for fr in frames:
        if fr.shape != (h, w):
            raise ValueError("GIF frames must share dimensions")
        out += b"\x21\xf9\x04\x00\x04\x00\x00\x00"  # GCE: 4cs delay
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
        out += bytes([_GIF_MCS])
        comp = _gif_lzw_compress(fr.tobytes())
        for off in range(0, len(comp), 255):
            chunk = comp[off:off + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def decode_gif(payload: bytes) -> tuple[int, int, list[float]]:
    """Pure-Python GIF decode → (width, height, [per-frame mean pixel
    over the palette's RGB values]). Full LZW decompression; raises on
    local color tables / interlace / partial frames (codec territory
    the encoder never emits — loud, per-feature refusals like the PNG
    interlace path)."""
    import numpy as np

    if payload[:6] not in (b"GIF89a", b"GIF87a"):
        raise ValueError("not a GIF payload")
    w, h = struct.unpack_from("<HH", payload, 6)
    flags = payload[10]
    pos = 13
    palette = None
    if flags & 0x80:
        n = 2 << (flags & 7)
        palette = np.frombuffer(payload[pos:pos + 3 * n],
                                np.uint8).reshape(n, 3)
        pos += 3 * n
    means: list[float] = []
    while True:
        b0 = payload[pos]
        pos += 1
        if b0 == 0x3B:  # trailer
            break
        if b0 == 0x21:  # extension: label byte + data sub-blocks
            pos += 1
            while payload[pos]:
                pos += 1 + payload[pos]
            pos += 1
            continue
        if b0 != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{b0:02x}")
        lx, ly, lw, lh = struct.unpack_from("<HHHH", payload, pos)
        pos += 8
        lflags = payload[pos]
        pos += 1
        if lflags & 0x80:
            raise ValueError("GIF local color tables are not supported")
        if lflags & 0x40:
            raise ValueError("interlaced GIF is not supported")
        if (lx, ly, lw, lh) != (0, 0, w, h):
            raise ValueError("partial-frame GIF is not supported")
        mcs = payload[pos]
        pos += 1
        comp = bytearray()
        while payload[pos]:
            ln = payload[pos]
            comp += payload[pos + 1:pos + 1 + ln]
            pos += 1 + ln
        pos += 1
        idx = np.frombuffer(_gif_lzw_decompress(bytes(comp), mcs),
                            np.uint8)
        if idx.size != w * h:
            raise ValueError("GIF frame pixel count mismatch")
        if palette is None:
            raise ValueError("GIF without a global color table")
        means.append(float(palette[idx].mean()))
    return w, h, means


def decode_image_batch(payload: bytes) -> tuple[int, int, float]:
    """Magic-number dispatch → (width, height, mean_pixel).

    BMP and PPM decode with the built-in numpy parsers; compressed
    formats raise NotImplementedError (they need PIL/libvips, absent
    in this container).
    """
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload[:2] == b"P6":
        return decode_ppm(payload)
    if payload[: len(_PNG_MAGIC)] == _PNG_MAGIC:
        return decode_png(payload)
    if payload[:6] in (b"GIF89a", b"GIF87a"):
        w, h, means = decode_gif(payload)
        return w, h, means[0]  # first frame (the image-feature contract)
    raise NotImplementedError(
        f"image decoding for magic {payload[:4]!r} requires PIL/libvips, "
        "not present in this environment; built-in codecs cover "
        "BMP/P6-PPM/8-bit-PNG/GIF "
        "(use extract_media_features(fake=True) for the hash-based stub)"
    )


# ------------------------------------------------------------- operators

def _fake_decode(payload: bytes) -> tuple[int, int, float]:
    """Deterministic stand-in decoder: features from a payload hash."""
    import hashlib

    h = int.from_bytes(hashlib.md5(payload).digest()[:8], "big")
    return 16 + h % 1024, 16 + (h >> 32) % 1024, float(h % 256)


def extract_media_features(media: DataFrame, fake: bool = False) -> DataFrame:
    """binary column → per-item features via Arrow-batched mapInPandas.

    The UDF sees pandas DataFrames of whole rows (payload included) in
    Arrow batches; output is a typed features table. Decode is the only
    Python step and it is batch-local — everything before/after stays
    JVM-side. Default path REALLY decodes (BMP/PPM); ``fake=True``
    keeps the hash-based stand-in for payloads with no built-in codec.
    """
    decode: Callable[[bytes], tuple[int, int, float]] = (
        _fake_decode if fake else decode_image_batch
    )

    def process(batches: Iterator) -> Iterator:
        import hashlib

        import pandas as pd

        for pdf in batches:
            dims = [decode(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_bytes": [len(bytes(p)) for p in pdf["payload"]],
                "width": [d[0] for d in dims],
                "height": [d[1] for d in dims],
                "mean_pixel": [d[2] for d in dims],
                "payload_hash": [
                    int.from_bytes(hashlib.md5(bytes(p)).digest()[:8], "big") >> 1
                    for p in pdf["payload"]
                ],
            })

    return media.mapInPandas(process, schema=FEATURES_SCHEMA)


RESIZED_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("payload", T.BinaryType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
])

FRAMES_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("frame_payload", T.BinaryType()),
])


def resize_image_batch(payload: bytes, width: int, height: int) -> bytes:
    """Nearest-neighbor resize for 24-bit BMP, re-encoded as BMP.

    Pure numpy index-gather; compressed inputs raise (external codec)."""
    import numpy as np

    if payload[:2] != b"BM":
        raise NotImplementedError(
            f"image resize for magic {payload[:4]!r} requires PIL/libvips; "
            "built-in resize covers 24-bit BMP (or use resize_images(fake=True))"
        )
    src_w, src_h, _ = decode_bmp(payload)
    (offset,) = struct.unpack_from("<I", payload, 10)
    stride = ((3 * src_w + 3) // 4) * 4
    arr = np.frombuffer(payload, dtype=np.uint8, count=stride * src_h, offset=offset)
    pix = arr.reshape(src_h, stride)[:, : 3 * src_w].reshape(src_h, src_w, 3)
    ys = (np.arange(height) * src_h // height).clip(0, src_h - 1)
    xs = (np.arange(width) * src_w // width).clip(0, src_w - 1)
    out = pix[ys][:, xs]                     # (height, width, 3)
    out_stride = ((3 * width + 3) // 4) * 4
    rows = np.zeros((height, out_stride), dtype=np.uint8)
    rows[:, : 3 * width] = out.reshape(height, 3 * width)
    img = rows.tobytes()
    file_hdr = struct.pack("<2sIHHI", b"BM", 54 + len(img), 0, 0, 54)
    info_hdr = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(img), 2835, 2835, 0, 0
    )
    return file_hdr + info_hdr + img


def resize_images(media: DataFrame, width: int, height: int,
                  fake: bool = False) -> DataFrame:
    """binary → binary transform (the resize/recompress shape).

    Payload bytes go JVM → Arrow batch → Python → Arrow → JVM exactly
    once; no shuffle touches them (narrow map only). The fake path
    emits an md5-tagged payload so tests can assert determinism and
    batch flow without decoding; the default path really resizes BMPs.
    """

    def process(batches: Iterator) -> Iterator:
        import hashlib

        import pandas as pd

        for pdf in batches:
            if fake:
                out = [
                    hashlib.md5(bytes(p)).digest() + width.to_bytes(2, "big")
                    + height.to_bytes(2, "big")
                    for p in pdf["payload"]
                ]
            else:
                out = [resize_image_batch(bytes(p), width, height)
                       for p in pdf["payload"]]
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "payload": out,
                "width": width,
                "height": height,
            })

    return media.mapInPandas(process, schema=RESIZED_SCHEMA)


def extract_frames_batch(payload: bytes, every_n: int) -> list[bytes]:
    """Frame sampler: RAWV parses natively; compressed video raises."""
    if payload[:4] == RAWV_MAGIC:
        return [fr for _, fr in decode_rawv(payload, every_n)]
    raise NotImplementedError(
        f"frame sampling for magic {payload[:4]!r} requires pyav/ffmpeg; "
        "built-in sampling covers RAWV (or use sample_frames(fake=True))"
    )


def sample_frames(media: DataFrame, every_n: int = 10,
                  fake: bool = False) -> DataFrame:
    """Video → frame rows (1-to-many mapInPandas — the explode shape
    for binary payloads, keeping Arrow batching on both sides).

    The fake sampler emits ⌈n_bytes / 256⌉ capped at 8 deterministic
    frames per payload so partitioning/row-fanout is real in tests; the
    default path slices real RAWV frames.
    """

    def process(batches: Iterator) -> Iterator:
        import hashlib

        import pandas as pd

        for pdf in batches:
            ids, idxs, payloads = [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                raw = bytes(p)
                if fake:
                    n_frames = min(8, max(1, len(raw) // 256))
                    frames = [
                        hashlib.md5(raw + i.to_bytes(4, "big")).digest()
                        for i in range(0, n_frames, 1)
                    ][::max(1, every_n)]
                else:
                    frames = extract_frames_batch(raw, every_n)
                for i, fr in enumerate(frames):
                    ids.append(mid)
                    idxs.append(i)
                    payloads.append(fr)
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "frame_payload": payloads}
            )

    return media.filter(F.col("kind") == "video").mapInPandas(
        process, schema=FRAMES_SCHEMA
    )


def media_summary(features: DataFrame) -> DataFrame:
    """Metadata-only rollup — never touches payload bytes."""
    return features.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("n_bytes").alias("total_bytes"),
        F.avg("width").alias("avg_width"),
        F.avg("height").alias("avg_height"),
    )


# ------------------------------------------------- registry queries

def synth_media(docs: DataFrame, kind: str) -> DataFrame:
    """Deterministic media table derived from doc_id (no RNG): payload
    bytes are pure arithmetic on the id, so a SQL oracle can predict
    every decoded feature. Narrow mapInPandas — no shuffle."""

    mime = {"image": "image/bmp", "audio": "audio/wav",
            "video": "video/rawv", "png": "image/png",
            "gif": "image/gif"}[kind]

    def gen(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            payloads, metas = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                if kind == "image":
                    payloads.append(encode_bmp(16 + d % 32, 16 + d % 24, d % 256))
                elif kind == "png":
                    # every doc exercises one of the five PNG filters
                    # and one of gray/RGB/RGBA; the avg/paeth
                    # recurrences are sequential per pixel, so those
                    # docs get smaller dims. Pixel (y, x) = v0 + x + y
                    # with no mod-256 wrap (v0 < 170, x ≤ 45, y ≤ 37),
                    # so the mean stays oracle-arithmetic:
                    # v0 + (w-1)/2 + (h-1)/2.
                    ft = d % 5
                    if ft >= 3:
                        w, h = 8 + d % 9, 8 + d % 7
                    else:
                        w, h = 16 + d % 31, 16 + d % 23
                    v0 = d % 170
                    base = (v0 + np.add.outer(np.arange(h), np.arange(w))
                            ).astype(np.uint8)
                    ct = (0, 2, 6)[d % 3]
                    if ct == 0:
                        arr = base
                    else:
                        arr = np.repeat(base[:, :, None],
                                        _PNG_CHANNELS[ct], axis=2)
                        if ct == 6:
                            arr[:, :, 3] = 255  # alpha, excluded from mean
                    payloads.append(encode_png(arr, ct, ft))
                elif kind == "gif":
                    # animated: frame f pixel (y, x) = v0 + 3f + x + y,
                    # never wrapping (v0 < 170, 3f ≤ 12, x ≤ 15,
                    # y ≤ 13), so every frame mean is exactly
                    # v0 + 3f + (w-1)/2 + (h-1)/2 — oracle arithmetic.
                    # The ramp rows make the LZW dictionary (and its
                    # width growth) load-bearing per frame.
                    w, h = 8 + d % 9, 8 + d % 7
                    v0 = d % 170
                    ramp = np.add.outer(np.arange(h), np.arange(w))
                    payloads.append(encode_gif([
                        (v0 + 3 * f + ramp).astype(np.uint8)
                        for f in range(2 + d % 4)
                    ]))
                elif kind == "audio":
                    payloads.append(
                        encode_wav(64 + d % 128, (d % 1000) * 3, 8000 + 100 * (d % 8))
                    )
                else:
                    payloads.append(
                        encode_rawv(8, 8, [(d + 7 * f) % 256
                                           for f in range(4 + d % 5)])
                    )
                metas.append({"source": "synthetic", "created_ts": d})
            yield pd.DataFrame({
                "media_id": pdf["doc_id"],
                "kind": kind,
                "mime": mime,
                "payload": payloads,
                "meta": metas,
            })

    return docs.select("doc_id").mapInPandas(gen, schema=MEDIA_SCHEMA)


# The synthesized media table is memoized + persisted per (session,
# sf_dir, kind): every mm_* registry query starts from the same media
# frame, so without the cache each query re-runs the generator
# mapInPandas (payload encode per document — the single most expensive
# step of the block, and the r2 driver bench priced the first mm_*
# query at 9.6 s largely re-paying it). Bounded FIFO like dedup's
# signature memo so many (sf_dir, kind) combos can't pin unbounded
# executor storage. In production this IS the materialized bronze
# media table — written once, scanned by every feature job.
_MEDIA_CACHE_MAX = 6


@session_memo("media", cap=_MEDIA_CACHE_MAX)
def media_table(spark: SparkSession, sf_dir: str, kind: str) -> DataFrame:
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.catalog import spread

    # spread(): the encode mapInPandas (and every decode kernel
    # downstream, which inherits this partitioning through the
    # persist) is pure Python CPU — on a single-row-group scan it all
    # runs in ONE Arrow task (guide §2.5 / §4). One 8-byte-per-row
    # doc_id repartition fans the codec work out to every core. A
    # bytes-derived narrower width (spread's ``width=``) was MEASURED
    # here in r14 and reverted: it helped the cheap BMP decode
    # (~0.49 → 0.37 s isolated) but regressed the heavy LZW/PNG
    # kernels (0.56/0.62 → 0.87/0.82 s) — per-row decode cost differs
    # ~10× by kind, so one byte target cannot fit all seven consumers
    # of this shared frame, and the r13 8-vs-32-core "inversion" is
    # floor noise at isolated scale (mins 0.4-0.7 s at BOTH core
    # counts).
    docs = spread(spark, sf_dir, "documents",
                  table(spark, sf_dir, "documents").select("doc_id"))
    return synth_media(docs, kind).persist()


def mm_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode a BMP per document, REAL-decode it, emit features the
    oracle reproduces arithmetically (dims/mean are functions of
    doc_id). Exercises header parse + stride-aware pixel decode on
    actual bytes through the full binary→Arrow→numpy path."""
    feats = extract_media_features(media_table(spark, sf_dir, "image"))
    return feats.select("media_id", "kind", "n_bytes", "width", "height", "mean_pixel")


AUDIO_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("n_channels", T.IntegerType()),
    T.StructField("n_samples", T.LongType()),
    T.StructField("peak", T.IntegerType()),
    T.StructField("n_bytes", T.LongType()),
])


def extract_audio_features(media: DataFrame) -> DataFrame:
    """WAV payloads → typed audio features (real RIFF chunk parse)."""

    def process(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = [decode_wav(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "sample_rate": [r[0] for r in rows],
                "n_channels": [r[1] for r in rows],
                "n_samples": [r[2] for r in rows],
                "peak": [r[3] for r in rows],
                "n_bytes": [len(bytes(p)) for p in pdf["payload"]],
            })

    return media.mapInPandas(process, schema=AUDIO_SCHEMA)


def mm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAV-per-document: encode PCM16, real-parse RIFF chunks back.
    duration_ms is derived JVM-side from the decoded columns so both
    engines run the identical double expression."""
    feats = extract_audio_features(media_table(spark, sf_dir, "audio"))
    return feats.select(
        "media_id", "sample_rate", "n_channels", "n_samples", "peak", "n_bytes",
        # 1000.0D: a bare 1000.0 literal is DECIMAL in Spark SQL, which
        # would make duration_ms decimal while DuckDB emits double.
        F.expr("n_samples * 1000.0D / sample_rate").alias("duration_ms"),
    )


FRAME_STATS_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("src_frame", T.IntegerType()),
    T.StructField("frame_bytes", T.LongType()),
    T.StructField("frame_mean", T.DoubleType()),
])


def sample_frame_stats(media: DataFrame, every_n: int) -> DataFrame:
    """RAWV → per-sampled-frame stats (1-to-many fanout + numpy mean)."""

    def process(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            mids, idxs, srcs, sizes, means = [], [], [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                for i, (src, fr) in enumerate(decode_rawv(bytes(p), every_n)):
                    mids.append(mid)
                    idxs.append(i)
                    srcs.append(src)
                    sizes.append(len(fr))
                    means.append(float(np.frombuffer(fr, dtype=np.uint8).mean()))
            yield pd.DataFrame({
                "media_id": mids, "frame_idx": idxs, "src_frame": srcs,
                "frame_bytes": sizes, "frame_mean": means,
            })

    return media.mapInPandas(process, schema=FRAME_STATS_SCHEMA)


def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAWV-per-document, sample every 2nd frame: real container parse
    with 1-to-many row fanout; frame means are oracle-predictable."""
    return sample_frame_stats(media_table(spark, sf_dir, "video"), every_n=2)


def mm_png_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PNG-per-document through the REAL pure-Python decoder (zlib
    inflate + unfilter): the fixture cycles all five filter types and
    gray/RGB/RGBA color types, pixel values ramp along both axes
    (non-constant rows so sub/up/average/paeth unfilter arithmetic is
    actually load-bearing), and the oracle replays the dims/mean from
    doc_id arithmetic. mean_x2 = 2·mean is an exact integer by
    construction (2·v0 + (w-1) + (h-1)), so the comparison dodges
    float-division representation."""
    feats = extract_media_features(media_table(spark, sf_dir, "png"))
    return feats.select(
        "media_id", "width", "height",
        F.expr("CAST(ROUND(mean_pixel * 2) AS BIGINT)").alias("mean_x2"),
    )


GIF_FRAME_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("mean_x4", T.LongType()),
])


def extract_gif_frames(media: DataFrame) -> DataFrame:
    """GIF payloads → one row per ANIMATION FRAME (real multi-frame
    parse + LZW decompression per frame)."""

    def process(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                w, h, means = decode_gif(bytes(p))
                rows.extend(
                    (int(mid), fi, w, h, int(round(m * 4)))
                    for fi, m in enumerate(means))
            yield pd.DataFrame(
                rows, columns=["media_id", "frame_idx", "width",
                               "height", "mean_x4"])

    return media.mapInPandas(process, schema=GIF_FRAME_SCHEMA)


def mm_gif_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Animated GIF per document through the REAL LZW decoder: the
    fixture's ramp frames make dictionary growth load-bearing, the
    per-frame mean is exact quarter-integer arithmetic on doc_id
    (mean_x4 = 4(v0 + 3f) + 2(w−1) + 2(h−1)), and the row count per
    document is its frame count — so the oracle gates container
    parsing, frame slicing, AND the decompressed pixels."""
    return extract_gif_frames(media_table(spark, sf_dir, "gif"))


QUERIES = {
    "mm_image_features": mm_image_features,
    "mm_audio_features": mm_audio_features,
    "mm_frame_sample": mm_frame_sample,
    "mm_png_features": mm_png_features,
    "mm_gif_features": mm_gif_features,
}

# Oracle side replays the doc_id arithmetic that generated the payloads;
# a decode bug (stride, chunk offsets, frame slicing) breaks the hash.
ORACLES = {
    "mm_image_features": """
        SELECT doc_id AS media_id,
               'image' AS kind,
               CAST(54 + (16 + doc_id % 24)
                        * (((3 * (16 + doc_id % 32) + 3) // 4) * 4) AS BIGINT)
                   AS n_bytes,
               CAST(16 + doc_id % 32 AS INTEGER) AS width,
               CAST(16 + doc_id % 24 AS INTEGER) AS height,
               CAST(doc_id % 256 AS DOUBLE) AS mean_pixel
        FROM documents
    """,
    "mm_audio_features": """
        SELECT doc_id AS media_id,
               CAST(8000 + 100 * (doc_id % 8) AS INTEGER) AS sample_rate,
               CAST(1 AS INTEGER) AS n_channels,
               CAST(64 + doc_id % 128 AS BIGINT) AS n_samples,
               CAST((doc_id % 1000) * 3 AS INTEGER) AS peak,
               CAST(44 + 2 * (64 + doc_id % 128) AS BIGINT) AS n_bytes,
               (64 + doc_id % 128) * 1000.0 / (8000 + 100 * (doc_id % 8))
                   AS duration_ms
        FROM documents
    """,
    "mm_frame_sample": """
        SELECT doc_id AS media_id,
               CAST(i AS INTEGER) AS frame_idx,
               CAST(2 * i AS INTEGER) AS src_frame,
               CAST(192 AS BIGINT) AS frame_bytes,
               CAST((doc_id + 7 * 2 * i) % 256 AS DOUBLE) AS frame_mean
        FROM documents,
             unnest(range(0, (4 + doc_id % 5 + 1) // 2)) AS t(i)
    """,
    "mm_gif_features": """
        SELECT doc_id AS media_id,
               CAST(f AS INTEGER) AS frame_idx,
               CAST(8 + doc_id % 9 AS INTEGER) AS width,
               CAST(8 + doc_id % 7 AS INTEGER) AS height,
               CAST(4 * (doc_id % 170 + 3 * f)
                    + 2 * (7 + doc_id % 9) + 2 * (7 + doc_id % 7)
                    AS BIGINT) AS mean_x4
        FROM documents, unnest(range(0, 2 + doc_id % 4)) AS t(f)
    """,
    "mm_png_features": """
        SELECT media_id,
               CAST(w AS INTEGER) AS width,
               CAST(h AS INTEGER) AS height,
               CAST(2 * (media_id % 170) + (w - 1) + (h - 1) AS BIGINT)
                   AS mean_x2
        FROM (
            SELECT doc_id AS media_id,
                   CASE WHEN doc_id % 5 >= 3 THEN 8 + doc_id % 9
                        ELSE 16 + doc_id % 31 END AS w,
                   CASE WHEN doc_id % 5 >= 3 THEN 8 + doc_id % 7
                        ELSE 16 + doc_id % 23 END AS h
            FROM documents
        )
    """,
}


def mm_media_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only rollup over the decoded image features — the
    "never touch payload bytes again" half of the multimodal story:
    after one decode pass, every downstream aggregate runs on typed
    columns. Oracle reproduces the aggregate arithmetically."""
    feats = extract_media_features(media_table(spark, sf_dir, "image"))
    return media_summary(feats).select(
        "kind",
        "n_items",
        F.expr("CAST(total_bytes AS BIGINT)").alias("total_bytes"),
        F.expr("CAST(ROUND(avg_width * 1e6) AS BIGINT)").alias("avg_width"),
        F.expr("CAST(ROUND(avg_height * 1e6) AS BIGINT)").alias("avg_height"),
    )


QUERIES["mm_media_summary"] = mm_media_summary

ORACLES["mm_media_summary"] = """
    SELECT 'image' AS kind,
           count(*) AS n_items,
           CAST(SUM(54 + (16 + doc_id % 24)
                    * (((3 * (16 + doc_id % 32) + 3) // 4) * 4)) AS BIGINT)
               AS total_bytes,
           CAST(ROUND(AVG(16 + doc_id % 32) * 1e6) AS BIGINT) AS avg_width,
           CAST(ROUND(AVG(16 + doc_id % 24) * 1e6) AS BIGINT) AS avg_height
    FROM documents
"""


def mm_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary (scene-cut) detection over the RAWV frame stream —
    the sampler a video training pipeline runs to pick representative
    frames per shot. Decode happens ONCE in the sanctioned Arrow kernel
    (sample_frame_stats, every frame); detection itself is pure JVM
    window math on the typed per-frame means: a cut is a frame whose
    mean shifts > 32 levels from its predecessor. The lag partitions by
    media_id — frames of one video are a handful of rows, so the sort
    is partition-local and the plan scales with video count, never
    frame count per partition."""
    from pyspark.sql.window import Window

    stats = sample_frame_stats(media_table(spark, sf_dir, "video"), every_n=1)
    w = Window.partitionBy("media_id").orderBy("frame_idx")
    return (
        stats.withColumn("prev_mean", F.lag("frame_mean").over(w))
        .groupBy("media_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.expr(
                "CAST(SUM(CASE WHEN prev_mean IS NOT NULL "
                "AND abs(frame_mean - prev_mean) > 32 THEN 1 ELSE 0 END) "
                "AS BIGINT)"
            ).alias("n_cuts"),
        )
    )


QUERIES["mm_scene_cuts"] = mm_scene_cuts

# Frame means are (doc_id + 7·i) % 256, so a >32 jump happens exactly
# at the modular wrap — the oracle replays the arithmetic + lag.
ORACLES["mm_scene_cuts"] = """
    WITH frames AS (
        SELECT doc_id AS media_id, CAST(t.i AS INTEGER) AS frame_idx,
               CAST((doc_id + 7 * t.i) % 256 AS DOUBLE) AS fm
        FROM documents, unnest(range(0, 4 + doc_id % 5)) AS t(i)
    ),
    lagd AS (
        SELECT media_id, fm,
               lag(fm) OVER (PARTITION BY media_id ORDER BY frame_idx) AS pm
        FROM frames
    )
    SELECT media_id, count(*) AS n_frames,
           CAST(SUM(CASE WHEN pm IS NOT NULL AND abs(fm - pm) > 32
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts
    FROM lagd GROUP BY media_id
"""
