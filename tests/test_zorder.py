"""Z-order layout: key math golden values + sorted-layout write."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.functions.zorder import (
    morton_sql,
    with_zorder_key,
    write_zordered,
)

SF = "/root/testdata/sf0.001"


def test_morton_golden(spark):
    # x=3 (011b), y=5 (101b) interleave → 100111b = 39
    row = spark.sql(f"SELECT {morton_sql('3', '5', bits=3)} AS k").collect()[0]
    assert row.k == 39
    # symmetry: swapping x/y swaps odd/even bit planes → different key
    row2 = spark.sql(f"SELECT {morton_sql('5', '3', bits=3)} AS k").collect()[0]
    assert row2.k == 27


def test_morton_matches_duckdb(spark):
    import duckdb

    s = [r.k for r in spark.sql(
        f"SELECT {morton_sql('id % 16', 'id % 7', 4, div='div')} AS k "
        "FROM range(100) ORDER BY id").collect()]
    d = [r[0] for r in duckdb.connect().execute(
        f"SELECT {morton_sql('(i % 16)', '(i % 7)', 4, div='//')} AS k "
        "FROM range(100) t(i) ORDER BY i").fetchall()]
    assert s == d


def test_write_zordered_sorted_files(spark, tmp_path):
    df = spark.read.parquet(f"{SF}/part.parquet")
    path = str(tmp_path / "part_z")
    write_zordered(df, path, "p_partkey % 256", "p_size % 256")
    back = spark.read.parquet(path)
    assert back.count() == df.count()
    # within every output file, rows must be nondecreasing in z_key
    keyed = with_zorder_key(back, "p_partkey % 256", "p_size % 256")
    bad = (
        keyed.withColumn("f", F.input_file_name())
        .withColumn(
            "prev",
            F.lag("z_key").over(
                Window.partitionBy("f").orderBy(F.monotonically_increasing_id())
            ),
        )
        .filter("prev IS NOT NULL AND z_key < prev")
        .count()
    )
    assert bad == 0


# ------------------------------------------------------ Hilbert curve
def test_hilbert_spark_matches_reference_and_is_adjacent(spark):
    """The unrolled Spark chain computes the exact Hilbert index of
    the python reference on the full 32×32 grid, the mapping is a
    bijection, and consecutive keys are GRID NEIGHBOURS — the locality
    property Morton lacks (Morton violates it at every power-of-two
    boundary)."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.functions.hilbert import (
        with_hilbert_key,
        xy2d,
    )

    bits, n = 5, 32
    grid = spark.range(n * n).selectExpr(
        f"CAST(id DIV {n} AS BIGINT) AS gx",
        f"CAST(id % {n} AS BIGINT) AS gy",
    )
    rows = with_hilbert_key(grid, "gx", "gy", bits=bits).collect()
    assert all(r.h_key == xy2d(n, r.gx, r.gy) for r in rows)
    pos = {r.h_key: (r.gx, r.gy) for r in rows}
    assert sorted(pos) == list(range(n * n))
    assert all(
        abs(pos[d][0] - pos[d + 1][0]) + abs(pos[d][1] - pos[d + 1][1]) == 1
        for d in range(n * n - 1)
    )


def test_hilbert_locality_beats_morton(spark):
    """The clustering claim, measured the way the engine actually
    prunes: sort the 64×64 grid by each curve, cut into equal-size
    'files', take each file's per-column [min,max] BOUNDING BOX (the
    manifest/parquet stats), and count files whose bbox intersects an
    8×8 query box (the stats-pruned scan set). Hilbert's adjacency
    keeps each file a compact blob → tighter bboxes → strictly fewer
    files scanned at every file count. Measured (this test):
    12 files 3.44→2.45, 24 files 4.17→3.07, 48 files 5.32→3.57
    average files scanned (morton→hilbert) — recorded in SCALING.md."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.functions.hilbert import xy2d

    n, bits, box = 64, 6, 8

    def morton_py(x, y):
        d = 0
        for i in range(bits):
            d += ((x >> i) & 1) << (2 * i)
            d += ((y >> i) & 1) << (2 * i + 1)
        return d

    for n_files in (12, 24, 48):
        rows_per_file = n * n // n_files
        avg = {}
        for name, key in (("morton", morton_py),
                          ("hilbert", lambda x, y: xy2d(n, x, y))):
            order = sorted(
                ((key(x, y), x, y) for x in range(n) for y in range(n))
            )
            bboxes: dict[int, list[int]] = {}
            for i, (_, x, y) in enumerate(order):
                b = bboxes.setdefault(i // rows_per_file, [x, x, y, y])
                b[0] = min(b[0], x)
                b[1] = max(b[1], x)
                b[2] = min(b[2], y)
                b[3] = max(b[3], y)
            total = n_boxes = 0
            for bx in range(0, n - box, 5):  # unaligned query boxes
                for by in range(0, n - box, 5):
                    total += sum(
                        1 for b in bboxes.values()
                        if not (b[1] < bx or b[0] > bx + box - 1
                                or b[3] < by or b[2] > by + box - 1)
                    )
                    n_boxes += 1
            avg[name] = total / n_boxes
        assert avg["hilbert"] < avg["morton"] * 0.85, (n_files, avg)


def test_optimize_version_hilbert_curve(spark, tmp_path):
    """OPTIMIZE with curve='hilbert': content-identical rewrite,
    clustered files (tight per-file spans on BOTH dimensions)."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

    path = str(tmp_path / "t")
    df = spark.range(4096).selectExpr(
        "CAST(id % 64 AS BIGINT) AS x",
        "CAST(id DIV 64 AS BIGINT) AS y",
        "id AS payload",
    )
    versioned.write_version(df.repartition(8), path)
    stats = versioned.optimize_version(
        spark, path, target_files=8, zorder_cols=("x", "y"),
        zorder_bits=6, curve="hilbert",
    )
    assert stats["files_after"] <= 8
    got = sorted(r.payload for r in
                 versioned.read_version(spark, path).collect())
    assert got == list(range(4096))
    # clustered layout: per-file x-span must be far below the full
    # domain (an unclustered rewrite's span is ~64 per file)
    f = versioned.files(spark, path).filter("lower_bounds['x'] IS NOT NULL")
    spans = [int(r.upper_bounds["x"]) - int(r.lower_bounds["x"])
             for r in f.collect()]
    assert spans and sum(spans) / len(spans) < 40
