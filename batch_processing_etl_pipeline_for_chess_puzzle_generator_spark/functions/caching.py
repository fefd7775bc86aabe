"""Bounded FIFO insert for session memos.

:func:`fixtures.session_memo` remembers every value it builds through
:func:`bounded_cache_put`, so one eviction rule covers all memos: past
``cap`` entries the oldest is dropped before the new one is stored, and
re-putting a key replaces its value without evicting a neighbour. The
caller serializes access to ``cache`` (the memo holds its own lock
around each put).

Release semantics: an evicted or replaced value is released by calling
its ``unpersist()`` if it has one. That frees frames cached via
``persist()`` immediately (CacheManager-registered plans). For
localCheckpoint'd frames it is a no-op at the block level — their
storage is RDD-level and invisible to the CacheManager — so eviction's
job there is dropping the LAST reference: Spark's ContextCleaner
reclaims a checkpoint's blocks once the RDD is garbage-collected.
Memos holding frames that must free promptly should therefore store
``persist()`` frames, not checkpoints (the dedup pair memo does).
Values without ``unpersist()`` — fixture paths — are only forgotten;
their directories are removed at process exit.
"""

from __future__ import annotations

DEFAULT_CACHE_CAP = 8


def _release(value) -> None:
    unpersist = getattr(value, "unpersist", None)
    if unpersist is not None:
        unpersist()


def bounded_cache_put(cache: dict, key, value, cap: int = DEFAULT_CACHE_CAP):
    if cap < 1:
        raise ValueError("cap must be >= 1")
    # Re-putting an existing key releases the value it replaces —
    # otherwise the old persisted blocks leak unreachable — and must
    # not evict an unrelated entry (the dict doesn't grow).
    if key in cache:
        _release(cache.pop(key))
    while len(cache) >= cap:
        _release(cache.pop(next(iter(cache))))
    cache[key] = value
    return value
