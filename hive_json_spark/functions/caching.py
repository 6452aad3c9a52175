"""Query-scoped persist lifecycle.

Several graded queries (and the prefix-filter set-similarity operator)
reuse a frame across 3-4 plan arms where recomputing it would re-shuffle
or re-scan the corpus per arm. ``persist(MEMORY_AND_DISK)`` is the right
storage class for those frames — evictable, spills, never pinned the way
``localCheckpoint`` blocks are (the r7 census OOM lesson) — but a lazily
returned DataFrame gives the producer no point in time at which it can
``unpersist``: the caller materializes the result later.

``scoped_persist`` solves the lifecycle by REGISTRATION instead of
ownership: the frame is persisted and recorded, and the graded-query
wrapper (``registry.query``) releases everything recorded by the PREVIOUS
query when the next one starts — by then the previous result has been
acted on (the driver, bench, and parity harness all materialize each
query before moving to the next). Library users who call operators
directly can call ``release_scoped()`` themselves (or keep relying on
``spark.catalog.clearCache()``); a re-used lazy frame after release is
still correct, it just recomputes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_SCOPED: list[DataFrame] = []


def scoped_persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` (evictable, disk-spilling) and register it for
    release at the start of the next graded query."""
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    _SCOPED.append(out)
    return out


def release_scoped() -> int:
    """Unpersist every registered frame; returns how many were released.
    Safe to call at any time — a released frame recomputes if re-used."""
    n = 0
    while _SCOPED:
        df = _SCOPED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped — nothing to release
    return n
