"""Shared operator utilities."""

from __future__ import annotations

from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame

from hive_json_spark.sources.tables import footer_counts

# planned exchanges that set a frame's output partitioning
_SHUFFLES = (
    "Exchange hashpartitioning",
    "Exchange rangepartitioning",
    "Exchange SinglePartition",
    "RoundRobinPartitioning",
)


def _scan_row_groups(df: DataFrame) -> int | None:
    """Parquet row groups behind this frame's file scans, or None unless
    every input is a readable local parquet file."""
    files = df.inputFiles()
    if not files or not all(f.endswith(".parquet") for f in files):
        return None
    counts = footer_counts([unquote(urlparse(f).path) for f in files])
    return None if counts is None else counts[1]


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin ``df`` over the cores when its scan cannot feed them.

    One rule, checked in cost order:

    1. A streaming or persisted frame is returned as it is. A stream is
       partitioned per micro-batch (and ``.rdd`` is illegal there); a
       caller that persists a frame manages its materialization and so
       its partitioning (every in-repo producer of a persisted operator
       input builds it through this function first).
    2. A frame whose physical plan holds a shuffle exchange (hash, range,
       single-partition or round-robin) is returned as it is: the
       shuffle, not the file layout, sets its partitioning. The plan is
       read as planned, before any RDD is built, because building the
       RDD finalizes an AQE plan, which runs its exchanges as jobs.
    3. Otherwise the frame is spread, ``repartition(defaultParallelism)``,
       when ``min(parquet row groups, planned partitions)`` is below
       ``max(defaultParallelism // 2, 2)``, so when either one is; the
       row groups are checked first. They are summed from the footers of
       ``df.inputFiles()`` on every call (a few ms), and count only when
       every input is a readable local parquet file. They catch a large
       single-row-group parquet file: it plans ``size / maxPartitionBytes``
       byte-range splits, but a row group is atomic, so one split gets
       every row and the rest are empty (the zipf-sf10 minhash signature
       kernel ran 39 s on one core behind 24 planned splits, 6 s spread).
       Planned partitions, read only when the row groups do not already
       decide, catch a small file or a single ``.gz`` that arrives as one
       partition; counting them builds the frame's RDD (~30 ms).

    The one case this narrows: a shuffled frame whose AQE-coalesced
    output falls below the floor is left as it is, since counting that
    output would run its exchanges. No registry entry passes one.

    At real scale inputs are written with many row groups and this is a
    no-op. The round-robin shuffle moves only the projected columns.
    """
    if df.isStreaming or df.storageLevel.useMemory or df.storageLevel.useDisk:
        return df
    qe = df._jdf.queryExecution()
    if any(m in qe.executedPlan().toString() for m in _SHUFFLES):
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    floor = max(target // 2, 2)
    rg = _scan_row_groups(df)
    if (rg is not None and rg < floor) or qe.toRdd().getNumPartitions() < floor:
        return df.repartition(target)
    return df
