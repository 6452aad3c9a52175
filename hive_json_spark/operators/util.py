"""Shared operator utilities."""

from __future__ import annotations

from urllib.parse import urlparse

from pyspark.sql import DataFrame


def _scan_row_groups(df: DataFrame) -> int | None:
    """Total parquet row groups behind this frame's file scans, or None
    when that can't be established (non-parquet, remote filesystem, no
    file scan). Spark cannot split a parquet row group, so this is the
    scan's TRUE maximum parallelism — `getNumPartitions()` counts
    PLANNED byte-range splits, and every split beyond the row-group
    count is an empty partition. Footers are read on every call: a file
    rewritten in place must not keep its old count."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    total = 0
    for uri in files:
        if not uri.endswith(".parquet"):
            return None
        try:
            import pyarrow.parquet as pq

            total += pq.ParquetFile(urlparse(uri).path).num_row_groups
        except Exception:
            return None
    return total


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition if the input cannot actually feed the cluster's cores.

    Two traps, both real (r6/r7 finds), both invisible to a plan audit:

    1. Few planned partitions — a small file or a single .gz arrives as
       one partition and serializes compute-heavy per-row operators onto
       one core.
    2. Planned splits that are LIES — a large single-row-group parquet
       file plans `size / maxPartitionBytes` byte-range splits, but a
       row group is atomic: one split gets every row and the rest are
       empty. `getNumPartitions()` looks parallel; the stage runs on one
       core (r7: the zipf-sf10 minhash signature kernel ran 39 s
       single-core behind 24 planned splits; 6 s after this check). The
       row-group probe is a driver-side parquet-footer read per file,
       and backs off to trusting Spark whenever the inputs aren't
       local parquet scans.

    At real scale inputs are written with many row groups and this is a
    no-op. The round-robin shuffle moves only the projected columns.

    Persisted frames are trusted as-is (no probe): a caller that
    ``persist()``s before handing a frame to an operator has taken over
    materialization — and therefore partitioning — management; callers
    doing so on a raw single-row-group scan must spread it themselves
    (every in-repo producer of a persisted operator input builds it via
    this function first, so the guarantee composes).
    """
    if df.isStreaming:
        # partition counts are per-micro-batch on a stream (and .rdd is
        # illegal there); the source's own partitioning governs
        return df
    # A frame the caller explicitly persisted is a frame whose
    # materialization (and partitioning) the caller already manages —
    # e.g. the q_dedup_method_eval shared shingle base feeding five
    # concurrent arms. The `.rdd.getNumPartitions()` probe below is NOT
    # free on such frames: building the Python RDD finalizes the AQE
    # plan, which materializes every exchange in it (measured ~0.4 s per
    # eval run across the five arms re-probing the same cached base).
    try:
        if df.storageLevel.useMemory or df.storageLevel.useDisk:
            return df
    except Exception:
        pass
    target = df.sparkSession.sparkContext.defaultParallelism
    floor = max(target // 2, 2)
    if df.rdd.getNumPartitions() < floor:
        return df.repartition(target)
    # Footer probe first — it is cheap (no Spark job), and in the
    # common case (well-written many-row-group inputs) it exits without
    # touching the physical plan.
    rg = _scan_row_groups(df)
    if rg is None or rg >= floor:
        return df
    # The trap case. The repartition applies only to scan-rooted frames:
    # a frame whose plan already contains a shuffle exchange has its
    # output partitioning determined by that shuffle, not by the file
    # layout (inputFiles() would still return the underlying files and
    # the probe would force a pointless extra repartition).
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
    except Exception:
        return df
    if any(
        m in plan
        for m in (
            "Exchange hashpartitioning",
            "Exchange rangepartitioning",
            "Exchange SinglePartition",
            "RoundRobinPartitioning",
        )
    ):
        return df
    return df.repartition(target)
