"""Versioned parquet state for foreachBatch sinks.

**Versions.** A state table at ``<base>`` is a set of version directories
``<base>/v=<batch_id>``, each holding the whole state after that batch. A
version is committed once its ``_SUCCESS`` marker exists; readers take
the highest committed one (``read_state``) and ignore an uncommitted
directory, which the retry's ``mode("overwrite")`` replaces.
``commit_version`` deletes the other versions only after the new one is
committed, so a crash at any point leaves at least one committed version
on disk, and the write may read the previous version's files while it
runs: no collect, no checkpoint, no read-then-overwrite race. Between a
commit and its prune two versions exist, so read through ``read_state``,
not the root.

**The fold.** ``fold_counts`` folds one batch's per-key counts into the
committed counts. The version number is the batch id, so it is also the
replay guard: foreachBatch is at-least-once, and a re-delivered batch
whose id is at most the committed version is already in the state.
``streaming_topk``, ``streaming_psi`` and ``streaming_cms`` are this fold
over different keys. Batch ids restart at 0 per checkpoint, so a state
directory belongs to ONE logical stream: a new stream needs a new one.

**The views.** A view derived from the counts (the top-k list, the psi
table) is committed as a version of its own directory with the number of
the counts version it was derived from, and skipped when that number is
already committed. A failed view write therefore leaves the previous view
readable, and the rerun of the failed batch, which skips the counts
because they are committed, derives the missing view.

**Rollup and merge** (``rollup.py``, ``merge.py``) do not use versions: a
version holds the whole state, so a version per batch would rewrite the
whole table, where their batches touch a few day or bucket partitions.
They keep Hive-partitioned tables and replace only the touched partitions
with dynamic partition overwrite, set on the write itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def _fs(spark: SparkSession, base: str):
    jvm = spark.sparkContext._jvm
    path = jvm.org.apache.hadoop.fs.Path(base)
    fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return jvm, fs, path


def latest_version(spark: SparkSession, base: str) -> int | None:
    """Highest committed (``_SUCCESS``-marked) version under ``base``, or
    None."""
    jvm, fs, path = _fs(spark, base)
    if not fs.exists(path):
        return None
    best = None
    for st in fs.listStatus(path):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith("v=")):
            continue
        try:
            n = int(name[2:])
        except ValueError:
            continue
        if fs.exists(jvm.org.apache.hadoop.fs.Path(st.getPath(), "_SUCCESS")):
            best = n if best is None else max(best, n)
    return best


def read_version(spark: SparkSession, base: str, version: int) -> DataFrame:
    return spark.read.parquet(f"{base}/v={version}")


def read_state(spark: SparkSession, base: str) -> DataFrame | None:
    """The latest committed version, or None if none is committed."""
    last = latest_version(spark, base)
    return None if last is None else read_version(spark, base, last)


def commit_version(df: DataFrame, base: str, version: int) -> None:
    """Write ``df`` as ``<base>/v=<version>``, then delete every other
    version."""
    df.write.mode("overwrite").parquet(f"{base}/v={version}")
    _, fs, path = _fs(df.sparkSession, base)
    for st in fs.listStatus(path):
        name = st.getPath().getName()
        if name.startswith("v=") and name != f"v={version}":
            fs.delete(st.getPath(), True)


def fold_counts(part: DataFrame, base: str, batch_id: int) -> int:
    """Fold batch ``batch_id``'s counts ``part`` (key columns and a count
    ``n``) into the counts at ``base``: sum ``n`` per key over the union
    with the committed version and commit the sum as version ``batch_id``.
    A replayed batch (``batch_id`` at most the committed version) commits
    nothing. Returns the latest committed version."""
    spark = part.sparkSession
    last = latest_version(spark, base)
    if last is not None and batch_id <= last:
        return last
    if last is not None:
        keys = [c for c in part.columns if c != "n"]
        part = (
            read_version(spark, base, last)
            .select(*part.columns)
            .unionByName(part)
            .groupBy(*keys)
            .agg(F.sum("n").alias("n"))
        )
    commit_version(part, base, batch_id)
    return batch_id


def commit_view(view: DataFrame, base: str, version: int) -> None:
    """Commit ``view``, derived from counts version ``version``, as
    ``<base>/v=<version>``, unless that version is already committed."""
    if latest_version(view.sparkSession, base) != version:
        commit_version(view, base, version)
