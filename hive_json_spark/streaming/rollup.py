"""Continuous rollup: a time-bucketed aggregate table maintained
incrementally from a stream (the "hypertable continuous aggregate"
pattern, rebuilt on Structured Streaming + dynamic partition overwrite).

Each micro-batch:
1. aggregates only its own rows into (day, keys) partials;
2. reads back only the day partitions it touches (partition pruning —
   the rollup table may hold years, the batch touches a day or two);
3. re-aggregates existing + partial and overwrites just those partitions
   (``partitionOverwriteMode=dynamic``, an option of that one write).

State never lives in the streaming engine — the rollup table IS the
state.

Replay safety: foreachBatch is at-least-once, and read-add-overwrite is
NOT naturally idempotent (a re-delivered batch would re-add its rows).
Every written partition therefore carries the applied ``_batch_id``, and
replay is decided PER DAY PARTITION: a re-delivered batch N re-applies
only to partitions whose stamped id is < N — so a crash that committed
some of the batch's partitions and not others replays exactly the
missing ones (the ids are atomic with each partition's data — same
files). Only the touched partitions are consulted — no full-table scan.
Batch ids restart per checkpoint lineage, so an out_dir is bound to one
logical stream (same caveat as streaming/state.py). The table is not
versioned like state.py's folds: a version holds the whole state, and a
batch touches a day or two.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.utils import AnalysisException


def continuous_rollup(
    stream: DataFrame,
    ts_col: str,
    key_cols: Sequence[str],
    value_col: str,
    out_dir: str,
    checkpoint_dir: str,
    max_partitions_per_batch: int = 10_000,
):
    """Start an availableNow stream maintaining the daily rollup at
    ``out_dir``.

    Returns the StreamingQuery; callers ``awaitTermination()`` it. Swap the
    trigger for continuous operation.

    ``max_partitions_per_batch`` bounds the one driver-side list this sink
    keeps (the distinct day partitions a batch touches — needed as
    LITERALS so the read-back gets static partition pruning instead of a
    full-table scan). The collect itself is ``limit``-capped in-plan, so
    a pathological batch can never materialize more than the cap + 1 rows
    on the driver: a backfill batch spanning more days than the cap fails
    loudly with instructions to split, rather than silently ballooning.
    27 years of daily partitions fit the default cap.
    """
    if max_partitions_per_batch < 1:
        raise ValueError("max_partitions_per_batch must be >= 1")

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        part = (
            batch_df.groupBy(F.window(ts_col, "1 day").alias("w"), *key_cols)
            .agg(F.count("*").alias("n"), F.sum(value_col).alias("total"))
            .select(
                F.col("w.start").cast("date").alias("day"),
                *key_cols,
                "n",
                "total",
            )
        )
        # part is consumed twice (touched-day probe, then the merge write):
        # persist the POST-aggregation frame — bounded by days x keys, never
        # the batch — so the batch scan+aggregate runs once per batch.
        part = part.persist()
        try:
            _apply(spark, part, batch_id)
        finally:
            part.unpersist()

    def _apply(spark, part: DataFrame, batch_id: int) -> None:
        # enforced cap: limit(cap+1) bounds the collect IN-PLAN (the
        # driver sees at most cap+1 date rows no matter what the batch
        # holds), and cap+1 rows means the batch is over budget → refuse.
        days = [
            r["day"]
            for r in part.select("day")
            .distinct()
            .limit(max_partitions_per_batch + 1)
            .collect()
        ]
        if not days:
            return
        if len(days) > max_partitions_per_batch:
            raise ValueError(
                f"batch {batch_id} touches more than "
                f"{max_partitions_per_batch} day partitions; split the "
                "backfill into smaller time ranges or raise "
                "max_partitions_per_batch"
            )
        try:
            existing = spark.read.parquet(out_dir).filter(F.col("day").isin(days))
        except AnalysisException:  # first batch: table does not exist yet
            merged = part.withColumn("_batch_id", F.lit(batch_id).cast("bigint"))
        else:
            # decide replay PER DAY PARTITION, not per batch: a crash mid
            # dynamic-overwrite can commit some of the batch's partitions
            # and not others, so "max id anywhere >= N" must not skip the
            # partitions that never got N. The decision is made IN-PLAN:
            # a window over the pruned existing read tags each day with its
            # stamp; unapplied days re-aggregate existing + this batch's partials
            # and take the new stamp. Already-applied days are NOT written
            # at all: dynamic partition overwrite only rewrites partitions
            # present in the output frame, so leaving them out keeps them
            # byte-identical on disk WITHOUT re-exposing them to the
            # overwrite's non-atomic delete-then-replace window (a crash
            # mid-replay must never be able to destroy a committed day).
            # A day partition is written atomically with one stamp, so the
            # per-day max IS the day's stamp. Everything stays bounded by
            # the ≤ cap pruned days.
            day_w = Window.partitionBy("day")
            exw = existing.withColumn("_last", F.max("_batch_id").over(day_w))
            stamps = exw.groupBy("day").agg(F.max("_batch_id").alias("_last"))
            part_todo = (
                part.join(F.broadcast(stamps), "day", "left")
                .filter(F.col("_last").isNull() | (F.col("_last") < batch_id))
                .select("day", *key_cols, "n", "total")
            )
            merged = (
                exw.filter(F.col("_last") < batch_id)
                .select("day", *key_cols, "n", "total")
                .unionByName(part_todo)
                .groupBy("day", *key_cols)
                .agg(F.sum("n").alias("n"), F.sum("total").alias("total"))
                .withColumn("_batch_id", F.lit(batch_id).cast("bigint"))
            )
        (
            # co-locate each day before the partitioned write: without
            # this, every task holding rows for a day emits its own file
            # into that day's partition (tasks x days small files); with
            # it, each day writes exactly one file — the healthy layout
            # for a rollup table read back with partition pruning.
            merged.repartition(F.col("day"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("day")
            .parquet(out_dir)
        )

    return (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
