"""Streaming CDC apply: maintain a keyed snapshot table from a changelog
stream with upsert/delete semantics — the incremental materialization of
`q_merge_upsert` (queries_quality.py), run per micro-batch instead of as
one full-corpus fold.

Scale design (mirrors continuous_rollup's partition-pruned merge):

- The snapshot is hash-bucketed on the key into ``n_buckets`` hive
  partitions (``bucket = pmod(hash(key), n)``). A micro-batch only reads
  and rewrites the buckets its keys touch (dynamic partition overwrite,
  an option of that one write; streaming/state.py says why the table is
  not versioned);
  a 100 TB snapshot with a 1 GB batch rewrites ~batch-sized data, not
  the table. Bucket count is chosen per deployment: buckets ~ snapshot
  bytes / healthy-file-size.
- Within a batch, the LAST change per key wins (ranked by a monotonic
  sequence column — CDC streams carry one; ties would be a producer
  bug). Replayed batches are idempotent: applying the same net change
  twice yields the same snapshot, so checkpoint restarts are safe.
- State never lives in the streaming engine — the table IS the state,
  exactly like the reference's schema accumulator is the only state of
  its streaming scan (`JsonSchemaFinder.java:240-245`): bounded by the
  result, not the stream.
"""

from __future__ import annotations

from typing import Sequence

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.utils import AnalysisException


def streaming_merge_upsert(
    stream: DataFrame,
    key_col: str,
    op_col: str,
    seq_col: str,
    payload_cols: Sequence[str],
    out_dir: str,
    checkpoint_dir: str,
    n_buckets: int = 16,
):
    """Start an availableNow stream folding a changelog into ``out_dir``.

    ``op_col`` values: 'U' (upsert — insert or overwrite) and 'D'
    (delete). Returns the StreamingQuery; callers ``awaitTermination()``.

    Driver-side bound: the only per-batch collects are over DISTINCT
    ``bucket`` values, which ``pmod(hash(key), n_buckets)`` caps at
    ``n_buckets`` rows by construction — a constructor constant, not a
    data-dependent cardinality — and the in-plan ``limit(n_buckets)``
    makes the bound an enforced guard rather than an argument. The
    bucket LITERALS are what buys static partition pruning on the
    read-back (a 100 TB snapshot reads only the touched buckets).
    """
    payload_cols = list(payload_cols)
    if not 1 <= n_buckets <= 1_000_000:
        raise ValueError("n_buckets must be in [1, 1_000_000]")

    def apply_batch(batch_df: DataFrame, _batch_id: int) -> None:
        spark = batch_df.sparkSession
        w = Window.partitionBy(key_col).orderBy(F.col(seq_col).desc())
        net = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(key_col, op_col, *payload_cols)
            .withColumn("bucket", F.pmod(F.hash(key_col), F.lit(n_buckets)))
        )
        # net feeds both the bucket probe and the snapshot join: persist the
        # post-dedup frame (≤ one row per key in the batch — net-change-
        # sized, spills to disk if a batch is huge) so the ranking window
        # over the raw batch runs once.
        net = net.persist()
        try:
            _apply(spark, net)
        finally:
            net.unpersist()

    def _apply(spark, net: DataFrame) -> None:
        # bounded collect: distinct pmod values — ≤ n_buckets rows by
        # construction; limit() enforces the bound in-plan.
        buckets = [
            r["bucket"]
            for r in net.select("bucket").distinct().limit(n_buckets).collect()
        ]
        if not buckets:
            return
        snap_cols = [key_col, *payload_cols, "bucket"]
        try:
            existing = spark.read.parquet(out_dir).filter(
                F.col("bucket").isin(buckets)
            )
        except AnalysisException:  # first batch: snapshot does not exist yet
            existing = spark.createDataFrame(
                [], net.select(snap_cols).schema
            )
        chg = net.select(
            F.col(key_col).alias("_k"),
            F.col(op_col).alias("_op"),
            *[F.col(c).alias(f"_new_{c}") for c in payload_cols],
            F.col("bucket").alias("_bucket"),
        )
        joined = existing.join(
            chg, existing[key_col] == chg["_k"], "full_outer"
        )
        merged = (
            joined.filter(
                F.col("_op").isNull() | (F.col("_op") == "U")
            )  # drop matched deletes; D on absent key is a no-op
            .select(
                F.coalesce(F.col(key_col), F.col("_k")).alias(key_col),
                *[
                    F.when(F.col("_op") == "U", F.col(f"_new_{c}"))
                    .otherwise(F.col(c))
                    .alias(c)
                    for c in payload_cols
                ],
                F.coalesce(F.col("bucket"), F.col("_bucket")).alias("bucket"),
            )
        )
        # The touched-bucket set rides the write itself as an observed
        # metric (r11): the previous shape persisted `merged`, ran a
        # separate distinct-collect job to learn `present`, then wrote the
        # persisted blocks — one extra driver-blocking job and a cached
        # copy per batch. CollectMetrics computes the same ≤ n_buckets set
        # (collect_set dedups as it aggregates) during the ONE pass the
        # write already makes, and the write being the sole action over
        # `merged` also removes the post-write-recompute hazard the
        # persist existed to guard.
        from pyspark.sql import Observation

        obs = Observation()
        observed = merged.observe(obs, F.collect_set("bucket").alias("present"))
        # co-locate each bucket before the partitioned write (same
        # healthy-layout rule as rollup.py): otherwise every join task
        # holding rows for a bucket emits its own file into that bucket's
        # partition — tasks x buckets small files that the next batch's
        # read-back and the final snapshot read pay for
        (
            observed.repartition(F.col("bucket"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(out_dir)
        )
        try:
            present = set(obs.get["present"] or [])
        except Py4JJavaError:
            # A plan that writes ZERO rows (statically empty, or pruned
            # by empty-relation propagation) never evaluates its
            # CollectMetrics node, so no metrics row exists and the
            # scala Observation.getRow asserts. Zero rows written means
            # exactly that no bucket has a surviving row this batch —
            # the empty set IS the observed value. Any batch that wrote
            # rows ran tasks through the observe node and lands in the
            # try arm.
            present = set()
        # Dynamic overwrite only rewrites partitions PRESENT in `merged`.
        # A bucket whose every remaining row was deleted this batch has
        # no rows in `merged`, so its stale files would survive and the
        # deleted rows would resurrect — truncate those buckets
        # explicitly with an empty overwrite of the partition directory.
        # (Replay-safe: rerunning the batch recomputes the same empty
        # set and truncates again.)
        empty = spark.createDataFrame([], merged.drop("bucket").schema)
        for b in buckets:
            if b not in present:
                empty.write.mode("overwrite").parquet(f"{out_dir}/bucket={b}")

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
