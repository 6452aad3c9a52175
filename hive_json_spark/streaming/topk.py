"""Streaming top-k: maintain the k most frequent keys of an unbounded
stream, updated every micro-batch — the continuous counterpart of the
batch heavy-hitter surface (`operators/sketch.py`, `q_heavy_hitters`).

State is the cumulative per-key count table kept as VERSIONED parquet
(`streaming/state.py`): the KEY-cardinality is the state bound, not the
stream volume; the top-k view is re-derived from it each batch (a k-row
TakeOrderedAndProject over the counts table, never over the stream).

Replay safety and the view: ``streaming/state.py:fold_counts`` commits
the merged counts as ``counts/v=<batch_id>`` and skips a re-delivered
batch; the top-k list is committed as ``topk/v=<counts version>``, so a
failed view write leaves the previous list and the batch's rerun derives
the missing one. The merge reads the previous version's live files, so
no driver collect at any cardinality.

100 TB note: for vocabularies too large to keep exact (per-shingle
counts), compose with the batch two-phase candidate pass — keep exact
counts only for keys that were ever locally heavy in some batch, which is
the classic lossy-counting trade documented at the call site; for
key spaces like users/domains/event-types the exact table is small and
this operator is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from hive_json_spark.streaming.state import commit_view, fold_counts, read_version


def streaming_topk(
    stream: DataFrame,
    key_col: str,
    out_dir: str,
    checkpoint_dir: str,
    k: int = 10,
):
    """Start an availableNow stream maintaining ``<out_dir>/counts`` (full
    per-key counts) and ``<out_dir>/topk`` (the k most frequent keys,
    count-desc then key-asc for a total deterministic order), both
    versioned state read through ``read_state``. Returns the
    StreamingQuery."""
    counts_dir = f"{out_dir}/counts"

    def update(batch_df: DataFrame, batch_id: int) -> None:
        part = batch_df.groupBy(F.col(key_col).alias("key")).agg(F.count("*").alias("n"))
        v = fold_counts(part, counts_dir, batch_id)
        top = (
            read_version(batch_df.sparkSession, counts_dir, v)
            .orderBy(F.col("n").desc(), F.col("key").asc())
            .limit(k)
        )
        commit_view(top, f"{out_dir}/topk", v)

    return (
        stream.writeStream.foreachBatch(update)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
