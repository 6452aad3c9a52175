"""Streaming count-min sketch: maintain the ``depth x width`` cell table
of an unbounded key stream, updated every micro-batch — the continuous
counterpart of ``operators/sketch.py:count_min_sketch`` and the state
shape that makes heavy-key monitoring feasible when even the exact
streaming_topk counts table outgrows its key-cardinality bound.

State is the cell table (<= depth*width rows, KB-sized no matter the
stream volume), kept as VERSIONED parquet (`streaming/state.py`). CMS
cells are plain counts — MERGEABLE — so each batch's partial sketch folds
in with one cell-wise sum: the associativity that makes the batch
operator shuffle-light is exactly what makes the streaming fold correct
under any batch slicing.

The fold is ``streaming/state.py:fold_counts`` over the (j, bucket)
cells, which also skips re-delivered batches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from hive_json_spark.operators.sketch import count_min_sketch
from hive_json_spark.streaming.state import fold_counts


def streaming_cms(
    stream: DataFrame,
    key_col: str,
    out_dir: str,
    checkpoint_dir: str,
    depth: int = 4,
    width: int = 512,
):
    """Start an availableNow stream folding per-batch CMS partials into
    the versioned cell table at ``out_dir``. Returns the StreamingQuery;
    callers ``awaitTermination()``. The resulting table answers point
    queries via ``operators/sketch.py:cms_estimate`` with the same hash
    family."""

    def update(batch_df: DataFrame, batch_id: int) -> None:
        part = count_min_sketch(batch_df, key_col, depth=depth, width=width)
        fold_counts(part, out_dir, batch_id)

    return (
        stream.writeStream.foreachBatch(update)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
