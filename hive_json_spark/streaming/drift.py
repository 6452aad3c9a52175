"""Streaming distribution-drift monitor: maintain the population
stability index of a categorical stream against a fixed reference
distribution, updated every micro-batch — the continuous version of
`q_distribution_drift` (queries_quality.py).

State is the cumulative per-category count table (|categories| rows —
KB-sized no matter how large the stream), folded by
``streaming/state.py:fold_counts``, and the psi table derived from it is
committed as a version of its own: O(k) IO per batch regardless of stream
volume. A re-delivered batch skips the counts and commits the psi table
only if the failed run left it uncommitted (see ``state.py``, which also
binds a state directory to one logical stream).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from hive_json_spark.streaming.state import commit_view, fold_counts, read_version


def streaming_psi(
    stream: DataFrame,
    category_col: str,
    ref: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
):
    """Start an availableNow stream maintaining ``<out_dir>/counts`` and
    ``<out_dir>/psi`` from a categorical stream vs the reference frame's
    distribution of the same column. Returns the StreamingQuery.

    The psi table holds one row per category seen in EITHER side:
    (category, p_ref, p_cur, psi_term) with the standard
    (p_cur - p_ref) * ln(p_cur / p_ref) terms; categories absent from one
    side get a null psi_term (PSI is undefined at zero support — callers
    alert on nulls separately, the usual practice).
    """
    counts_dir = f"{out_dir}/counts"
    ref_counts = (
        ref.groupBy(F.col(category_col).alias("category"))
        .agg(F.count("*").alias("n_ref"))
    )

    def update(batch_df: DataFrame, batch_id: int) -> None:
        part = (
            batch_df.groupBy(F.col(category_col).alias("category"))
            .agg(F.count("*").alias("n"))
        )
        v = fold_counts(part, counts_dir, batch_id)
        cur = read_version(batch_df.sparkSession, counts_dir, v)
        joined = ref_counts.join(cur, "category", "full_outer")
        p_ref = F.col("n_ref") / F.sum("n_ref").over(Window.partitionBy())
        p_cur = F.col("n") / F.sum("n").over(Window.partitionBy())
        psi = joined.select(
            "category",
            F.round(p_ref, 6).alias("p_ref"),
            F.round(p_cur, 6).alias("p_cur"),
            F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 6).alias("psi_term"),
        )
        commit_view(psi, f"{out_dir}/psi", v)

    return (
        stream.writeStream.foreachBatch(update)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
