"""Structured Streaming operators.

The reference's "streaming" is incremental parsing of a file
(JsonSchemaFinder.java:239-245); its schema accumulator is *exactly*
streaming state — a monoid folded over an unbounded document stream. Here
that becomes real Structured Streaming:

- ``infer_schema_streaming``: ``readStream.text`` → ``foreachBatch`` that
  folds each micro-batch with the distributed lattice and merges it into
  the accumulator, kept as versioned state (``streaming/state.py``) under
  the checkpoint: a restart resumes from the batches already folded, and
  a re-delivered batch is skipped rather than counted twice.
- ``windowed_event_counts``: event-time tumbling windows + watermark —
  late data beyond the watermark is dropped, state is bounded.
- ``stateful_user_totals``: custom per-key state via
  ``applyInPandasWithState`` — running totals per user, the engine's
  arbitrary-stateful-operator surface.
"""

from __future__ import annotations

import pickle
import shutil
import tempfile
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from hive_json_spark.infer import InferResult, infer_schema_of_column
from hive_json_spark.streaming.state import commit_version, latest_version, read_state
from hive_json_spark.types import canonicalize, merge_types


def infer_schema_streaming(
    spark: SparkSession,
    path_glob: str,
    *,
    checkpoint_dir: Optional[str] = None,
) -> InferResult:
    """Streaming schema inference over a growing NDJSON directory.

    Each micro-batch runs the distributed partial+final fold and merges the
    result into the accumulator: one pickled ``(htype, records)`` row,
    committed as a version of ``<checkpoint_dir>/schema`` per batch. A
    rerun on the same checkpoint folds only the new files into it; without
    ``checkpoint_dir`` a temporary one is used and removed on return. The
    merged type is canonicalized once at the end. ``availableNow`` drains
    what exists and stops — swap the trigger for continuous operation.
    """
    ckpt = checkpoint_dir or tempfile.mkdtemp(prefix="infer_stream_")
    acc_dir = f"{ckpt}/schema"

    def accumulator() -> tuple:
        state = read_state(spark, acc_dir)
        return (None, 0) if state is None else pickle.loads(state.first()["acc"])

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        last = latest_version(spark, acc_dir)
        if last is not None and batch_id <= last:
            return  # re-delivered batch: the accumulator already holds it
        htype, records = accumulator()
        r = infer_schema_of_column(batch_df, "value")
        acc = pickle.dumps((merge_types(htype, r.htype), records + r.records))
        commit_version(spark.createDataFrame([(acc,)], "acc binary"), acc_dir, batch_id)

    try:
        (
            spark.readStream.text(path_glob)
            .writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        htype, records = accumulator()
    finally:
        if checkpoint_dir is None:
            shutil.rmtree(ckpt, ignore_errors=True)
    return InferResult(canonicalize(htype) if htype is not None else None, records)


def windowed_event_counts(
    events_stream: DataFrame,
    *,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling-window counts/sums with bounded state via watermark."""
    return (
        events_stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("win"), F.col("event_type"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def session_window_counts(
    events_stream: DataFrame,
    *,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Session windows on the stream: per-key activity sessions that close
    after ``gap`` of silence — the streaming counterpart of the batch
    ``operators.relational.sessionize`` (lag + running-sum). Native
    ``F.session_window`` keeps session state in the state store and the
    watermark bounds it: a session finalizes (and its state evicts) once
    the watermark passes its close. Batch-equivalent on a drained stream,
    which is what the test pins."""
    return (
        events_stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("sess"), F.col(key_col))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col(key_col),
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def stateful_user_totals(events_stream: DataFrame) -> DataFrame:
    """Arbitrary stateful op: per-user running event count + value total,
    emitted once per micro-batch per active user."""
    import pandas as pd

    out_schema = "user_id bigint, n_events bigint, total_value double"
    state_schema = "n_events bigint, total_value double"

    def update(key, pdfs, state: GroupState):
        n, total = (state.get if state.exists else (0, 0.0))
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 4)]}
        )

    return (
        events_stream.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    watermark: str = "1 hour",
    within: str = "30 minutes",
) -> DataFrame:
    """Watermarked inner stream-stream join: right events within ``within``
    AFTER the left event, same key.

    Both sides buffer in state; the watermark + time-range condition is
    what lets the engine EVICT state (without it a stream-stream join's
    state grows forever — the non-negotiable at 100 TB/day). Column names
    must be disjoint apart from ``key``/timestamps (alias beforehand).
    """
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    cond = (
        (l[key] == r[key])
        & (r[right_ts] >= l[left_ts])
        & (r[right_ts] <= l[left_ts] + F.expr(f"INTERVAL {within}"))
    )
    return l.join(r, cond).drop(r[key])


def streaming_dedup(
    stream: DataFrame,
    key_cols: list,
    ts_col: str,
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming exact dedup: first arrival per key wins; duplicates
    arriving within the watermark horizon are dropped.

    ``dropDuplicatesWithinWatermark`` keys state by ``key_cols`` and EVICTS
    entries once the watermark passes — bounded state, unlike a plain
    ``dropDuplicates`` on a stream (which keeps every key forever). The
    batch twin is ``operators.relational.exact_dedup``; a pipeline can
    backfill with the batch form and tail with this one.
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(key_cols)


def streaming_funnel_stages(events_stream: DataFrame) -> DataFrame:
    """Per-user funnel state machine as arbitrary streaming state: track the
    furthest signup→click→purchase stage reached *in event-time order of
    arrival*, advancing only on the next expected event type (the same
    strict-ordering semantics as the batch q_funnel_conversion). Emits each
    user's current stage once per micro-batch in which the user appears.

    State per user is two numbers (stage, last transition ts) — bounded by
    |users|, independent of event volume; watermark-driven timeout eviction
    is the production knob for abandoned funnels (kept NoTimeout here so
    batch equivalence is exact).
    """
    import pandas as pd

    out_schema = "user_id bigint, stage int"
    state_schema = "stage int, stage_ts double"
    next_expected = {0: "signup", 1: "click", 2: "purchase"}

    def update(key, pdfs, state: GroupState):
        stage, stage_ts = (state.get if state.exists else (0, float("-inf")))
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["ts", "event_id"])
        for ts, et in zip(rows["ts"], rows["event_type"]):
            t = ts.timestamp()
            if stage < 3 and et == next_expected[stage] and t > stage_ts:
                stage += 1
                stage_ts = t
        state.update((stage, stage_ts))
        yield pd.DataFrame({"user_id": [key[0]], "stage": [stage]})

    return (
        events_stream.select("user_id", "ts", "event_id", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )
