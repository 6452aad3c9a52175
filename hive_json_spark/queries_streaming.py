"""Driver-gradeable streaming queries: each entry stages the input table as
a multi-file parquet directory, runs the Structured Streaming operator to
completion with an ``availableNow`` trigger sliced into REAL micro-batches
(``maxFilesPerTrigger=1``), and returns the final state table. The DuckDB
oracle recomputes the same result as one batch query — valid because every
operator's state fold is associative/idempotent, so the final state is
independent of how the stream was sliced (the replay-idempotence protocol
each sink documents).

This is the streaming counterpart of the reference's only "stream": the
incremental one-file fold whose schema accumulator is its entire state
(JsonSchemaFinder.java:239-245). Here state = counts / cells / rollup rows /
snapshot — bounded by the RESULT cardinality, never the stream volume.

Harness cost (the r8 trim): a 2-file slice still exercises both state
paths (batch 1 creates, batch 2 merges with committed state) at ~2/3 the
fixed per-batch engine cost of the r7 3-slice harness; the staged inputs
are written ONCE per process per (entry, input files) — staging is
test-input preparation, not the graded operator, and a table rewritten in
place is a new input — and a one-time noop stream warms the streaming
engine (classloading + state-store init, ~2s) out of every entry. State
and checkpoint dirs stay fresh per invocation, so the operator itself
replays its full create→merge→finalize lifecycle on every call.

Every entry registers with ``session_conf=_HARNESS_CONF`` (shuffle
partitions sized to the bounded harness, adaptive execution off), so it
runs on a session of its own (``registry.query``); the caller's session
conf is never changed.

Determinism notes per entry:
- topk/cms/drift counts are integer sums — associative, slice-free.
- rollup sums exact integer cents (int_units), not raw doubles.
- merge stages the changelog hash-partitioned BY KEY, so each key's whole
  history lands in one micro-batch and batch-local last-wins equals global
  last-wins regardless of file delivery order.
- session/join stages are time-split so no row ever arrives behind the
  watermark (nothing is dropped; drained result == batch result); the
  time-split halves carry explicitly distinct mtimes so the file source's
  oldest-first ordering is pinned even on coarse-mtime filesystems.
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from hive_json_spark.functions.exact import int_units
from hive_json_spark.registry import query
from hive_json_spark.sources import load_table

# Every entry in this module is a BOUNDED streaming harness (k rows /
# depth*width cells / |categories| / days*types of state), so it registers
# with shuffle partitions — which for stateful streaming also fix the
# number of STATE STORE instances per batch — sized to the harness, the
# same bounded-input sizing q_dedup_method_eval uses. Measured 2x on the
# state-store entries (join 7.4->3.5 s, merge 8.3->4.0 s).
# Adaptive execution is off too: a micro-batch here is metadata-sized, so
# adaptive re-planning buys nothing and its per-shuffle query-stage
# barriers cost each foreachBatch job (merge, rollup and session measured
# 0.2-0.4 s slower per call at sf0.1 with it on). Both run on the entry's
# own session, never the caller's; production streams on real volumes keep
# the session defaults, and the operators never assume a partition count.
_HARNESS_CONF = {"spark.sql.shuffle.partitions": "4", "spark.sql.adaptive.enabled": "false"}

# sessions whose streaming engine has already run one query (keyed by the
# JVM SparkContext identity — survives getOrCreate() returning the same
# session under different Python wrappers)
_WARMED: set[str] = set()

_STAGE_ROOT: str | None = None


def _stage_root() -> str:
    """Process-scoped cache root for staged stream inputs (removed at
    interpreter exit). State/checkpoint dirs NEVER live here — only the
    immutable staged source files, which are pure functions of
    (entry, input files)."""
    global _STAGE_ROOT
    if _STAGE_ROOT is None:
        _STAGE_ROOT = tempfile.mkdtemp(prefix="hjs_stream_stage_")
        atexit.register(shutil.rmtree, _STAGE_ROOT, ignore_errors=True)
    return _STAGE_ROOT


def _warm_stream_engine(spark: SparkSession) -> None:
    """Run a one-row noop availableNow stream once per session: the first
    streaming query in a JVM pays ~2 s of engine classloading and
    state-store init that would otherwise be billed to whichever graded
    entry happens to run first."""
    key = spark.sparkContext.applicationId
    if key in _WARMED:
        return
    tmp = tempfile.mkdtemp(prefix="hjs_stream_warm_")
    try:
        spark.range(1).coalesce(1).write.parquet(f"{tmp}/src")
        q = (
            spark.readStream.schema("id bigint")
            .parquet(f"{tmp}/src")
            .writeStream.format("noop")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    _WARMED.add(key)


def _two_files(df: DataFrame, path: str) -> None:
    df.repartition(2).write.parquet(path)


def _staged(name: str, spark: SparkSession, sf_dir: str, table: str, write=_two_files) -> str:
    """Return a directory that ``write(df, dir)`` fills from ``table``'s
    frame (default: two round-robin parquet files), staged on first use and
    reused for the rest of the process. The copy is keyed on the (path,
    size, mtime_ns) of every file of the table, read with ``os.stat`` (no
    frame is built on a reuse), so a table rewritten in place under the
    same path is staged afresh. It is built in a scratch directory and
    renamed into place only once ``write`` returns: a failed or
    multi-write build never leaves a half-staged directory that later calls
    reuse (the rename keeps file mtimes)."""
    path = os.path.abspath(f"{sf_dir}/{table}.parquet")
    files = [path] if os.path.isfile(path) else sorted(
        os.path.join(d, f) for d, _, names in os.walk(path) for f in names
    )
    stats = [(f, st.st_size, st.st_mtime_ns) for f in files for st in [os.stat(f)]]
    tag = hashlib.md5(repr(stats).encode()).hexdigest()[:12]
    src = f"{_stage_root()}/{name}_{tag}"
    if not os.path.exists(src):
        build = f"{src}.build"
        shutil.rmtree(build, ignore_errors=True)
        write(load_table(spark, sf_dir, table), build)
        os.rename(build, src)
    return src


def _stream_over(spark: SparkSession, src: str) -> DataFrame:
    """File-source stream over a staged dir, ONE FILE PER MICRO-BATCH.
    Its schema is a driver-side footer read (zero Spark jobs; r11 — each
    ``spark.read.parquet().schema`` probe was a 1-task inference JOB
    billed to the entry), with Spark inference for any layout/type the
    footer mapping doesn't cover (``sources.tables.parquet_schema``)."""
    from hive_json_spark.sources.tables import parquet_schema

    _warm_stream_engine(spark)
    schema = parquet_schema(src)
    if schema is None:
        schema = spark.read.parquet(src).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )


def _read_table_or_empty(spark: SparkSession, path: str, schema_ddl: str) -> DataFrame:
    """Read a partitioned sink table (rollup, merge); an absent path means
    the drained stream had zero rows (the sinks skip the first write on an
    empty batch), which folds to an empty state table — not an error."""
    from pyspark.sql.utils import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException:
        return spark.createDataFrame([], schema_ddl)


def _read_state_or_empty(spark: SparkSession, path: str, schema_ddl: str) -> DataFrame:
    """The committed version of a versioned sink state (streaming/state.py);
    none committed means the drained stream had no batch, an empty table."""
    from hive_json_spark.streaming.state import read_state

    state = read_state(spark, path)
    return state if state is not None else spark.createDataFrame([], schema_ddl)


def _finalize(result: DataFrame, tmp: str) -> DataFrame:
    """Materialize the final state off the temp dir (eager localCheckpoint —
    executor-side, bounded by the state table's size) so the staging dir can
    be deleted before the caller ever acts on the frame."""
    out = result.localCheckpoint(eager=True)
    shutil.rmtree(tmp, ignore_errors=True)
    return out


# --- streaming top-k ---------------------------------------------------------

@query(
    "q_stream_topk_final",
    """
    SELECT CAST(user_id AS BIGINT) AS key, CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY user_id
    ORDER BY n DESC, key ASC LIMIT 10
    """,
    session_conf=_HARNESS_CONF,
)
def q_stream_topk_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming/topk.py run to completion over a 2-micro-batch event
    stream; returns the final top-10 view. Per-key counts are associative
    integer sums, so the final table is independent of batch slicing; the
    count-desc/key-asc tiebreak makes the k-row view totally ordered."""
    from hive_json_spark.streaming.topk import streaming_topk

    src = _staged("topk", spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="q_stream_topk_")
    q = streaming_topk(_stream_over(spark, src), "user_id", f"{tmp}/state", f"{tmp}/ckpt", k=10)
    q.awaitTermination()
    final = _read_state_or_empty(
        spark, f"{tmp}/state/topk", "key bigint, n bigint"
    ).select(F.col("key").cast("bigint").alias("key"), F.col("n").cast("bigint").alias("n"))
    return _finalize(final, tmp)


# --- streaming count-min sketch ---------------------------------------------

@query(
    "q_stream_cms_cells",
    """
    WITH depths AS (SELECT unnest([0, 1, 2, 3]) AS j)
    SELECT CAST(d.j AS INT) AS j,
           CAST(CAST('0x' || substr(md5(CAST(d.j AS VARCHAR) || ':'
                                        || CAST(e.user_id AS VARCHAR)), 1, 8)
                     AS BIGINT) % 512 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events e CROSS JOIN depths d
    GROUP BY 1, 2
    """,
    session_conf=_HARNESS_CONF,
)
def q_stream_cms_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming/cms.py run to completion over a 2-micro-batch event
    stream; returns the final 4x512 cell table. CMS cells are mergeable
    integer counts (partial sketches fold cell-wise), so the drained state
    equals the one-pass batch sketch — and the md5-arithmetic hash family
    (operators/sketch.py:_cms_bucket) lets DuckDB recompute the CELLS, not
    just the estimates."""
    from hive_json_spark.streaming.cms import streaming_cms

    src = _staged("cms", spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="q_stream_cms_")
    q = streaming_cms(_stream_over(spark, src), "user_id", f"{tmp}/state", f"{tmp}/ckpt", depth=4, width=512)
    q.awaitTermination()
    cells = _read_state_or_empty(spark, f"{tmp}/state", "j int, bucket bigint, n bigint")
    final = cells.select(
        F.col("j").cast("int").alias("j"),
        F.col("bucket").cast("bigint").alias("bucket"),
        F.col("n").cast("bigint").alias("n"),
    )
    return _finalize(final, tmp)


# --- continuous rollup -------------------------------------------------------

@query(
    "q_stream_rollup_final",
    """
    SELECT CAST(ts AS DATE) AS day, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM events GROUP BY 1, 2
    """,
    session_conf=_HARNESS_CONF,
)
def q_stream_rollup_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming/rollup.py (the hypertable continuous-aggregate pattern)
    run to completion over a 2-micro-batch event stream; returns the final
    (day, event_type) rollup. Values are summed as exact integer cents
    (functions/exact.py int_units) so the fold is order- and slice-free;
    each micro-batch read back and dynamically overwrote ONLY its touched
    day partitions — the 100 TB property this entry grades. The stage is
    TIME-RANGE sliced (events arrive roughly in order), so each batch
    touches only its own half of the days plus the boundary day — which is
    exactly the partition-pruned merge the operator exists for; round-robin
    slicing would make every batch rewrite every day."""
    from hive_json_spark.streaming.rollup import continuous_rollup

    def write_time_ranges(ev: DataFrame, path: str) -> None:
        cents = ev.select("ts", "event_type", int_units("value").alias("cents"))
        cents.repartitionByRange(2, "ts").write.parquet(path)

    src = _staged("rollup", spark, sf_dir, "events", write_time_ranges)
    tmp = tempfile.mkdtemp(prefix="q_stream_rollup_")
    q = continuous_rollup(
        _stream_over(spark, src), "ts", ["event_type"], "cents", f"{tmp}/state", f"{tmp}/ckpt"
    )
    q.awaitTermination()
    state = _read_table_or_empty(
        spark, f"{tmp}/state",
        "day date, event_type string, n bigint, total bigint, _batch_id bigint",
    )
    final = state.select(
        F.col("day").cast("date").alias("day"),
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.col("total").cast("bigint").alias("total_cents"),
    )
    return _finalize(final, tmp)


# --- streaming CDC merge (upsert/delete snapshot) ----------------------------

@query(
    "q_stream_merge_snapshot",
    """
    WITH chg AS (
      SELECT o_custkey,
             CASE WHEN o_orderkey % 7 = 0 THEN 'D' ELSE 'U' END AS op,
             o_totalprice, o_orderdate,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderkey DESC) AS rn
      FROM orders)
    SELECT o_custkey, o_totalprice, o_orderdate
    FROM chg WHERE rn = 1 AND op = 'U'
    """,
    session_conf=_HARNESS_CONF,
)
def q_stream_merge_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming/merge.py (CDC apply) run to completion over a changelog
    derived from orders: key = o_custkey, sequence = o_orderkey, every 7th
    order a delete. The changelog is staged hash-partitioned by SNAPSHOT
    BUCKET (``pmod(hash(key), 8)`` — a coarser grouping than by-key, so
    key-colocation still holds: each key's entire history arrives in one
    micro-batch and the sink's batch-local last-wins equals global
    last-wins no matter which file the source delivers first), and each
    batch therefore reads back and rewrites only ITS ~half of the bucket
    partitions — the partition-pruned apply the operator grades. Final
    snapshot = last change per key, deletes removed — exactly the oracle's
    row_number window."""
    from hive_json_spark.streaming.merge import streaming_merge_upsert

    def write_changelog(orders: DataFrame, path: str) -> None:
        changes = orders.select(
            "o_custkey",
            "o_orderkey",
            F.when(F.col("o_orderkey") % 7 == 0, F.lit("D")).otherwise(F.lit("U")).alias("op"),
            "o_totalprice",
            "o_orderdate",
        )
        changes.repartition(2, F.pmod(F.hash("o_custkey"), F.lit(8))).write.parquet(path)

    src = _staged("merge", spark, sf_dir, "orders", write_changelog)
    tmp = tempfile.mkdtemp(prefix="q_stream_merge_")
    q = streaming_merge_upsert(
        _stream_over(spark, src),
        key_col="o_custkey",
        op_col="op",
        seq_col="o_orderkey",
        payload_cols=["o_totalprice", "o_orderdate"],
        out_dir=f"{tmp}/state",
        checkpoint_dir=f"{tmp}/ckpt",
        n_buckets=8,
    )
    q.awaitTermination()
    final = _read_table_or_empty(
        spark, f"{tmp}/state",
        "o_custkey bigint, o_totalprice double, o_orderdate timestamp, bucket int",
    ).select("o_custkey", "o_totalprice", "o_orderdate")
    return _finalize(final, tmp)


# --- streaming distribution drift (PSI) --------------------------------------

@query(
    "q_stream_psi_final",
    """
    WITH ref AS (
      SELECT event_type AS category, CAST(COUNT(*) AS DOUBLE) AS n_ref
      FROM events GROUP BY 1),
    cur AS (
      SELECT event_type AS category, CAST(COUNT(*) AS DOUBLE) AS n
      FROM events WHERE event_id % 2 = 0 GROUP BY 1)
    SELECT COALESCE(r.category, c.category) AS category,
           ROUND(r.n_ref / (SELECT SUM(n_ref) FROM ref), 6) AS p_ref,
           ROUND(c.n / (SELECT SUM(n) FROM cur), 6) AS p_cur,
           ROUND((c.n / (SELECT SUM(n) FROM cur)
                  - r.n_ref / (SELECT SUM(n_ref) FROM ref))
                 * LN((c.n / (SELECT SUM(n) FROM cur))
                      / (r.n_ref / (SELECT SUM(n_ref) FROM ref))), 6) AS psi_term
    FROM ref r FULL OUTER JOIN cur c ON r.category = c.category
    """,
    session_conf=_HARNESS_CONF,
)
def q_stream_psi_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming/drift.py run to completion: the monitored stream is the
    even-event_id half of events, the reference distribution the full
    table; returns the final PSI table. Cumulative per-category counts are
    associative integer sums (slice-free); the psi terms are one final
    double formula over exact counts — the [[cross-engine-float-
    determinism]] pattern every log-based oracle here uses."""
    from hive_json_spark.streaming.drift import streaming_psi

    ev = load_table(spark, sf_dir, "events")
    src = _staged(
        "psi", spark, sf_dir, "events", lambda events, path: _two_files(events.filter(F.col("event_id") % 2 == 0), path)
    )
    tmp = tempfile.mkdtemp(prefix="q_stream_psi_")
    q = streaming_psi(_stream_over(spark, src), "event_type", ev, f"{tmp}/state", f"{tmp}/ckpt")
    q.awaitTermination()
    final = _read_state_or_empty(
        spark, f"{tmp}/state/psi",
        "category string, p_ref double, p_cur double, psi_term double",
    ).select("category", "p_ref", "p_cur", "psi_term")
    return _finalize(final, tmp)


# --- native session windows on the stream ------------------------------------

@query(
    "q_stream_session_final",
    """
    WITH seq AS (
      SELECT user_id, ts,
             CASE WHEN ts - COALESCE(LAG(ts) OVER w, ts - INTERVAL 1 HOUR)
                       >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS is_new
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sessions AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
      FROM seq)
    SELECT user_id,
           CAST(MIN(ts) AS TIMESTAMP) AS session_start,
           CAST(MAX(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sessions GROUP BY user_id, seq
    """,
    session_conf=_HARNESS_CONF,
)
def q_stream_session_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window_counts (streaming/infer_stream.py) drained over a
    TIME-SPLIT 2-batch stream with complete-mode output: per-user session
    windows maintained in the streaming state store, finalized when the
    stream drains. The oracle is the lag/gap-cumsum batch rewrite with the
    `>= gap` boundary (an event landing exactly on last+gap opens a new
    session — q_session_window_native pins the same identity for batch).

    The stage is split at the time midpoint so every batch-2 row is newer
    than the batch-1 watermark (nothing dropped); the halves get explicitly
    distinct mtimes (older half strictly older) so the file source's
    oldest-first order is pinned even when both writes land in the same
    filesystem mtime granule; complete mode re-emits the full session table
    at the end."""
    from hive_json_spark.streaming.infer_stream import session_window_counts

    def write_time_halves(ev: DataFrame, path: str) -> None:
        mid = ev.agg(
            F.timestamp_micros(
                ((F.unix_micros(F.min("ts")) + F.unix_micros(F.max("ts"))) / 2).cast("long")
            ).alias("m")
        ).first()["m"]
        ev.filter(F.col("ts") <= F.lit(mid)).coalesce(1).write.parquet(path)
        older = sorted(glob.glob(f"{path}/part-*"))
        ev.filter(F.col("ts") > F.lit(mid)).coalesce(1).write.mode("append").parquet(path)
        newer = [p for p in sorted(glob.glob(f"{path}/part-*")) if p not in set(older)]
        # pin source ordering: the watermark argument needs the older half
        # processed FIRST, and the file source orders by mtime — force the
        # halves one hour apart instead of trusting write-time granularity
        base = os.stat(newer[0]).st_mtime
        for p in older:
            os.utime(p, (base - 3600, base - 3600))
        for p in newer:
            os.utime(p, (base, base))

    src = _staged("session", spark, sf_dir, "events", write_time_halves)
    tmp = tempfile.mkdtemp(prefix="q_stream_session_")
    out = session_window_counts(_stream_over(spark, src), gap="30 minutes", watermark="1 hour")
    name = f"stream_session_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = spark.table(name).select(
        "user_id", "session_start", "session_end", F.col("n_events").cast("bigint").alias("n_events")
    )
    final = _finalize(final, tmp)
    spark.catalog.dropTempView(name)
    return final


# --- watermarked stream-stream join ------------------------------------------

@query(
    "q_stream_join_pairs",
    """
    SELECT l.user_id,
           l.event_id AS click_id,
           r.event_id AS purchase_id,
           CAST(r.ts AS TIMESTAMP) AS purchase_ts
    FROM (SELECT * FROM events WHERE event_type = 'click') l
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
      ON l.user_id = r.user_id
     AND r.ts >= l.ts
     AND r.ts <= l.ts + INTERVAL 30 MINUTE
    """,
    session_conf=_HARNESS_CONF,
)
def q_stream_join_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_stream_join (streaming/infer_stream.py) drained: clicks
    joined to purchases by the same user within 30 minutes AFTER the
    click, both sides watermarked (the state-eviction contract). Staged as
    one batch per side so no match can straddle a watermark advance — the
    drained inner join emits exactly the batch time-range join the oracle
    runs."""
    from hive_json_spark.streaming.infer_stream import stream_stream_join

    def side(name: str, event_type: str, id_alias: str, ts_alias: str) -> DataFrame:
        def write_one_file(ev: DataFrame, path: str) -> None:
            events = ev.filter(F.col("event_type") == event_type).select(
                "user_id", F.col("event_id").alias(id_alias), F.col("ts").alias(ts_alias)
            )
            events.repartition(1).write.parquet(path)

        return _stream_over(spark, _staged(name, spark, sf_dir, "events", write_one_file))

    ls = side("join_clicks", "click", "click_id", "click_ts")
    rs = side("join_purchases", "purchase", "purchase_id", "purchase_ts")
    tmp = tempfile.mkdtemp(prefix="q_stream_join_")
    joined = stream_stream_join(
        ls, rs, "user_id", "click_ts", "purchase_ts", watermark="1 hour", within="30 minutes"
    ).select("user_id", "click_id", "purchase_id", "purchase_ts")
    name = f"stream_join_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = _finalize(spark.table(name), tmp)
    spark.catalog.dropTempView(name)
    return final
