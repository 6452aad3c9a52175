"""Schema-inference + shredding as graded queries: the reference's own
surface (pickType/mergeType/shred) exercised end-to-end on the events
table's JSON column, each with a data-driven DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from hive_json_spark.infer import infer_schema_by_group, infer_schema_of_column
from hive_json_spark.registry import query
from hive_json_spark.shred import shred_column
from hive_json_spark.sources import load_table
from hive_json_spark.types import NullT, to_spark_type

# The oracle re-derives the numeric-sizing lattice for the single-key
# ``{"k": int}`` corpus: byte/short/int/long thresholds off the value range
# (JsonSchemaFinder.java:67-78) — so both engines *compute* the schema.
@query(
    "q_infer_props_schema",
    """
    SELECT 'struct<k:' || CASE
             WHEN min_k >= -128 AND max_k < 128 THEN 'tinyint'
             WHEN min_k >= -32768 AND max_k < 32768 THEN 'smallint'
             WHEN min_k >= -2147483648 AND max_k < 2147483648 THEN 'int'
             ELSE 'bigint' END || '>' AS hive_type,
           CAST(n AS BIGINT) AS records
    FROM (SELECT MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
                 MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
                 COUNT(*) AS n
          FROM events WHERE props IS NOT NULL)
    """,
)
def q_infer_props_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    result = infer_schema_of_column(events, "props")
    # literal projection over range(1) stays a JVM LocalTableScan;
    # createDataFrame([...]) would detour through the Python-RDD pickle path
    return spark.range(1).select(
        F.lit(str(result.htype or "void")).alias("hive_type"),
        F.lit(result.records).cast("bigint").alias("records"),
    )


@query(
    "q_from_json_agg",
    """
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events WHERE props IS NOT NULL
    GROUP BY event_type
    """,
)
def q_from_json_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The minimum end-to-end slice (SURVEY §7.0): infer the JSON column's
    schema with our lattice, load it with from_json, aggregate on the
    extracted field — inference → load → query in one plan."""
    events = load_table(spark, sf_dir, "events")
    htype = infer_schema_of_column(events, "props").htype
    if htype is None or isinstance(htype, NullT):
        # void schema (zero documents, or only JSON nulls): from_json
        # rejects VOID, and there is no field k — aggregate with a null
        # sum_k so the all-nulls corpus still reports its group counts
        return (
            events.filter(F.col("props").isNotNull())
            .groupBy("event_type")
            .agg(
                F.lit(None).cast("bigint").alias("sum_k"),
                F.count("*").alias("n"),
            )
        )
    schema = to_spark_type(htype)
    return (
        events.filter(F.col("props").isNotNull())
        .withColumn("parsed", F.from_json("props", schema))
        .groupBy("event_type")
        .agg(
            F.sum(F.col("parsed.k").cast("bigint")).alias("sum_k"),
            F.count("*").alias("n"),
        )
    )


@query(
    "q_shred_props",
    """
    SELECT 'root.' || k AS path,
           CAST(COUNT(*) AS BIGINT) AS n_values,
           MIN(json_extract_string(props, '$.' || k)) AS min_value,
           MAX(json_extract_string(props, '$.' || k)) AS max_value
    FROM (SELECT props, UNNEST(json_keys(props)) AS k
          FROM events WHERE props IS NOT NULL)
    GROUP BY path
    """,
)
def q_shred_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed shred (JsonShredder semantics) summarized per leaf path,
    aggregated over the column chunks without exploding them; min/max
    compare the *lexical* value strings, same as the shred files."""
    from hive_json_spark.operators.util import ensure_parallelism

    events = load_table(spark, sf_dir, "events")
    shredded = shred_column(ensure_parallelism(events.select("props")), "props")
    return shredded.groupBy("path").agg(
        F.sum(F.size("values")).cast("bigint").alias("n_values"),
        F.min(F.array_min("values")).alias("min_value"),
        F.max(F.array_max("values")).alias("max_value"),
    )


@query(
    "q_infer_schema_by_group",
    """
    SELECT event_type,
           'struct<k:' || CASE
             WHEN min_k >= -128 AND max_k < 128 THEN 'tinyint'
             WHEN min_k >= -32768 AND max_k < 32768 THEN 'smallint'
             WHEN min_k >= -2147483648 AND max_k < 2147483648 THEN 'int'
             ELSE 'bigint' END || '>' AS hive_type,
           CAST(n AS BIGINT) AS records
    FROM (SELECT event_type,
                 MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
                 MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
                 COUNT(*) AS n
          FROM events WHERE props IS NOT NULL
          GROUP BY event_type)
    """,
)
def q_infer_schema_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type schema inference — the lattice fold as a grouped
    aggregate (`infer.infer_schema_by_group`, two-level partial+final; see
    its docstring for the scale shape). The oracle re-derives the numeric
    sizing rules per group from the raw JSON, so the lattice's value-range
    typing (`JsonSchemaFinder.java:67-85`) is checked group-by-group."""
    events = load_table(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    out = infer_schema_by_group(events, "event_type", "props")
    return out.select("event_type", "hive_type", "records")


_INT_CASE = """CASE
             WHEN min_k >= -128 AND max_k < 128 THEN 'tinyint'
             WHEN min_k >= -32768 AND max_k < 32768 THEN 'smallint'
             WHEN min_k >= -2147483648 AND max_k < 2147483648 THEN 'int'
             ELSE 'bigint' END"""


def _size_case(lo: str, hi: str) -> str:
    """The lattice's integer sizing rule (JsonSchemaFinder.java:67-78) as a
    DuckDB CASE over a (min, max) column pair — the reusable core of
    _INT_CASE for oracles that size several independent ranges."""
    return f"""CASE
             WHEN {lo} >= -128 AND {hi} < 128 THEN 'tinyint'
             WHEN {lo} >= -32768 AND {hi} < 32768 THEN 'smallint'
             WHEN {lo} >= -2147483648 AND {hi} < 2147483648 THEN 'int'
             ELSE 'bigint' END"""


# T4 at DDL depth, grouped and distributed: a nested/union-heavy derived
# corpus (three deterministic document shapes per event) is inferred
# PER GROUP with the two-level partial+final fold, and the oracle rebuilds
# each group's full create-table string — union branch canonical order,
# nested struct/array indent, and THREE independently-sized integer ranges
# per group. Assumes every group holds all three shapes (true at every
# grading scale: ≥600 rows per (event_type, event_id%3) cell at sf0.01);
# an empty corpus yields zero rows on both engines.
@query(
    "q_infer_by_group_ddl",
    f"""
    WITH base AS (
      SELECT event_type, event_id, user_id,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events WHERE props IS NOT NULL),
    g AS (
      SELECT event_type,
             MIN(CASE WHEN event_id % 3 = 0 THEN k * event_id END) AS amin,
             MAX(CASE WHEN event_id % 3 = 0 THEN k * event_id END) AS amax,
             MIN(CASE WHEN event_id % 3 = 0 THEN user_id END) AS dmin,
             MAX(CASE WHEN event_id % 3 = 0 THEN user_id END) AS dmax,
             MIN(CASE WHEN event_id % 3 = 2 THEN k - 200 END) AS tmin,
             MAX(CASE WHEN event_id % 3 = 2 THEN k - 200 END) AS tmax,
             COUNT(*) AS n
      FROM base GROUP BY event_type)
    SELECT event_type,
           'create table tbl (' || chr(10)
           || '  a uniontype <' || {_size_case("amin", "amax")} || ',string>,' || chr(10)
           || '  nest struct <' || chr(10)
           || '    deep: uniontype <decimal(2,1),array <'
           || {_size_case("dmin", "dmax")} || '>>>,' || chr(10)
           || '  tags array <uniontype <' || {_size_case("tmin", "tmax")}
           || ',string>>' || chr(10)
           || ')' || chr(10) AS ddl,
           CAST(n AS BIGINT) AS records
    FROM g
    """,
)
def q_infer_by_group_ddl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped inference over a union-heavy nested corpus, graded at DDL
    depth. Each event derives one of three JSON shapes — an int+nested-
    array doc, a string+decimal doc, a mixed-type-list doc — so every
    group's merged type exercises union creation (int|string, decimal|
    array, int|string inside a list), struct nesting, and range-driven
    integer sizing on three separate value sets. The fold is
    `infer.infer_schema_by_group` (mapInPandas partials + grouped merge —
    nothing collects; shuffle carries schema-sized accumulators, not
    rows), rendered per group with `types.to_hive_ddl` (render="ddl")."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    k = F.get_json_object("props", "$.k").cast("long")
    m = F.col("event_id") % 3
    doc = (
        F.when(
            m == 0,
            F.concat(
                F.lit('{"a": '),
                (k * F.col("event_id")).cast("string"),
                F.lit(', "nest": {"deep": ['),
                F.col("user_id").cast("string"),
                F.lit("]}}"),
            ),
        )
        .when(m == 1, F.lit('{"a": "s", "nest": {"deep": 1.5}}'))
        .otherwise(
            F.concat(F.lit('{"tags": ['), (k - 200).cast("string"), F.lit(', "x"]}'))
        )
    )
    corpus = ev.select("event_type", doc.alias("doc"))
    out = infer_schema_by_group(corpus, "event_type", "doc", render="ddl")
    return out.select("event_type", F.col("hive_type").alias("ddl"), "records")


# P1/P2 render parity as a GRADED query: the oracle rebuilds the exact
# create-table string (2-space indent, trailing newline —
# JsonSchemaFinder.java:203-221) from the raw JSON's value range, so the
# renderer AND the sizing lattice are both on the hook. The oracle
# hard-codes the corpus's single-key {"k": int} props shape (TESTDATA.md);
# a corpus with other keys needs a different oracle, not a laxer one. The
# n = 0 branch mirrors the query's empty-corpus 'void' sentinel — min/max
# are NULL there, and the CASE would otherwise fall through to a full
# bigint DDL the query never emits.
@query(
    "q_render_ddl",
    f"""
    SELECT CASE WHEN n = 0 THEN 'void' || chr(10)
           ELSE 'create table tbl (' || chr(10) || '  k ' || {_INT_CASE}
                || chr(10) || ')' || chr(10) END AS ddl,
           CAST(n AS BIGINT) AS records
    FROM (SELECT MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
                 MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
                 COUNT(*) AS n
          FROM events WHERE props IS NOT NULL)
    """,
)
def q_render_ddl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDL render (printTopType parity) of the inferred props schema as a
    driver-gradeable string — closes the SURVEY §2 P1/P2 'library path'
    gap: the golden-string pytest pins the renderer shape, this entry
    lets the DuckDB gate re-derive the whole string from data."""
    from hive_json_spark.types import StructT, to_hive_ddl

    events = load_table(spark, sf_dir, "events")
    result = infer_schema_of_column(events, "props")
    # zero documents → no struct to render (the reference's CLI would have
    # nothing to print); emit 'void' instead of crashing the empty path
    ddl = (
        to_hive_ddl(result.htype)
        if isinstance(result.htype, StructT)
        else "void\n"
    )
    return spark.range(1).select(
        F.lit(ddl).alias("ddl"),
        F.lit(result.records).cast("bigint").alias("records"),
    )


# P3 flat render (printFlat parity): one row per flat line, ordered.
# Same single-key corpus assumption and empty-corpus mirror as
# q_render_ddl: zero documents → zero flat lines on both engines.
@query(
    "q_flat_render",
    f"""
    SELECT CAST(0 AS BIGINT) AS line_no,
           'root.k: ' || {_INT_CASE} AS flat_line
    FROM (SELECT MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
                 MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
                 COUNT(*) AS n
          FROM events WHERE props IS NOT NULL)
    WHERE n > 0
    """,
)
def q_flat_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat dotted-path render (printFlat parity, `types.to_flat`) of the
    inferred props schema, one graded row per line."""
    from hive_json_spark.types import to_flat

    events = load_table(spark, sf_dir, "events")
    result = infer_schema_of_column(events, "props")
    lines = to_flat(result.htype).splitlines() if result.htype is not None else []
    return spark.range(1).select(
        F.posexplode(F.array(*[F.lit(l) for l in lines])).alias("line_no", "flat_line")
    ).select(F.col("line_no").cast("bigint").alias("line_no"), "flat_line")


# S2/S3/S4 as a GRADED query: whole-file gz scan of CONCATENATED (no
# separator) JSON docs across multiple files, folded with the lattice —
# the reference's find-json-schema file path (JsonSchemaFinder.java:234-242)
# end-to-end. Bounded harness: the corpus is a fixed ≤2000-doc prefix
# (event_id < 2000 — constant at every sf), so the driver-side gz write is
# constant-sized at any corpus scale; the library path itself
# (infer_schema ndjson=False) reads one row per file and runs the same Arrow
# fold as every column inference.
@query(
    "q_infer_props_schema_gz",
    """
    SELECT 'struct<k:' || CASE
             WHEN min_k >= -128 AND max_k < 128 THEN 'tinyint'
             WHEN min_k >= -32768 AND max_k < 32768 THEN 'smallint'
             WHEN min_k >= -2147483648 AND max_k < 2147483648 THEN 'int'
             ELSE 'bigint' END || '>' AS hive_type,
           CAST(n AS BIGINT) AS records
    FROM (SELECT MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
                 MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
                 COUNT(*) AS n
          FROM events WHERE props IS NOT NULL AND event_id < 2000)
    """,
)
def q_infer_props_schema_gz(spark: SparkSession, sf_dir: str) -> DataFrame:
    import gzip
    import os
    import shutil
    import tempfile

    from hive_json_spark.infer import infer_schema

    events = load_table(spark, sf_dir, "events")
    docs = [
        r["props"]
        for r in events.filter(
            (F.col("event_id") < 2000) & F.col("props").isNotNull()
        )
        .select("event_id", "props")
        .orderBy("event_id")
        .collect()  # bounded: < 2000 rows by the filter, at every sf
    ]
    tmp = tempfile.mkdtemp(prefix="hjs_gz_")
    try:
        paths = []
        for i in range(4):
            p = os.path.join(tmp, f"part{i}.json.gz")
            # "".join — concatenated documents, NO separator (S3 contract)
            with gzip.open(p, "wt", encoding="utf-8") as f:
                f.write("".join(docs[i::4]))
            paths.append(p)
        result = infer_schema(spark, paths, ndjson=False)
        return spark.range(1).select(
            F.lit(str(result.htype or "void")).alias("hive_type"),
            F.lit(result.records).cast("bigint").alias("records"),
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# Schema DRIFT: the lattice as a day-over-day monitor. A derived corpus
# plants all three drift modes a production JSON feed exhibits — a field
# whose integer RANGE widens past a sizing boundary (root.a: k scaled by
# the day index crosses the tinyint/smallint line), a field that first
# APPEARS mid-series (root.b from day index 15), and a transient field
# that appears AND disappears (root.c, boolean, day indexes 5-9 — so the
# 'removed' branch fires too, not just in theory). Per-(event_type, day)
# schemas come from the real two-level lattice fold rendered flat
# (printFlat parity); the drift table is the windowed diff of consecutive
# OBSERVED days. The oracle re-derives the same per-cell flat schema from
# the sizing rules (JsonSchemaFinder.java:67-78) and closes the same
# lag/full-outer diff — both engines COMPUTE the drift, neither hardcodes
# it. Sparse (event_type, day) cells whose max k is small legitimately
# flap tinyint<->smallint across days; both engines see identical cells.
@query(
    "q_schema_drift",
    f"""
    WITH base AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events
      WHERE props IS NOT NULL
        AND json_extract_string(props, '$.k') IS NOT NULL),
    d0 AS (SELECT MIN(day) AS d0 FROM base),
    b2 AS (SELECT event_type, day, k,
                  date_diff('day', d0.d0, day) AS di
           FROM base, d0),
    acell AS (
      SELECT event_type, day,
             MIN((k - k % 25) * (di + 1)) AS amin,
             MAX((k - k % 25) * (di + 1)) AS amax,
             MAX(CASE WHEN di >= 15 THEN 1 ELSE 0 END) AS has_b,
             MAX(CASE WHEN di >= 5 AND di < 10 THEN 1 ELSE 0 END) AS has_c
      FROM b2 GROUP BY event_type, day),
    cells AS (
      SELECT event_type, day, 'root.a' AS path,
             {_size_case("amin", "amax")} AS dtype
      FROM acell
      UNION ALL
      SELECT event_type, day, 'root.b', 'string' FROM acell WHERE has_b = 1
      UNION ALL
      SELECT event_type, day, 'root.c', 'boolean' FROM acell WHERE has_c = 1),
    days AS (SELECT DISTINCT event_type, day FROM cells),
    seqn AS (
      SELECT * FROM (
        SELECT event_type, day,
               LAG(day) OVER (PARTITION BY event_type ORDER BY day) AS prev_day
        FROM days)
      WHERE prev_day IS NOT NULL),
    cur AS (SELECT s.event_type, s.day, c.path, c.dtype AS new_type
            FROM seqn s JOIN cells c
              ON c.event_type = s.event_type AND c.day = s.day),
    prv AS (SELECT s.event_type, s.day, c.path, c.dtype AS prev_type
            FROM seqn s JOIN cells c
              ON c.event_type = s.event_type AND c.day = s.prev_day)
    SELECT COALESCE(cur.event_type, prv.event_type) AS event_type,
           COALESCE(cur.day, prv.day) AS day,
           COALESCE(cur.path, prv.path) AS path,
           CASE WHEN prv.path IS NULL THEN 'added'
                WHEN cur.path IS NULL THEN 'removed'
                ELSE 'type_changed' END AS status,
           prv.prev_type AS prev_type,
           cur.new_type AS new_type
    FROM cur FULL JOIN prv
      ON cur.event_type = prv.event_type AND cur.day = prv.day
     AND cur.path = prv.path
    WHERE prv.path IS NULL OR cur.path IS NULL
       OR cur.new_type <> prv.prev_type
    """,
)
def q_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day schema drift from the REAL lattice fold: per-(event_type,
    day) inference via ``infer_schema_by_group`` (mapInPandas partials +
    grouped merge — shuffle carries schema-sized accumulators, never rows)
    rendered ``flat``, exploded to (cell, path, leaf-type) rows, then
    diffed against each event type's previous observed day with one lag
    window + one full-outer join on the schema-sized frame. Emits only
    added / removed / type_changed rows — the sparse alert table a feed
    monitor tails.

    Scale shape: the corpus pass is the linear inference fold (the 100 TB
    cost); everything after operates on #cells x #paths rows (days x
    event types x leaves — thousands at any corpus size), so the window
    and the full-outer diff are metadata-sized. The day-0 anchor is a
    1-row broadcast. At 100 TB the fold is the same two-level partial
    tree the grouped-inference query audits; drift adds no corpus-sized
    shuffle.
    """
    from hive_json_spark.functions.caching import scoped_persist
    from hive_json_spark.operators.util import ensure_parallelism

    # Spread the RAW props through one round-robin exchange BEFORE the
    # JSON parse, and parse once into a scoped persist (r11): events ships
    # as one row group at the bench SFs, so the get_json_object filter ran
    # single-task — and TWICE, because the d0 broadcast build and the fold
    # feed are separate subtrees (three ~0.3-0.7 s 1-task jobs measured
    # per-job at sf0.1). Post-change both consumers read the 3-column
    # parsed cache; the parse runs 32-way exactly once. No-op exchange on
    # many-row-group production inputs (ensure_parallelism contract).
    raw = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("props").isNotNull())
        .select("event_type", "ts", "props")
    )
    k = F.get_json_object("props", "$.k").cast("long")
    ev = scoped_persist(
        ensure_parallelism(raw)
        .filter(k.isNotNull())
        .select("event_type", F.to_date("ts").alias("day"), k.alias("k"))
    )
    d0 = ev.agg(F.min("day").alias("d0"))
    di = F.datediff("day", "d0")
    # k quantized to 25s: the drift table only depends on each cell's
    # VALUE RANGE (sizing) and field presence, so collapsing k to 4
    # levels keeps every planted transition (max level 75 crosses the
    # tinyint/smallint line at day index 1) while shrinking the distinct
    # (cell, doc) set the fold parses to <=4 per cell
    kq = F.col("k") - F.col("k") % 25
    doc = F.concat(
        F.lit('{"a": '),
        (kq * (di + 1)).cast("string"),
        F.when(di >= 15, F.lit(', "b": "s"')).otherwise(F.lit("")),
        F.when((di >= 5) & (di < 10), F.lit(', "c": true')).otherwise(F.lit("")),
        F.lit("}"),
    )
    corpus = ev.crossJoin(F.broadcast(d0)).select(
        F.concat_ws("\x01", "event_type", F.col("day").cast("string")).alias("grp"),
        doc.alias("doc"),
    )
    flat = infer_schema_by_group(corpus, "grp", "doc", render="flat")
    # single consumer since the r9 one-pass diff below — no persist needed
    # (the r8 version cached this for its three consumers)
    cells = (
        flat.select("grp", F.explode(F.split(F.rtrim("hive_type"), "\n")).alias("line"))
        .filter(F.col("line") != "")
        .select(
            F.split_part("grp", F.lit("\x01"), F.lit(1)).alias("event_type"),
            F.to_date(F.split_part("grp", F.lit("\x01"), F.lit(2))).alias("day"),
            F.split_part("line", F.lit(": "), F.lit(1)).alias("path"),
            F.split_part("line", F.lit(": "), F.lit(2)).alias("dtype"),
        )
    )
    from pyspark.sql import Window

    # Close the day-over-day diff in ONE pass over cells (r9 exchange
    # trim, was: three cells consumers — days-distinct + two joins against
    # the lag'd day sequence + a full-outer join = 14 static exchanges for
    # a metadata-sized diff; the cached fold subtree re-printed per
    # consumer). Two range-frame aggregates over the same (event_type,
    # day-ordered) window spec give each row its event type's next and
    # previous OBSERVED day without collapsing to a distinct-days frame
    # (duplicate days per path make lag/lead wrong, range frames not);
    # each row then emits its diff contributions — itself on its own day
    # when a predecessor exists (cur side), itself shifted to the next
    # observed day when one exists (prev side) — and a single groupBy
    # pairs the sides per (event_type, day, path): each side contributes
    # at most one row per group, so max() just selects the non-null
    # partner.
    di = F.datediff("day", F.lit("1970-01-01"))
    w = Window.partitionBy("event_type").orderBy(di)
    far = 1 << 30
    nxt_i = F.min(di).over(w.rangeBetween(1, far))
    prv_i = F.max(di).over(w.rangeBetween(-far, -1))
    null_s = F.lit(None).cast("string")
    tagged = cells.select(
        "event_type",
        "day",
        "path",
        "dtype",
        nxt_i.alias("_ni"),
        prv_i.alias("_pi"),
    )
    emit = F.array_compact(
        F.array(
            F.when(
                F.col("_pi").isNotNull(),
                F.struct(
                    F.col("day").alias("day"),
                    F.col("dtype").alias("new_type"),
                    null_s.alias("prev_type"),
                ),
            ),
            F.when(
                F.col("_ni").isNotNull(),
                F.struct(
                    F.date_add(F.lit("1970-01-01"), F.col("_ni")).alias("day"),
                    null_s.alias("new_type"),
                    F.col("dtype").alias("prev_type"),
                ),
            ),
        )
    )
    diff = (
        tagged.select("event_type", "path", F.explode(emit).alias("e"))
        .select(
            "event_type",
            F.col("e.day").alias("day"),
            "path",
            F.col("e.new_type").alias("new_type"),
            F.col("e.prev_type").alias("prev_type"),
        )
        .groupBy("event_type", "day", "path")
        .agg(
            F.max("new_type").alias("new_type"),
            F.max("prev_type").alias("prev_type"),
        )
    )
    return diff.withColumn(
        "status",
        F.when(F.col("prev_type").isNull(), F.lit("added"))
        .when(F.col("new_type").isNull(), F.lit("removed"))
        .otherwise(F.lit("type_changed")),
    ).filter(
        F.col("prev_type").isNull()
        | F.col("new_type").isNull()
        | (F.col("new_type") != F.col("prev_type"))
    ).select("event_type", "day", "path", "status", "prev_type", "new_type")
