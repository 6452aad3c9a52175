"""Scale-infrastructure queries: the physical-layout and skew techniques a
100 TB deployment leans on, each proven correctness-preserving against a
plain-SQL DuckDB oracle.

The point of this module: techniques like key salting, bucketed co-located
joins, two-phase heavy hitters, and z-order clustering change the PHYSICAL
plan (where rows live, what shuffles) without changing the LOGICAL result —
so each query here computes its answer through the scale technique while the
oracle computes it the naive way, and the hash-match proves the rewrite is
semantics-preserving. (The reference engine has no distribution at all —
`JsonSchemaFinder.java:227-247` is a single-threaded loop — so this entire
surface is "absent from reference" per SURVEY.md §2's second table.)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from hive_json_spark.functions.exact import sql_sum_exact, sum_exact
from hive_json_spark.functions.text import tokens
from hive_json_spark.registry import query
from hive_json_spark.sources import load_table

# --- skew-salted join --------------------------------------------------------

@query(
    "q_salted_join",
    f"""
    SELECT s.s_name,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {sql_sum_exact("l.l_extendedprice * (1 - l.l_discount)", "revenue")}
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_name
    """,
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier revenue through a SALTED join — the hot-key mitigation.

    The skewed fact side gets a uniform salt in [0, 8); the supplier side is
    replicated 8x and the join key becomes (suppkey, salt), so one celebrity
    supplier spreads over 8 tasks instead of melting one executor. Salting
    repartitions WORK, not RESULTS: every fact row still meets exactly one
    replica of its supplier row, so the aggregate is identical to the
    plain join the oracle runs — which is exactly what this query proves.

    100 TB: use when one key dominates past what AQE's skew-join split
    handles (power-law fan-in, null-heavy FKs). Cost = replicating the
    small side n_salts x; pair with broadcast when it fits. Revenue uses
    the integer-cents rule (SCALE.md) so the sum is summation-order-free
    across partitionings — salted and plain plans hash identically.
    """
    from hive_json_spark.operators.relational import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("suppkey"), "l_extendedprice", "l_discount"
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("suppkey"), "s_name"
    )
    joined = salted_join(li, sup, ["suppkey"], n_salts=8)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.groupBy("s_name").agg(
        F.count("*").alias("n_items"),
        sum_exact(rev).alias("revenue"),
    )


# --- bucketed co-located join ------------------------------------------------

_WAREHOUSE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "_warehouse"
)
N_BUCKETS = 8


def _reap_dead_warehouse_dirs() -> None:
    """Delete bucketed-table copies left by processes that no longer exist,
    so repeated bench/driver runs don't accumulate dead copies on disk.
    Live processes' dirs are never touched (that's the concurrency story
    the per-pid path exists for)."""
    import shutil

    try:
        entries = os.listdir(_WAREHOUSE)
    except FileNotFoundError:
        return
    for entry in entries:
        pid_str = entry.rsplit("_", 1)[-1]
        if not pid_str.isdigit() or int(pid_str) == os.getpid():
            continue
        try:
            os.kill(int(pid_str), 0)  # probe only; signal 0 delivers nothing
        except ProcessLookupError:
            shutil.rmtree(os.path.join(_WAREHOUSE, entry), ignore_errors=True)
        except PermissionError:
            pass  # pid exists but isn't ours — leave it alone


def bucketed_table(spark: SparkSession, sf_dir: str, table: str, key: str) -> DataFrame:
    """Materialize ``table`` bucketed+sorted by ``key`` (once per session/sf)
    and return it AS A CATALOG SCAN — reading via the table name is what
    carries the bucketing metadata that lets the join planner drop the
    Exchange. Idempotent per session: the write happens only on first use.
    """
    sf_tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    name = f"{table}_b_{sf_tag}"
    if not spark.catalog.tableExists(name):
        _reap_dead_warehouse_dirs()
        # per-process path: two concurrent sessions (driver + bench + tests)
        # each write their own copy instead of racing an overwrite of one
        path = os.path.join(_WAREHOUSE, f"{sf_tag}_{os.getpid()}", name)
        (
            load_table(spark, sf_dir, table)
            .write.bucketBy(N_BUCKETS, key)
            .sortBy(key)
            .option("path", path)
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(name)
        )
    return spark.table(name)


@query(
    "q_bucketed_join",
    f"""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {sql_sum_exact("l.l_extendedprice * (1 - l.l_discount)", "revenue")}
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by order priority through a BUCKETED co-located join.

    Both sides are written once with ``bucketBy(8, orderkey).sortBy``, so
    rows with the same key already live in the same bucket file — the
    sort-merge join runs with NO Exchange on either side (pinned by
    tests/test_scale_queries.py, which asserts the join subtree is
    exchange-free). The oracle joins the raw parquet the naive way;
    hash-match proves bucket layout changes nothing logical.

    100 TB: bucketing is THE amortization story for fact-to-fact joins —
    pay one layout shuffle at ingest, then every subsequent join/groupBy on
    the bucket key is shuffle-free. AQE cannot synthesize this; it is a
    write-time decision. Bucket count scales with the cluster (e.g. 4096
    at 1000 executors); 8 matches local test scale.
    """
    orders = bucketed_table(spark, sf_dir, "orders", "o_orderkey")
    li = bucketed_table(spark, sf_dir, "lineitem", "l_orderkey")
    # hint("merge"): pin the sort-merge strategy the bucketing pays off for.
    # At graded/test SFs the orders side fits the broadcast threshold and the
    # planner would (rightly) broadcast — but fact-to-fact at 100 TB cannot
    # broadcast, and the plan this query exists to demonstrate is the
    # exchange-free bucketed SMJ.
    joined = orders.hint("merge").join(li, orders.o_orderkey == li.l_orderkey)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_items"),
        sum_exact(rev).alias("revenue"),
    )


# --- two-phase exact heavy hitters -------------------------------------------

HH_FREQ = 0.0345  # corpus-frequency threshold for "heavy"

@query(
    "q_heavy_hitters",
    f"""
    WITH tok AS (
      SELECT unnest(list_filter(string_split_regex(text, '\\s+'), x -> x != ''))
               AS token
      FROM documents),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM tok)
    SELECT token,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST((COUNT(*) * 1000000) // (SELECT n_total FROM tot) AS BIGINT)
             AS freq_ppm
    FROM tok GROUP BY token
    HAVING COUNT(*) >= CEIL({HH_FREQ} * (SELECT n_total FROM tot))
    """,
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide heavy-hitter tokens (count >= 3.45% of all tokens) via the
    TWO-PHASE candidate/verify pattern — exact results without shuffling the
    full vocabulary.

    Phase 1 (candidates): one Arrow-batched pass counts tokens per
    partition and keeps only locally-heavy ones (local count >=
    floor(s/P)). Any token with global count >= s must reach ceil(s/P) in
    at least one of P partitions (pigeonhole: if every partition held <
    ceil(s/P), the total would be <= s-1), so the candidate set is a
    guaranteed superset — never a recall loss. Phase 2 (verify): the small
    candidate list broadcasts, the token stream semi-joins it, and only
    candidate tokens are exactly counted and thresholded. Equals the
    oracle's full GROUP BY ... HAVING by construction.

    100 TB: a naive token groupBy shuffles the whole vocabulary (billions
    of distinct shingles); here the shuffle carries candidate tokens only.
    freq_ppm is integer division of exact longs — order-free.
    """
    from hive_json_spark.operators.sketch import heavy_hitters

    docs = load_table(spark, sf_dir, "documents")
    return heavy_hitters(docs, "text", freq_threshold=HH_FREQ)


@query(
    "q_cms_topk",
    """
    WITH depths AS (SELECT unnest([0, 1, 2, 3]) AS j),
    cell AS (
      SELECT d.j,
             CAST('0x' || substr(md5(CAST(d.j AS VARCHAR) || ':'
                                     || CAST(e.user_id AS VARCHAR)), 1, 8)
                  AS BIGINT) % 512 AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events e CROSS JOIN depths d
      GROUP BY 1, 2),
    top AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n
      FROM events GROUP BY user_id
      ORDER BY exact_n DESC, user_id LIMIT 10),
    probe AS (
      SELECT t.user_id, t.exact_n, d.j,
             CAST('0x' || substr(md5(CAST(d.j AS VARCHAR) || ':'
                                     || CAST(t.user_id AS VARCHAR)), 1, 8)
                  AS BIGINT) % 512 AS bucket
      FROM top t CROSS JOIN depths d)
    SELECT p.user_id, p.exact_n,
           CAST(MIN(c.n) AS BIGINT) AS cms_n,
           CAST(MIN(c.n) - p.exact_n AS BIGINT) AS overcount
    FROM probe p JOIN cell c ON p.j = c.j AND p.bucket = c.bucket
    GROUP BY p.user_id, p.exact_n
    """,
)
def q_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch audit: build a 4x512 CMS over the event stream's
    user ids, point-query it for the exact top-10 users, and report the
    estimate next to the truth (overcount >= 0 always — CMS never
    undercounts). The md5-arithmetic hash family makes the sketch CELLS
    engine-deterministic, so unlike native approx sketches this one is
    fully DuckDB-oracled, hash check included.

    Scale shape: the sketch build is one combinable groupBy over an
    explode(depth) — shuffle carries <= partitions x 2048 partial cells,
    never user ids; the probe joins the broadcast 2048-row sketch. This
    is the bounded-memory path when even q_heavy_hitters' candidate set
    outgrows memory: sketch size is a CONSTANT, mergeable across shards
    and days (cells sum), at the price of a quantified overcount.
    """
    from hive_json_spark.functions.caching import scoped_persist
    from hive_json_spark.operators.sketch import cms_estimate, count_min_sketch

    ev = load_table(spark, sf_dir, "events")
    sketch = count_min_sketch(ev, "user_id", depth=4, width=512)
    # the exact top-10 feeds the probe AND the final join: persist the
    # 10-row frame so its corpus groupBy runs once
    top = scoped_persist(
        ev.groupBy("user_id")
        .agg(F.count("*").alias("exact_n"))
        .orderBy(F.desc("exact_n"), "user_id")
        .limit(10)
    )
    est = cms_estimate(sketch, top, "user_id", depth=4, width=512)
    return top.join(est, "user_id").select(
        "user_id",
        "exact_n",
        "cms_n",
        (F.col("cms_n") - F.col("exact_n")).cast("bigint").alias("overcount"),
    )


# --- per-document token entropy ----------------------------------------------

@query(
    "q_token_entropy",
    """
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(text, '\\s+'), x -> x != ''))
               AS token
      FROM documents),
    cnt AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS c
            FROM tok GROUP BY doc_id, token),
    tot AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY doc_id),
    terms AS (
      SELECT cnt.doc_id, tot.n,
             CAST(ROUND(1000000 * (cnt.c / CAST(tot.n AS DOUBLE))
                        * ln(cnt.c / CAST(tot.n AS DOUBLE))) AS BIGINT) AS t
      FROM cnt JOIN tot USING (doc_id))
    SELECT doc_id,
           CAST(ANY_VALUE(n) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS distinct_tokens,
           ROUND(-SUM(t) / 1000000.0, 6) AS token_entropy
    FROM terms GROUP BY doc_id
    """,
)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the unigram token distribution — the
    classic corpus-quality signal (gibberish and templated boilerplate sit
    at opposite entropy extremes; pipelines band-pass filter on it).

    Determinism note (the q11 lesson, SCALE.md): entropy is a SUM of double
    terms p*ln(p), which would be summation-order-dependent across engines.
    Each term is therefore rounded to integer micro-nats PER ROW (identical
    IEEE double -> identical long on both engines; sub-ulp libm differences
    in ln() vanish at the 1e-6 grid) and summed as exact longs — the same
    integer-unit rule the money aggregates use, applied to information.

    Scale shape: explode to (doc, token), two key-partitioned aggs, one
    join back on doc_id — all partial-aggregable, nothing quadratic; at
    100 TB this is the same shape as TF-IDF (already in the registry).
    """
    from hive_json_spark.operators.util import ensure_parallelism

    # spread before the tokenize+explode (r11): documents is one row group
    # at the bench SFs, so the map side ran as ONE task (0.35 s per-job
    # probe); no-op exchange on many-row-group inputs
    docs = ensure_parallelism(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("token"))
    cnt = tok.groupBy("doc_id", "token").agg(F.count("*").alias("c"))
    tot = cnt.groupBy("doc_id").agg(F.sum("c").cast("bigint").alias("n"))
    p = F.col("c") / F.col("n").cast("double")
    term = F.round(F.lit(1000000) * p * F.log(p)).cast("bigint")
    terms = cnt.join(tot, "doc_id").select("doc_id", "n", term.alias("t"))
    return terms.groupBy("doc_id").agg(
        F.any_value("n").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("distinct_tokens"),
        F.round(-F.sum("t") / F.lit(1000000.0), 6).alias("token_entropy"),
    )


# --- z-order clustering layout -----------------------------------------------

Z_BITS = 10  # quantization bits per dimension
Z_GROUPS = 16  # file groups the layout is split into


def _z_expr(qx: str, qy: str, dialect: str) -> str:
    """Morton/z-value bit-interleave expression text for one dialect:
    z = sum_i (bit_i(qx) << 2i) + (bit_i(qy) << 2i+1). Terms occupy
    disjoint bits, so + is |, and a flat sum parses identically in both
    engines (DuckDB shift operators; Spark shiftleft/shiftright)."""
    terms = []
    for i in range(Z_BITS):
        if dialect == "duck":
            terms.append(f"((({qx} >> {i}) & 1) << {2 * i})")
            terms.append(f"((({qy} >> {i}) & 1) << {2 * i + 1})")
        else:
            terms.append(f"shiftleft(shiftright({qx}, {i}) & 1, {2 * i})")
            terms.append(f"shiftleft(shiftright({qy}, {i}) & 1, {2 * i + 1})")
    return " + ".join(terms)


_Z_CELLS = 2**Z_BITS  # quantization cells per dimension
_QX = f"CAST(((l_partkey - min_pk) * {_Z_CELLS}) {{div}} (max_pk - min_pk + 1) AS BIGINT)"
_QY = f"CAST(((l_suppkey - min_sk) * {_Z_CELLS}) {{div}} (max_sk - min_sk + 1) AS BIGINT)"


@query(
    "q_zorder_layout",
    f"""
    WITH bounds AS (
      SELECT MIN(l_partkey) AS min_pk, MAX(l_partkey) AS max_pk,
             MIN(l_suppkey) AS min_sk, MAX(l_suppkey) AS max_sk
      FROM lineitem),
    q AS (
      SELECT l_orderkey, l_linenumber,
             {_QX.format(div='//')} AS qx,
             {_QY.format(div='//')} AS qy
      FROM lineitem, bounds),
    z AS (
      SELECT qx, qy,
             NTILE({Z_GROUPS}) OVER (
               ORDER BY {_z_expr('qx', 'qy', 'duck')}, l_orderkey, l_linenumber
             ) AS file_group
      FROM q)
    SELECT CAST(file_group AS BIGINT) AS file_group,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(qx) AS BIGINT) AS min_qx, CAST(MAX(qx) AS BIGINT) AS max_qx,
           CAST(MIN(qy) AS BIGINT) AS min_qy, CAST(MAX(qy) AS BIGINT) AS max_qy
    FROM z GROUP BY file_group
    """,
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) clustering layout for two-dimensional data
    skipping: quantize (l_partkey, l_suppkey) to 10 bits each, interleave
    the bits into a z-value, split the z-sorted corpus into 16 file groups,
    and report each group's bounding box in BOTH dimensions.

    Why this is the layout you want at 100 TB: a single-column sort gives
    perfect min/max pruning on one predicate column and none on the other;
    z-ordering gives useful pruning on both (each file group's qx AND qy
    ranges are narrow), which is how lakehouse OPTIMIZE ZORDER BY earns its
    keep for multi-dimensional point/range scans. The emitted bounding
    boxes ARE the skipping index a scan would consult.

    Physical note — distributed exact NTILE via boundary cells: a naive
    ``Window.orderBy(z)`` funnels the whole table through ONE task (the
    classic global-window scale-killer). Instead, per-z-cell counts roll
    up map-side and a prefix sum runs over the DISTINCT z domain
    (bounded: at most 2^20 cells no matter how many rows). A cell
    occupies global ranks [prefix+1, prefix+count], so its bucket span
    is closed-form integer math on broadcast scalars — and at most
    Z_GROUPS-1 cells straddle a bucket boundary. Non-straddling cells
    (all but ~15) fold into the answer as whole cells with NO row-level
    work; only boundary-cell rows take the per-cell tiebreak window,
    reached through a broadcast semi-join that prunes the rescan. Row
    volume through the window: O(rows in ≤15 cells). The oracle keeps
    the one-line NTILE the decomposition must equal. Production writes
    skip ranks entirely: ``repartitionByRange(16, z)`` +
    sortWithinPartitions. The z-value math (integer quantize + bit
    interleave) is identical expression text in both engines — exact
    integer ops, no float anywhere.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # the 4 quantization bounds are an O(1) scalar collect (parquet
    # min/max stats make this scan cheap). Inlining them as LITERALS —
    # instead of a crossJoin(broadcast(bounds)) — keeps every downstream
    # qx/qy/zval expression a pure function of base columns, so filters
    # on them stay in whole-stage codegen and can reach the parquet scan
    # (with a frame-valued bounds the optimizer folds such filters into a
    # BroadcastNestedLoopJoin condition, re-evaluating the 40-term
    # z-expression per row OUTSIDE codegen — measured 4-5 s at sf0.1).
    # r10: count(*) rides the same stats-only job — the NTILE scalars
    # (base/rem) are pure functions of the total row count, so computing
    # it here deletes the separate post-checkpoint scalar-agg job the
    # old plan paid (total == sum(zn) by construction: every row lands
    # in exactly one z-cell)
    b = li.agg(
        F.min("l_partkey").alias("min_pk"),
        F.max("l_partkey").alias("max_pk"),
        F.min("l_suppkey").alias("min_sk"),
        F.max("l_suppkey").alias("max_sk"),
        F.count("*").alias("total"),
    ).first()
    if b["min_pk"] is None:  # empty table → empty layout
        return spark.createDataFrame(
            [],
            "file_group bigint, n_rows bigint, min_qx bigint, max_qx bigint, "
            "min_qy bigint, max_qy bigint",
        )
    min_pk, max_pk, min_sk, max_sk = b["min_pk"], b["max_pk"], b["min_sk"], b["max_sk"]
    pk_range, sk_range = max_pk - min_pk + 1, max_sk - min_sk + 1
    qx_lit = f"CAST(((l_partkey - {min_pk}) * {_Z_CELLS}) div {pk_range} AS BIGINT)"
    qy_lit = f"CAST(((l_suppkey - {min_sk}) * {_Z_CELLS}) div {sk_range} AS BIGINT)"
    q = li.selectExpr(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        f"{qx_lit} AS qx",
        f"{qy_lit} AS qy",
    ).withColumn("zval", F.expr(_z_expr("qx", "qy", "spark")))
    # per-cell counts + prefix sum over the bounded distinct-z domain
    # (zval ↔ (qx,qy) is a bijection, so qx/qy ride along the groupBy).
    # localCheckpoint: this is the ONLY data-proportional computation; its
    # output is ≤2^20 rows whatever the input size, and four downstream
    # consumers (local prefix, chunk offsets, NTILE scalars, the cell
    # frame) would each re-inline the scan+shuffle pipeline without it.
    zcells = (
        q.groupBy("zval", "qx", "qy").agg(F.count("*").alias("zn")).localCheckpoint()
    )
    # two-level prefix sum: a single Window.orderBy(zval) over the distinct
    # domain would run in ONE task (up to 2^20 cells). Split the domain by
    # zval>>8 (monotone, so range-contiguous): local prefixes run parallel
    # per chunk, and only the ≤4096-row chunk-total frame takes a global
    # window before broadcasting back as offsets.
    chunked = zcells.withColumn("chunk", F.shiftright("zval", 8))
    wlocal = (
        Window.partitionBy("chunk")
        .orderBy("zval")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = chunked.withColumn(
        "local_before", F.coalesce(F.sum("zn").over(wlocal), F.lit(0))
    )
    wchunk = Window.orderBy("chunk").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        chunked.groupBy("chunk")
        .agg(F.sum("zn").alias("chunk_n"))
        .withColumn("chunk_before", F.coalesce(F.sum("chunk_n").over(wchunk), F.lit(0)))
        .select("chunk", "chunk_before")
    )
    prefix = local.join(F.broadcast(offsets), "chunk").withColumn(
        "before", F.col("chunk_before") + F.col("local_before")
    )
    # NTILE scalars: pure integer functions of the total row count,
    # which arrived with the bounds job (r10 — this used to be its own
    # scalar-agg job over the checkpointed cell frame). Literal scalars
    # keep ONE closed-form bucket function for both the whole-cell spans
    # and the straddle-row ranks — two column/literal twins of the same
    # math would have to be kept in sync byte-for-byte.
    total = b["total"]
    base, rem = total // Z_GROUPS, total % Z_GROUPS
    big = rem * (base + 1)

    # NTILE semantics: first `rem` buckets get base+1 rows, the rest base.
    def bucket_of_lit(r):
        if base == 0:  # fewer rows than groups: every rank sits in a big bucket
            return (r - 1).cast("long") + 1
        return (
            F.when(r <= big, (r - 1) / (base + 1))
            .otherwise(rem + (r - big - 1) / base)
            .cast("long")
            + 1
        )

    # A z-cell occupies global ranks [before+1, before+zn]. At most
    # Z_GROUPS-1 cells straddle an NTILE boundary — every other cell maps
    # WHOLESALE to one bucket, so the per-row tiebreak window and the
    # row-level cell join run over ~15 cells' rows, not the whole table.
    #
    # localCheckpoint: `cells` feeds two consumers (the whole-cell agg and
    # the straddle list); without materialization Catalyst inlines the
    # scan+shuffle+window pipeline once PER consumer (measured: a
    # ~160-node plan re-scanning lineitem 6×). The frame is bounded —
    # ≤2^20 rows whatever the data size — so materializing it is
    # O(domain), and everything after reads the checkpoint.
    cells = prefix.select(
        "zval",
        "qx",
        "qy",
        "zn",
        "before",
        bucket_of_lit(F.col("before") + 1).alias("b_lo"),
        bucket_of_lit(F.col("before") + F.col("zn")).alias("b_hi"),
    ).localCheckpoint()
    whole = cells.filter(F.col("b_lo") == F.col("b_hi")).groupBy(
        F.col("b_lo").alias("file_group")
    ).agg(
        F.sum("zn").alias("n_rows"),
        F.min("qx").alias("min_qx"),
        F.max("qx").alias("max_qx"),
        F.min("qy").alias("min_qy"),
        F.max("qy").alias("max_qy"),
    )
    # the straddle set is ≤ Z_GROUPS-1 cells BY CONSTRUCTION — a bounded
    # driver collect (like the NTILE scalars), independent of data size
    straddle_rows = cells.filter(F.col("b_lo") != F.col("b_hi")).select(
        "zval", "qx", "qy", "before"
    ).collect()

    if straddle_rows:
        zmap = {row["zval"]: row["before"] for row in straddle_rows}

        # invert each straddle cell's (qx, qy) back to base-column ranges:
        # qx == g  ⇔  l_partkey ∈ [min_pk + ceil(g·R/C),
        #                          min_pk + floor(((g+1)·R - 1)/C)],
        # C = cells per dimension. These are plain l_partkey/l_suppkey
        # range predicates — parquet row-group stats prune the rescan to
        # the (z-localized!) files holding boundary cells, the z-order
        # skipping story applied to the layout computation itself. The
        # exact zval isin stays on top.
        def dim_range(g, lo0, rng):
            lo = lo0 + (g * rng + _Z_CELLS - 1) // _Z_CELLS
            hi = lo0 + ((g + 1) * rng - 1) // _Z_CELLS
            return lo, hi

        pred = None
        for row in straddle_rows:
            pk_lo, pk_hi = dim_range(row["qx"], min_pk, pk_range)
            sk_lo, sk_hi = dim_range(row["qy"], min_sk, sk_range)
            one = (
                F.col("l_partkey").between(pk_lo, pk_hi)
                & F.col("l_suppkey").between(sk_lo, sk_hi)
            )
            pred = one if pred is None else (pred | one)
        before_expr = F.element_at(
            F.create_map(*[F.lit(x) for kv in zmap.items() for x in kv]),
            F.col("zval"),
        )
        win = Window.partitionBy("zval").orderBy("l_orderkey", "l_linenumber")
        r = before_expr + F.row_number().over(win)
        split = (
            li.filter(pred)
            .selectExpr(
                "l_orderkey",
                "l_linenumber",
                f"{qx_lit} AS qx",
                f"{qy_lit} AS qy",
            )
            .withColumn("zval", F.expr(_z_expr("qx", "qy", "spark")))
            .filter(F.col("zval").isin(list(zmap)))
            .withColumn("r", r)
            .groupBy(bucket_of_lit(F.col("r")).alias("file_group"))
            .agg(
                F.count("*").alias("n_rows"),
                F.min("qx").alias("min_qx"),
                F.max("qx").alias("max_qx"),
                F.min("qy").alias("min_qy"),
                F.max("qy").alias("max_qy"),
            )
        )
        whole = whole.unionByName(split)
    return whole.groupBy(
        F.col("file_group").cast("bigint").alias("file_group")
    ).agg(
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.min("min_qx").cast("bigint").alias("min_qx"),
        F.max("max_qx").cast("bigint").alias("max_qx"),
        F.min("min_qy").cast("bigint").alias("min_qy"),
        F.max("max_qy").cast("bigint").alias("max_qy"),
    )


# --- compaction planning (small-file bin packing) ----------------------------

COMPACT_TARGET_ROWS = 1024  # rows per compacted output file


@query(
    "q_compaction_plan",
    f"""
    WITH files AS (
      SELECT CAST(o_orderdate AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM orders GROUP BY CAST(o_orderdate AS DATE)),
    seq AS (
      SELECT day, n_rows,
             CAST(COALESCE(SUM(n_rows) OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS cum_before
      FROM files)
    SELECT cum_before // {COMPACT_TARGET_ROWS} AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(n_rows) AS BIGINT) AS total_rows,
           MIN(day) AS from_day, MAX(day) AS to_day
    FROM seq GROUP BY cum_before // {COMPACT_TARGET_ROWS}
    """,
)
def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction plan: pack the per-day file inventory into
    contiguous output bins of ~{target} rows by cumulative-sum bucketing —
    the deterministic core of a lakehouse OPTIMIZE/rewrite step. Keeping
    bins contiguous in day order preserves the table's sort/cluster key
    (the q_zorder_layout invariant), so data-skipping min/max ranges stay
    tight after compaction.

    Determinism: greedy-by-cumsum is a pure function of the sorted
    inventory (exact integer row counts, integer division) — no floats
    anywhere.

    Scale: the window runs over the FILE INVENTORY (metadata: one row per
    file/partition — ~10^6 rows for 100 TB of 100 MB files), never the
    data; at that size the single-range window sorts in one task, and a
    per-table-partition plan (Window.partitionBy(partition_col)) removes
    even that. The data movement the plan implies is executed as one
    partitioned rewrite elsewhere; planning itself is O(files · log files).
    """
    orders = load_table(spark, sf_dir, "orders")
    files = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count("*").cast("long").alias("n_rows")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    seq = files.withColumn(
        "cum_before", F.coalesce(F.sum("n_rows").over(w), F.lit(0)).cast("long")
    )
    return (
        seq.withColumn("bin", F.expr(f"cum_before DIV {COMPACT_TARGET_ROWS}"))
        .groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n_files"),
            F.sum("n_rows").cast("long").alias("total_rows"),
            F.min("day").alias("from_day"),
            F.max("day").alias("to_day"),
        )
    )


q_compaction_plan.__doc__ = q_compaction_plan.__doc__.format(
    target=COMPACT_TARGET_ROWS
)


# --- sketch-based join cardinality estimation --------------------------------

@query(
    "q_join_size_sketch",
    """
    WITH depths AS (SELECT unnest([0, 1, 2, 3]) AS j),
    a AS (SELECT user_id FROM events WHERE event_type = 'click'),
    b AS (SELECT user_id FROM events WHERE event_type = 'purchase'),
    ca AS (
      SELECT d.j,
             CAST('0x' || substr(md5(CAST(d.j AS VARCHAR) || ':'
                                     || CAST(a.user_id AS VARCHAR)), 1, 8)
                  AS BIGINT) % 512 AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM a CROSS JOIN depths d GROUP BY 1, 2),
    cb AS (
      SELECT d.j,
             CAST('0x' || substr(md5(CAST(d.j AS VARCHAR) || ':'
                                     || CAST(b.user_id AS VARCHAR)), 1, 8)
                  AS BIGINT) % 512 AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM b CROSS JOIN depths d GROUP BY 1, 2),
    ip AS (
      SELECT ca.j, SUM(ca.n * cb.n) AS est
      FROM ca JOIN cb ON ca.j = cb.j AND ca.bucket = cb.bucket
      GROUP BY ca.j),
    exact AS (
      SELECT COALESCE(SUM(na.n * nb.n), 0) AS pairs FROM
        (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM a GROUP BY user_id) na
        JOIN
        (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY user_id) nb
        USING (user_id))
    SELECT CAST(exact.pairs AS BIGINT) AS exact_pairs,
           CAST((SELECT MIN(est) FROM ip) AS BIGINT) AS cms_pairs,
           CAST((SELECT MIN(est) FROM ip) - exact.pairs AS BIGINT) AS overcount
    FROM exact
    """,
)
def q_join_size_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from two count-min sketches: |A ⋈ B|
    on a key is estimated as min_j Σ_bucket cA(j,b)·cB(j,b) (the CM
    inner-product estimator — never an undercount), reported next to the
    exact pair count — the optimizer-statistics primitive that answers
    "will clicks ⋈ purchases explode" WITHOUT touching either table
    again: sketches are constant-size, mergeable, and maintainable per
    shard/day. Like q_cms_topk, the md5-arithmetic hash family makes the
    sketch cells themselves engine-portable, so even this estimator is
    fully DuckDB-oracled.

    Scale shape (r8): ONE corpus scan — the per-(type, key) count frame
    is aggregated once and scoped-persisted; both sketches build FROM it
    with weighted cells (sum of per-key counts ≡ counting the raw rows),
    and the exact audit reuses the same frame. Each sketch build is one
    combinable groupBy over an explode(depth) (shuffle ≤ partitions ×
    depth·width partial cells); the inner product joins two
    broadcast-size 2048-cell frames. The exact side pays the real
    per-key join — which is the point: at 100 TB you run the sketch path
    and skip the exact one. All-integer arithmetic end to end."""
    from hive_json_spark.functions.caching import scoped_persist
    from hive_json_spark.operators.sketch import count_min_sketch

    ev = load_table(spark, sf_dir, "events")
    per_key = scoped_persist(
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type", "user_id")
        .agg(F.count("*").alias("n"))
    )
    a = per_key.filter(F.col("event_type") == "click").select("user_id", "n")
    b = per_key.filter(F.col("event_type") == "purchase").select("user_id", "n")
    ca = count_min_sketch(a, "user_id", depth=4, width=512, weight_col="n")
    cb = count_min_sketch(b, "user_id", depth=4, width=512, weight_col="n").select(
        F.col("j").alias("jb"), F.col("bucket").alias("bb"), F.col("n").alias("nb")
    )
    ip = (
        ca.join(cb, (F.col("j") == F.col("jb")) & (F.col("bucket") == F.col("bb")))
        .groupBy("j")
        .agg(F.sum(F.col("n") * F.col("nb")).alias("est"))
    )
    est = ip.agg(F.min("est").alias("cms_pairs"))
    na = a.select("user_id", F.col("n").alias("n_a"))
    nb = b.select("user_id", F.col("n").alias("n_b"))
    exact = na.join(nb, "user_id").agg(
        F.coalesce(F.sum(F.col("n_a") * F.col("n_b")), F.lit(0)).alias("exact_pairs")
    )
    return (
        exact.join(F.broadcast(est))
        .select(
            F.col("exact_pairs").cast("bigint").alias("exact_pairs"),
            F.col("cms_pairs").cast("bigint").alias("cms_pairs"),
            (F.col("cms_pairs") - F.col("exact_pairs")).cast("bigint").alias("overcount"),
        )
    )
