"""Relational query suite: the engine's declared query surface, each entry
paired with an ANSI-SQL DuckDB oracle (the t2 correctness gate).

Conventions (driver contract):
- every computed column is aliased identically in Spark and SQL;
- counts cast to bigint on both sides (DuckDB sums/counts can be int128);
- double aggregates rounded (2 for money, 6 for ratios) so independent
  summation orders hash identically;
- limit queries carry a unique tiebreak key so the *set* of rows is
  deterministic under any partitioning.

Scale notes are on each query: what shuffles, what broadcasts, and why the
plan survives 1000 executors at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from hive_json_spark.functions.classifiers import classify_string
from hive_json_spark.functions.exact import avg_exact, int_units, sum_exact
from hive_json_spark.operators.relational import (
    anti_join,
    broadcast_join,
    grouped_exact_percentiles,
    semi_join,
    sessionize,
    top_k,
    top_k_per_group,
)
from hive_json_spark.registry import query
from hive_json_spark.sources import load_table, table_row_count

# --- aggregation + filter (TPC-H Q1 shape) -----------------------------------

@query(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                                   AS sum_qty,
           ROUND(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) / 100.0, 2) AS sum_base_price,
           ROUND(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) / 100.0, 2) AS sum_disc_price,
           ROUND(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100) AS BIGINT)) / 100.0, 2) AS sum_charge,
           ROUND(AVG(l_quantity), 6)                                   AS avg_qty,
           ROUND(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) / 100.0 / COUNT(l_extendedprice), 6) AS avg_price,
           ROUND(SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) / 100.0 / COUNT(l_discount), 6) AS avg_disc,
           CAST(COUNT(*) AS BIGINT)                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial agg map-side, one shuffle on a 6-value grouping key; the
    shipdate filter pushes down to the parquet scan. Money aggregates use
    the integer-cents rule (functions/exact.py) so results are
    summation-order-free; quantity sums are integer-valued doubles and
    already exact."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            sum_exact("l_extendedprice").alias("sum_base_price"),
            sum_exact(disc_price).alias("sum_disc_price"),
            sum_exact(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            avg_exact("l_extendedprice").alias("avg_price"),
            avg_exact("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# --- multi-join + agg + top-k (TPC-H Q3 shape) -------------------------------

@query(
    "q3_shipping_priority",
    """
    SELECT l.l_orderkey,
           ROUND(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) / 100.0, 2) AS revenue,
           o.o_orderdate
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1996-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer is small after the segment filter → broadcast into orders;
    orders⋈lineitem shuffles on orderkey (the natural key both sides);
    top-k is TakeOrderedAndProject, never a global sort."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-03-15").cast("timestamp")
    )
    joined = broadcast_join(o, c.select("c_custkey"), F.col("c_custkey") == F.col("o_custkey"))
    joined = l.join(joined, F.col("l_orderkey") == F.col("o_orderkey"))
    agg = joined.groupBy("l_orderkey", "o_orderdate").agg(
        sum_exact(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    )
    return top_k(agg, [F.col("revenue").desc(), F.col("l_orderkey")], 10).select(
        "l_orderkey", "revenue", "o_orderdate"
    )


# --- star join across the full schema (TPC-H Q5 shape) -----------------------

@query(
    "q5_region_revenue",
    """
    SELECT n.n_name,
           ROUND(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) / 100.0, 2) AS revenue
    FROM region r
      JOIN nation n   ON n.n_regionkey = r.r_regionkey
      JOIN customer c ON c.c_nationkey = n.n_nationkey
      JOIN orders o   ON o.o_custkey   = c.c_custkey
      JOIN lineitem l ON l.l_orderkey  = o.o_orderkey
      JOIN supplier s ON l.l_suppkey   = s.s_suppkey AND s.s_nationkey = n.n_nationkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """region/nation/supplier/customer are dimensions → all broadcast; the
    only shuffle is orders⋈lineitem on orderkey + the final 5-key agg."""
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    nr = broadcast_join(n, r, F.col("n_regionkey") == F.col("r_regionkey"))
    cn = broadcast_join(c, nr.select("n_nationkey", "n_name"), F.col("c_nationkey") == F.col("n_nationkey"))
    ol = l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
    joined = broadcast_join(ol, cn.select("c_custkey", "n_name", F.col("n_nationkey").alias("cn_nationkey")), F.col("o_custkey") == F.col("c_custkey"))
    joined = broadcast_join(
        joined,
        s.select("s_suppkey", "s_nationkey"),
        (F.col("l_suppkey") == F.col("s_suppkey")) & (F.col("s_nationkey") == F.col("cn_nationkey")),
    )
    return joined.groupBy("n_name").agg(
        sum_exact(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    )


# --- broadcast dimension join + agg ------------------------------------------

@query(
    "q_brand_part_stats",
    """
    SELECT p.p_brand,
           CAST(COUNT(*) AS BIGINT)          AS n_items,
           ROUND(SUM(l.l_quantity), 2)       AS total_qty,
           ROUND(SUM(CAST(ROUND(p.p_retailprice * 100) AS BIGINT)) / 100.0 / COUNT(p.p_retailprice), 6) AS avg_retail
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size >= 20
    GROUP BY p.p_brand
    """,
)
def q_brand_part_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") >= 20)
    return (
        broadcast_join(l, p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
            avg_exact("p_retailprice").alias("avg_retail"),
        )
    )


# --- semi / anti joins -------------------------------------------------------

@query(
    "q_semi_customers_with_orders",
    """
    SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_totalprice > 100000)
    GROUP BY c_mktsegment
    """,
)
def q_semi_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: only the key column of orders crosses the wire, and
    the semi join short-circuits on first match."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return (
        semi_join(c, o, F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


@query(
    "q_anti_customers_without_orders",
    """
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return anti_join(c, o, F.col("c_custkey") == F.col("o_custkey")).select("c_custkey", "c_name")


# --- global and per-group top-k ----------------------------------------------

@query(
    "q_topk_orders",
    """
    SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS total
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return top_k(o, [F.col("o_totalprice").desc(), F.col("o_orderkey")], 20).select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("total")
    )


@query(
    "q_top3_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS total, rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
      FROM orders)
    WHERE rn <= 3
    """,
)
def q_top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    ranked = top_k_per_group(
        o, ["o_custkey"], [F.col("o_totalprice").desc(), F.col("o_orderkey")], 3
    )
    return ranked.select(
        "o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("total"),
        F.col("rn").cast("bigint").alias("rn"),
    )


# --- window functions: lag + running frames ----------------------------------

@query(
    "q_running_events",
    """
    SELECT user_id, event_id,
           ROUND(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100.0, 4) AS running_value,
           ROUND(COALESCE(LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), -1.0), 4) AS prev_value,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS seq
    FROM events
    """,
)
def q_running_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single shuffle on user_id serves all three window functions (same
    window spec → one exchange + one sort). The running sum accumulates
    integer cents: DuckDB evaluates window sums with a segment tree
    (different addition order than Spark's sequential frame scan), so a
    double accumulation is not reproducible — long accumulation is."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        "event_id",
        F.round(
            F.sum(int_units("value")).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            / 100.0,
            4,
        ).alias("running_value"),
        F.round(F.coalesce(F.lag("value").over(w), F.lit(-1.0)), 4).alias("prev_value"),
        F.row_number().over(w).cast("bigint").alias("seq"),
    )


# --- rollup / cube / grouping sets -------------------------------------------

@query(
    "q_rollup_lineitem",
    """
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           ROUND(SUM(l_quantity), 2)     AS sum_qty,
           CAST(COUNT(*) AS BIGINT)      AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_rollup_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count("*").alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n",
        )
    )


@query(
    "q_cube_orders",
    """
    SELECT COALESCE(o_orderstatus, 'ALL')   AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           CAST(COUNT(*) AS BIGINT)         AS n,
           ROUND(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0, 2) AS total
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), sum_exact("o_totalprice").alias("total"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
            "total",
        )
    )


@query(
    "q_grouping_sets",
    """
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS total_price
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
               COALESCE(l_linestatus, 'ALL') AS linestatus,
               ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS total_price
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


# --- distinct aggregates -----------------------------------------------------

@query(
    "q_distinct_agg",
    """
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
           CAST(COUNT(*) AS BIGINT)                  AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count("*").alias("n_rows"),
    )


# --- holistic aggregates: mode / ordered string agg / hypothetical rank ------

@query(
    "q_mode_per_group",
    """
    WITH c AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q,
                      CAST(COUNT(*) AS BIGINT) AS n
               FROM lineitem GROUP BY l_returnflag, CAST(l_quantity AS BIGINT)),
    r AS (SELECT l_returnflag, q, n,
                 ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                    ORDER BY n DESC, q) AS rn
          FROM c)
    SELECT l_returnflag, q AS mode_qty, n AS mode_count
    FROM r WHERE rn = 1
    """,
)
def q_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical mode per group with a deterministic tiebreak (smallest
    value wins among equal counts) — the holistic aggregate engines
    special-case, decomposed distributively: value counts roll up
    map-side (partial agg), then a per-group row_number over the tiny
    (group, value) frame picks the argmax. Never a per-row window; the
    window partition is bounded by distinct values per group."""
    li = load_table(spark, sf_dir, "lineitem")
    c = li.groupBy(
        "l_returnflag", F.col("l_quantity").cast("bigint").alias("q")
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("l_returnflag").orderBy(F.col("n").desc(), F.col("q"))
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_returnflag", F.col("q").alias("mode_qty"), F.col("n").alias("mode_count"))
    )


@query(
    "q_listagg",
    """
    SELECT o_orderpriority,
           string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG / string_agg): the
    report-formatting aggregate. collect_set is partial-aggregable and
    partition-order-free; the ORDER BY the SQL standard requires is
    applied once per group via array_sort before joining — so the result
    is deterministic under any shuffle layout (a bare collect_list +
    concat_ws would not be). Distinct-set size is bounded by the status
    domain, not the row count."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.array_join(F.array_sort(F.collect_set("o_orderstatus")), ",").alias(
            "statuses"
        ),
        F.count("*").alias("n_orders"),
    )


@query(
    "q_hypothetical_rank",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(1 + COUNT(*) FILTER (WHERE o_totalprice < 150000.0) AS BIGINT)
             AS hyp_rank,
           CAST(1 + COUNT(*) FILTER (WHERE o_totalprice > 150000.0) AS BIGINT)
             AS hyp_rank_desc,
           ROUND(CAST(COUNT(*) FILTER (WHERE o_totalprice <= 150000.0) AS DOUBLE)
                 / COUNT(*), 6) AS hyp_cume_dist
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_hypothetical_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypothetical-set functions (the SQL-standard RANK(x) WITHIN GROUP
    family): the rank / descending rank / cume_dist a $150k order WOULD
    take inside each priority class. Decomposes to conditional counts —
    one partial-aggregable shuffle, no sort, no window — which is exactly
    why engines without WITHIN GROUP still expose the capability."""
    o = load_table(spark, sf_dir, "orders")
    v = F.lit(150000.0)
    return o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        (1 + F.count_if(F.col("o_totalprice") < v)).cast("bigint").alias("hyp_rank"),
        (1 + F.count_if(F.col("o_totalprice") > v)).cast("bigint").alias("hyp_rank_desc"),
        F.round(
            F.count_if(F.col("o_totalprice") <= v).cast("double") / F.count("*"), 6
        ).alias("hyp_cume_dist"),
    )


@query(
    "q_grouping_id",
    """
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT)
             AS gid,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE with the GROUPING_ID bitmask — the aggregation-level label
    that lets one materialized cube serve every rollup consumer without
    string sentinels colliding with real values (the COALESCE label here
    is for display; gid is the trustworthy level key). Spark's
    grouping_id() packs the same bits DuckDB's per-column GROUPING()
    exposes — the oracle reconstructs the mask bit-by-bit. One expand +
    one partial-agg shuffle, like every grouping-sets query."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count("*").alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "gid",
            "n",
        )
    )


@query(
    "q_corr_matrix",
    """
    WITH u AS (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS p,
             CAST(ROUND(l_discount * 10000) AS BIGINT) AS d,
             CAST(ROUND(l_tax * 10000) AS BIGINT) AS t
      FROM lineitem),
    m AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(CAST(q AS HUGEINT)) AS sq, SUM(CAST(p AS HUGEINT)) AS sp,
             SUM(CAST(d AS HUGEINT)) AS sd, SUM(CAST(t AS HUGEINT)) AS st,
             SUM(CAST(q AS HUGEINT) * q) AS sqq, SUM(CAST(p AS HUGEINT) * p) AS spp,
             SUM(CAST(d AS HUGEINT) * d) AS sdd, SUM(CAST(t AS HUGEINT) * t) AS stt,
             SUM(CAST(q AS HUGEINT) * p) AS sqp, SUM(CAST(q AS HUGEINT) * d) AS sqd,
             SUM(CAST(q AS HUGEINT) * t) AS sqt, SUM(CAST(p AS HUGEINT) * d) AS spd,
             SUM(CAST(p AS HUGEINT) * t) AS spt, SUM(CAST(d AS HUGEINT) * t) AS sdt
      FROM u)
    SELECT
      ROUND((CAST(n AS DOUBLE)*CAST(sqp AS DOUBLE) - CAST(sq AS DOUBLE)*CAST(sp AS DOUBLE))
        / sqrt((CAST(n AS DOUBLE)*CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE)*CAST(sq AS DOUBLE))
             * (CAST(n AS DOUBLE)*CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE)*CAST(sp AS DOUBLE))), 6) AS r_qty_price,
      ROUND((CAST(n AS DOUBLE)*CAST(sqd AS DOUBLE) - CAST(sq AS DOUBLE)*CAST(sd AS DOUBLE))
        / sqrt((CAST(n AS DOUBLE)*CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE)*CAST(sq AS DOUBLE))
             * (CAST(n AS DOUBLE)*CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE)*CAST(sd AS DOUBLE))), 6) AS r_qty_disc,
      ROUND((CAST(n AS DOUBLE)*CAST(sqt AS DOUBLE) - CAST(sq AS DOUBLE)*CAST(st AS DOUBLE))
        / sqrt((CAST(n AS DOUBLE)*CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE)*CAST(sq AS DOUBLE))
             * (CAST(n AS DOUBLE)*CAST(stt AS DOUBLE) - CAST(st AS DOUBLE)*CAST(st AS DOUBLE))), 6) AS r_qty_tax,
      ROUND((CAST(n AS DOUBLE)*CAST(spd AS DOUBLE) - CAST(sp AS DOUBLE)*CAST(sd AS DOUBLE))
        / sqrt((CAST(n AS DOUBLE)*CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE)*CAST(sp AS DOUBLE))
             * (CAST(n AS DOUBLE)*CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE)*CAST(sd AS DOUBLE))), 6) AS r_price_disc,
      ROUND((CAST(n AS DOUBLE)*CAST(spt AS DOUBLE) - CAST(sp AS DOUBLE)*CAST(st AS DOUBLE))
        / sqrt((CAST(n AS DOUBLE)*CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE)*CAST(sp AS DOUBLE))
             * (CAST(n AS DOUBLE)*CAST(stt AS DOUBLE) - CAST(st AS DOUBLE)*CAST(st AS DOUBLE))), 6) AS r_price_tax,
      ROUND((CAST(n AS DOUBLE)*CAST(sdt AS DOUBLE) - CAST(sd AS DOUBLE)*CAST(st AS DOUBLE))
        / sqrt((CAST(n AS DOUBLE)*CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE)*CAST(sd AS DOUBLE))
             * (CAST(n AS DOUBLE)*CAST(stt AS DOUBLE) - CAST(st AS DOUBLE)*CAST(st AS DOUBLE))), 6) AS r_disc_tax
    FROM m
    """,
)
def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pairwise Pearson correlation matrix of lineitem's four numeric
    measures in ONE aggregation pass — the feature-screening profile a
    modeling pipeline computes before training. 14 moment sums feed all
    6 pairwise correlations; the scan is read once, partials combine
    map-side, and the final state is 14 numbers regardless of input size.

    Exactness: values enter on integer grids (qty, cents, basis points);
    every moment is an exact integer sum — price² × 600k rows ≈ 6·10¹⁹
    exceeds int64, so the partials widen to decimal(38,0) on Spark and
    HUGEINT on DuckDB (both exact) — and each correlation is a pure
    function of those integers, so the rounded doubles are identical on
    any layout and engine."""
    from hive_json_spark.operators.util import ensure_parallelism

    # spread before the 15 decimal(38,0) moment lanes (r11): lineitem is
    # one row group at the bench SFs, so the partial agg ran on ONE core
    # (1.0 s of a 1.8 s wall, per-job probe); the round-robin moves the 4
    # measure columns once, the partials stay 14 numbers per partition.
    # No-op exchange on many-row-group inputs.
    li = ensure_parallelism(
        load_table(spark, sf_dir, "lineitem").select(
            "l_quantity", "l_extendedprice", "l_discount", "l_tax"
        )
    )
    dec = "decimal(38,0)"
    q = F.col("l_quantity").cast("bigint").cast(dec)
    p = F.round(F.col("l_extendedprice") * 100).cast("bigint").cast(dec)
    d = F.round(F.col("l_discount") * 10000).cast("bigint").cast(dec)
    t = F.round(F.col("l_tax") * 10000).cast("bigint").cast(dec)
    m = li.agg(
        F.count("*").cast(dec).alias("n"),
        F.sum(q).alias("sq"), F.sum(p).alias("sp"),
        F.sum(d).alias("sd"), F.sum(t).alias("st"),
        F.sum(q * q).cast(dec).alias("sqq"), F.sum(p * p).cast(dec).alias("spp"),
        F.sum(d * d).cast(dec).alias("sdd"), F.sum(t * t).cast(dec).alias("stt"),
        F.sum(q * p).cast(dec).alias("sqp"), F.sum(q * d).cast(dec).alias("sqd"),
        F.sum(q * t).cast(dec).alias("sqt"), F.sum(p * d).cast(dec).alias("spd"),
        F.sum(p * t).cast(dec).alias("spt"), F.sum(d * t).cast(dec).alias("sdt"),
    )

    def r(sxy, sx, sy, sxx, syy, alias):
        dd = lambda c: F.col(c).cast("double")
        num = dd("n") * dd(sxy) - dd(sx) * dd(sy)
        den = F.sqrt(
            (dd("n") * dd(sxx) - dd(sx) * dd(sx))
            * (dd("n") * dd(syy) - dd(sy) * dd(sy))
        )
        return F.round(num / den, 6).alias(alias)

    return m.select(
        r("sqp", "sq", "sp", "sqq", "spp", "r_qty_price"),
        r("sqd", "sq", "sd", "sqq", "sdd", "r_qty_disc"),
        r("sqt", "sq", "st", "sqq", "stt", "r_qty_tax"),
        r("spd", "sp", "sd", "spp", "sdd", "r_price_disc"),
        r("spt", "sp", "st", "spp", "stt", "r_price_tax"),
        r("sdt", "sd", "st", "sdd", "stt", "r_disc_tax"),
    )


# --- set operations ----------------------------------------------------------

@query(
    "q_set_ops",
    """
    SELECT c_custkey, 'both' AS tag FROM (
        SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        INTERSECT
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
    UNION ALL
    SELECT c_custkey, 'rich_only' AS tag FROM (
        SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        EXCEPT
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
    """,
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    rich = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    both = rich.intersect(building).withColumn("tag", F.lit("both"))
    rich_only = rich.exceptAll(building).distinct().withColumn("tag", F.lit("rich_only"))
    return both.unionAll(rich_only)


# --- statistical aggregates --------------------------------------------------

@query(
    "q_stats_agg",
    """
    WITH m AS (
      SELECT l_returnflag,
             CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS DOUBLE) AS s,
             CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT) * CAST(ROUND(l_quantity) AS BIGINT)) AS DOUBLE) AS s2,
             CAST(COUNT(l_quantity) AS DOUBLE) AS n,
             ROUND(MIN(l_quantity), 2) AS min_qty,
             ROUND(MAX(l_quantity), 2) AS max_qty,
             ROUND(QUANTILE_CONT(l_quantity, 0.5), 4) AS median_qty
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag,
           ROUND(SQRT((s2 - s * s / n) / (n - 1.0)), 6) AS sd_qty,
           ROUND((s2 - s * s / n) / (n - 1.0), 6)       AS var_qty,
           min_qty, max_qty, median_qty
    FROM m
    """,
)
def q_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance/stddev via exact integer moments: l_quantity is
    integer-valued, so SUM(x) and SUM(x*x) are exact longs regardless of
    merge order; the textbook (s2 - s*s/n)/(n-1) formula then runs the
    identical IEEE op sequence on both engines. (Built-in stddev_samp
    merges Welford partials in partition order — not reproducible across
    engines or partition counts.) Catastrophic cancellation isn't a risk
    here: moments are exact integers, so the subtraction is the true
    value ± one ulp."""
    li = load_table(spark, sf_dir, "lineitem")
    # ROUND before the integer cast on BOTH engines: Spark cast(long)
    # truncates toward zero while DuckDB CAST rounds — integral data hides
    # the divergence until the generator ever emits a fraction
    q = F.round(F.col("l_quantity")).cast("long")
    m = li.groupBy("l_returnflag").agg(
        F.sum(q).cast("double").alias("s"),
        F.sum(q * q).cast("double").alias("s2"),
        F.count("l_quantity").cast("double").alias("n"),
        F.round(F.min("l_quantity"), 2).alias("min_qty"),
        F.round(F.max("l_quantity"), 2).alias("max_qty"),
        F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("median_qty"),
    )
    var = (F.col("s2") - F.col("s") * F.col("s") / F.col("n")) / (F.col("n") - F.lit(1.0))
    return m.select(
        "l_returnflag",
        F.round(F.sqrt(var), 6).alias("sd_qty"),
        F.round(var, 6).alias("var_qty"),
        "min_qty",
        "max_qty",
        "median_qty",
    )


# --- the reference's classifiers as a query ----------------------------------

@query(
    "q_classify_strings",
    """
    SELECT cls, CAST(COUNT(*) AS BIGINT) AS n FROM (
      SELECT CASE
          WHEN regexp_full_match(l_returnflag || l_linestatus,
               '["]?([0-9]{4}[-/][0-9]{2}[-/][0-9]{2})[T ]([0-9]{2}:[0-9]{2}:[0-9]{2})((([ ][-+]?[0-9]{2}([:][0-9]{2})?)|Z)?)["]?')
               THEN 'timestamp'
          WHEN regexp_full_match(l_returnflag || l_linestatus, '([0-9a-fA-F][0-9a-fA-F])+')
               THEN 'binary'
          ELSE 'string' END AS cls
      FROM lineitem)
    GROUP BY cls
    """,
)
def q_classify_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pickType's string branch, vectorized: 'AF' is even-length hex →
    binary; 'NO'/'RF'/... → string. Pure codegen, no UDF."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(classify_string(F.concat("l_returnflag", "l_linestatus")).alias("cls"))
        .groupBy("cls")
        .agg(F.count("*").alias("n"))
    )


# --- sessionization (streaming-shaped analytics over the events table) -------

@query(
    "q_sessionize_events",
    """
    WITH seq AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN ts - COALESCE(LAG(ts) OVER w, ts - INTERVAL 2 HOUR)
                       > INTERVAL 1 HOUR THEN 1 ELSE 0 END AS is_new
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, value,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      FROM seq)
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0, 4) AS session_value
    FROM sessions GROUP BY user_id, session_seq
    """,
)
def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions (1h) per user: one shuffle on user_id, running-sum
    window, then an agg reusing the same partitioning."""
    e = load_table(spark, sf_dir, "events")
    s = sessionize(e, "user_id", "ts", 3600, "event_id")
    return s.groupBy("user_id", F.col("session_seq").cast("bigint").alias("session_seq")).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum(int_units("value")) / 100.0, 4).alias("session_value"),
    )


@query(
    "q_session_window_native",
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
)
def q_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization through Spark's NATIVE ``session_window`` aggregate
    (the same merging-session-state operator Structured Streaming uses)
    rather than the lag/gap-cumsum rewrite of q_sessionize_events — and
    pinned to that classic rewrite as the oracle, which proves the two
    formulations define identical sessions. One boundary subtlety the
    oracle encodes: a session window's end is last-event + gap and an
    event landing EXACTLY on it starts a NEW session, so the island
    break is `gap >= 30min`, not `>` (the 1h-gap query uses strict `>`
    on a lag *difference* — a different, also-valid convention).

    Scale shape: one shuffle on user_id into the merging-session
    aggregation; no window function pass at all — the session assignment
    happens inside the aggregate operator, which is exactly why the
    native form is the streaming-state-compatible one."""
    e = load_table(spark, sf_dir, "events")
    out = e.groupBy(
        "user_id", F.session_window("ts", "30 minutes").alias("w")
    ).agg(F.count("*").alias("n_events"))
    return out.select(
        "user_id",
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        "n_events",
    )


# --- scalar function pack (date / string / math passthroughs) ----------------

@query(
    "q_scalar_pack",
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT)        AS order_year,
           CAST(month(o_orderdate) AS INT)       AS order_month,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           o_orderdate + INTERVAL 30 DAY         AS due_date,
           upper(substr(o_orderpriority, 1, 4))  AS pri4,
           CAST(length(o_orderstatus) AS INT)    AS status_len,
           concat(o_orderstatus, '-', o_orderpriority) AS status_pri,
           ROUND(abs(o_totalprice - 100000.0), 2) AS price_delta,
           CAST(o_orderkey % 7 AS BIGINT)        AS key_mod7,
           ROUND(sqrt(o_totalprice), 6)          AS price_sqrt
    FROM orders WHERE o_orderkey % 5 = 0
    """,
)
def q_scalar_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/string/math scalar surface in one projection — every function a
    JVM built-in inside whole-stage codegen; the filter and the 3-column
    read both push to the parquet scan."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey",
        F.year("o_orderdate").cast("int").alias("order_year"),
        F.month("o_orderdate").cast("int").alias("order_month"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("due_date"),
        F.upper(F.substring("o_orderpriority", 1, 4)).alias("pri4"),
        F.length("o_orderstatus").cast("int").alias("status_len"),
        F.concat_ws("-", "o_orderstatus", "o_orderpriority").alias("status_pri"),
        F.round(F.abs(F.col("o_totalprice") - 100000.0), 2).alias("price_delta"),
        (F.col("o_orderkey") % 7).cast("bigint").alias("key_mod7"),
        F.round(F.sqrt("o_totalprice"), 6).alias("price_sqrt"),
    )


# --- event-time tumbling window (batch twin of streaming/windowed_event_counts)

@query(
    "q_windowed_counts",
    """
    SELECT time_bucket(INTERVAL 1 DAY, ts) AS win_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0, 4) AS total
    FROM events GROUP BY 1, 2
    """,
)
def q_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time windows — identical semantics to the streaming
    operator (streaming/infer_stream.py windowed_event_counts) so batch
    backfill and live stream produce the same rows; one hash agg, window
    start is derived (no shuffle beyond the group-by)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum(int_units("value")) / 100.0, 4).alias("total"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n", "total")
    )


# --- outer join + distribution (TPC-H Q13 shape) -----------------------------

@query(
    "q13_customer_distribution",
    """
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
          FROM customer c LEFT OUTER JOIN orders o ON c.c_custkey = o.o_custkey
          GROUP BY c.c_custkey)
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserves order-less customers (COUNT(col) skips their
    NULLs); two hash aggs, the second over a tiny domain — AQE coalesces its
    shuffle to a handful of partitions."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy(c.c_custkey)
        .agg(F.count(o.o_orderkey).alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


# --- HAVING + semi-join back (TPC-H Q18 shape) -------------------------------

@query(
    "q18_big_orders",
    """
    SELECT o.o_orderkey, o.o_orderdate, ROUND(o.o_totalprice, 2) AS totalprice,
           ROUND(SUM(l.l_quantity), 2) AS sum_qty
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 150)
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_totalprice
    """,
)
def q18_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING → post-agg filter; the qualifying-key set is small, so the
    semi-join back into orders broadcasts it (no orders shuffle)."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sq"))
        .filter(F.col("sq") > 150)
        .select("l_orderkey")
    )
    qualified = o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey, "left_semi")
    return (
        qualified.join(l, qualified.o_orderkey == l.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .select(
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("totalprice"),
            "sum_qty",
        )
    )


# --- correlated scalar subquery (TPC-H Q17 shape) ----------------------------

@query(
    "q17_small_quantity_revenue",
    """
    SELECT ROUND(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) / 100.0 / 7.0, 2) AS avg_yearly
    FROM lineitem l
    JOIN (SELECT l_partkey, 0.5 * AVG(l_quantity) AS half_avg
          FROM lineitem GROUP BY l_partkey) p
      ON l.l_partkey = p.l_partkey
    WHERE l.l_quantity < p.half_avg
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The correlated scalar subquery (per-part average) is de-correlated
    into an aggregate + self-join — the per-part agg output is one row per
    part (small) and broadcasts; lineitem never shuffles."""
    l = load_table(spark, sf_dir, "lineitem")
    per_part = (
        l.groupBy(F.col("l_partkey").alias("p_key"))
        .agg((F.avg("l_quantity") * 0.5).alias("half_avg"))
    )
    return (
        l.join(F.broadcast(per_part), l.l_partkey == per_part.p_key)
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg(F.round(F.sum(int_units("l_extendedprice")) / 100.0 / 7.0, 2).alias("avg_yearly"))
    )


# --- exact percentiles (interpolated), grouped -------------------------------

@query(
    "q_percentiles",
    """
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
           ROUND(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.90), 4) AS p90,
           ROUND(quantile_cont(l_discount, 0.50), 4)      AS disc_p50
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles, DISTRIBUTED: Spark's exact
    ``percentile`` aggregate buffers every value of a group in one
    reducer, and l_returnflag has 3 values — per-group state O(rows) and
    3-task parallelism forever, a scale-killer shape at 100 TB (it was
    this registry's slowest-scaling relational query in the sf1 census).
    Rewritten over ``operators.relational.grouped_exact_percentiles``:
    map-side value histograms, a two-level distributed prefix sum (the
    q_equidepth_bins decomposition), closed-form bracketing of the
    h = (n−1)·p index, and lower + frac·(upper−lower) interpolation —
    identical values to the sort-based aggregate (same definition as
    DuckDB quantile_cont), no per-group buffering anywhere. The loose-
    accuracy scale path remains approx_percentile (t-digest).

    Auto-dispatch (the limit-probe pattern): the distributed form costs
    ~8 shuffle-bounded stages of fixed overhead (~3 s at sf0.1, where
    the buffering aggregate is 0.2 s), so a metadata-cheap count probe
    keeps the single-pass aggregate for inputs the reducer can buffer
    (≤ 2M rows) and switches above — both plans produce the same
    interpolated values."""
    li = load_table(spark, sf_dir, "lineitem")
    if table_row_count(spark, sf_dir, "lineitem") <= 2_000_000:
        pcts = F.expr("percentile(l_extendedprice, array(0.25, 0.5, 0.9))")
        return li.groupBy("l_returnflag").agg(
            F.round(pcts[0], 4).alias("p25"),
            F.round(pcts[1], 4).alias("p50"),
            F.round(pcts[2], 4).alias("p90"),
            F.round(F.expr("percentile(l_discount, 0.5)"), 4).alias("disc_p50"),
        )
    price = grouped_exact_percentiles(
        li, "l_returnflag", "l_extendedprice", [0.25, 0.5, 0.9], 1000.0
    )
    disc = grouped_exact_percentiles(
        li, "l_returnflag", "l_discount", [0.5], 0.01
    )
    price_w = price.groupBy("l_returnflag").agg(
        F.round(F.max(F.when(F.col("p") == 0.25, F.col("pct"))), 4).alias("p25"),
        F.round(F.max(F.when(F.col("p") == 0.50, F.col("pct"))), 4).alias("p50"),
        F.round(F.max(F.when(F.col("p") == 0.90, F.col("pct"))), 4).alias("p90"),
    )
    disc_w = disc.groupBy("l_returnflag").agg(
        F.round(F.max("pct"), 4).alias("disc_p50")
    )
    return price_w.join(disc_w, "l_returnflag")


@query(
    "q_abc_parts",
    """
    WITH pr AS (
      SELECT l_partkey,
             SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS cents
      FROM lineitem GROUP BY l_partkey),
    tot AS (SELECT SUM(cents) AS tc FROM pr),
    ranked AS (
      SELECT l_partkey, cents,
             SUM(cents) OVER (ORDER BY cents DESC, l_partkey) AS cum,
             tot.tc
      FROM pr, tot),
    classed AS (
      SELECT l_partkey, cents,
             CASE WHEN cum * 100 <= tc * 80 THEN 'A'
                  WHEN cum * 100 <= tc * 95 THEN 'B'
                  ELSE 'C' END AS abc
      FROM ranked)
    SELECT abc, CAST(COUNT(*) AS BIGINT) AS n_parts,
           ROUND(CAST(SUM(cents) AS DOUBLE) / 100.0, 2) AS revenue,
           ROUND(CAST(SUM(cents) AS DOUBLE) / ANY_VALUE(CAST(t.tc AS DOUBLE)), 6)
             AS revenue_share
    FROM classed, tot t GROUP BY abc
    """,
)
def q_abc_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) inventory classification: parts ranked by revenue,
    class A = the head covering 80% of cumulative revenue, B to 95%,
    C the tail — the stock-policy segmentation every supply-chain
    pipeline computes. Class boundaries compare exact integer cents
    (``cum·100 ≤ total·80`` — no ratio doubles anywhere near the
    cutoff), and the running sum orders by (revenue DESC, partkey), a
    total order, so classification is layout/engine-free.

    Scale shape: the fact scan collapses to the PART-keyed aggregate
    (bounded by the part dimension, not rows) in one partial-agg
    shuffle; the ranking window runs over that dimension-sized frame —
    at catalog scale the same two-level bucket-offset decomposition as
    q_equidepth_bins applies (SCALE.md)."""
    li = load_table(spark, sf_dir, "lineitem")
    pr = li.groupBy("l_partkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("cents")
    )
    tot = pr.agg(F.sum("cents").alias("tc"))
    w = Window.orderBy(F.col("cents").desc(), F.col("l_partkey")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    ranked = pr.withColumn("cum", F.sum("cents").over(w)).crossJoin(
        F.broadcast(tot)
    )
    abc = (
        F.when(F.col("cum") * 100 <= F.col("tc") * 80, "A")
        .when(F.col("cum") * 100 <= F.col("tc") * 95, "B")
        .otherwise("C")
    )
    return (
        ranked.withColumn("abc", abc)
        .groupBy("abc")
        .agg(
            F.count("*").alias("n_parts"),
            F.round(F.sum("cents").cast("double") / 100.0, 2).alias("revenue"),
            F.round(
                F.sum("cents").cast("double") / F.any_value(F.col("tc").cast("double")),
                6,
            ).alias("revenue_share"),
        )
    )


# --- as-of join (point-in-time lookup) ---------------------------------------

@query(
    "q_asof_join",
    """
    WITH p AS (SELECT user_id, ts, MAX(value) AS pv
               FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
    SELECT e.event_id, e.user_id, ROUND(p.pv, 4) AS last_purchase
    FROM events e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts >= p.ts
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each event annotated with the user's most recent (≤ ts) purchase
    value — the operators.relational.asof_join carry-forward plan; the
    oracle is DuckDB's native ASOF JOIN."""
    e = load_table(spark, sf_dir, "events")
    left = e.select("event_id", "user_id", "ts")
    right = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pv"))
    )
    from hive_json_spark.operators.relational import asof_join

    out = asof_join(left, right, ["user_id"], "ts", "ts", ["pv"])
    return out.select("event_id", "user_id", F.round("pv", 4).alias("last_purchase"))


@query(
    "q_asof_nearest",
    """
    WITH p AS (SELECT user_id, ts, MAX(value) AS pv
               FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
    c AS (
      SELECT e.event_id, e.user_id,
             ABS(epoch_us(e.ts) - epoch_us(p.ts)) AS gap_us, p.pv, p.ts AS pts,
             ROW_NUMBER() OVER (PARTITION BY e.event_id
                                ORDER BY ABS(epoch_us(e.ts) - epoch_us(p.ts)), p.ts)
               AS rn
      FROM events e JOIN p ON e.user_id = p.user_id)
    SELECT event_id, user_id, CAST(gap_us // 1000000 AS BIGINT) AS delta_s,
           ROUND(pv, 4) AS nearest_purchase
    FROM c WHERE rn = 1
    """,
)
def q_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each event annotated with the user's CLOSEST purchase in either
    time direction (ties to the earlier one) — the sensor-alignment
    variant of the backward-only q_asof_join, via
    operators.relational.asof_nearest_join: one tag+union shuffle on the
    key, one window pass carrying the latest-behind and next-ahead right
    rows, and a codegen gap comparison — while the oracle pays the naive
    per-event ROW_NUMBER over every (event × purchase) pair of the key
    group. Events of users with no purchases drop (inner semantics)."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select("event_id", "user_id", "ts")
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.col("ts").alias("pts"))
        .agg(F.max("value").alias("pv"))
    )
    from hive_json_spark.operators.relational import asof_nearest_join

    out = asof_nearest_join(e, p, ["user_id"], "ts", "pts", ["pv"])
    return out.filter(F.col("_near_ts").isNotNull()).select(
        "event_id",
        "user_id",
        F.expr("abs(unix_micros(ts) - unix_micros(_near_ts)) div 1000000")
        .cast("bigint")
        .alias("delta_s"),
        F.round("pv", 4).alias("nearest_purchase"),
    )


# --- range join (interval containment) ---------------------------------------

@query(
    "q_range_join",
    """
    WITH bands AS (SELECT i AS band_id, i * 5.0 AS lo, i * 5.0 + 5 AS hi
                   FROM range(10) AS t(i))
    SELECT band_id, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) / 100.0, 2) AS rev
    FROM lineitem l JOIN bands b ON l.l_quantity >= b.lo AND l.l_quantity < b.hi
    GROUP BY band_id
    """,
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-band revenue via operators.relational.range_join — the
    bucket-explode makes it an equi-join (broadcast here: 10 bands), never
    a nested loop."""
    li = load_table(spark, sf_dir, "lineitem")
    bands = spark.range(10).select(
        F.col("id").alias("band_id"),
        (F.col("id") * 5.0).alias("lo"),
        (F.col("id") * 5.0 + 5).alias("hi"),
    )
    from hive_json_spark.operators.relational import range_join

    joined = range_join(li.select("l_quantity", "l_extendedprice"), F.broadcast(bands),
                        "l_quantity", "lo", "hi", bucket_width=5.0)
    return joined.groupBy("band_id").agg(
        F.count("*").alias("n"), sum_exact("l_extendedprice").alias("rev")
    )


# --- interval-overlap join (interval × interval) -----------------------------

@query(
    "q_interval_overlap",
    """
    WITH o AS (
      SELECT o_custkey AS ck, o_orderkey AS ok,
             date_diff('day', TIMESTAMP '1970-01-01', o_orderdate) AS s,
             date_diff('day', TIMESTAMP '1970-01-01', o_orderdate)
               + 15 + o_orderkey % 30 AS e
      FROM orders),
    p AS (
      SELECT a.ck, least(a.e, b.e) - greatest(a.s, b.s) AS ov
      FROM o a JOIN o b
        ON a.ck = b.ck AND a.ok < b.ok AND a.s < b.e AND b.s < a.e)
    SELECT ck AS o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(ov) AS BIGINT) AS total_overlap_days,
           CAST(MAX(ov) AS BIGINT) AS max_overlap_days
    FROM p GROUP BY ck
    """,
)
def q_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fulfillment windows per customer: each order opens a
    15–44-day interval (length keyed off the orderkey so intervals vary);
    pairs of the same customer's orders whose windows intersect are
    counted and their overlap summed — the interval×interval counterpart
    of q_range_join's point∈interval.

    Runs through operators.relational.interval_overlap_join: intervals
    explode into 32-day chunks, candidates meet in an equi-join on
    (chunk), each pair kept only in the first chunk both share — exact,
    emitted once, never a nested loop (the oracle's inequality join is
    the naive plan this replaces). Overlap lengths are integer day
    arithmetic end-to-end, so every aggregate is order-free exact."""
    from hive_json_spark.operators.relational import interval_overlap_join

    o = load_table(spark, sf_dir, "orders")
    epoch = F.lit("1970-01-01").cast("timestamp")
    s = F.datediff(F.col("o_orderdate"), epoch).cast("long")
    base = o.select(
        F.col("o_custkey").alias("ck"),
        F.col("o_orderkey").alias("ok"),
        s.alias("s"),
        (s + 15 + F.col("o_orderkey") % 30).alias("e"),
    )
    a = base.select(
        F.col("ck").alias("ck_a"), F.col("ok").alias("ok_a"),
        F.col("s").alias("s_a"), F.col("e").alias("e_a"),
    )
    b = base.select(
        F.col("ck").alias("ck_b"), F.col("ok").alias("ok_b"),
        F.col("s").alias("s_b"), F.col("e").alias("e_b"),
    )
    pairs = interval_overlap_join(
        a, b, "s_a", "e_a", "s_b", "e_b", chunk=32, keys=[("ck_a", "ck_b")]
    ).filter(F.col("ok_a") < F.col("ok_b"))
    ov = F.least("e_a", "e_b") - F.greatest("s_a", "s_b")
    return pairs.groupBy(F.col("ck_a").alias("o_custkey")).agg(
        F.count("*").alias("n_pairs"),
        F.sum(ov).alias("total_overlap_days"),
        F.max(ov).alias("max_overlap_days"),
    )


# --- pivot (wide conditional aggregation) ------------------------------------

@query(
    "q_pivot_status_qty",
    """
    SELECT l_returnflag,
           ROUND(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0 END), 2) AS F,
           ROUND(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0 END), 2) AS O
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_pivot_status_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list — Catalyst rewrites it into the
    same single-pass conditional aggregation as the oracle's CASE WHEN
    form (one shuffle; an unlisted-values pivot would need a distinct scan
    first, so production pivots always pass the list)."""
    li = load_table(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )
    return out.select("l_returnflag", F.coalesce("F", F.lit(0.0)).alias("F"),
                      F.coalesce("O", F.lit(0.0)).alias("O"))


# --- pure-SQL interface (TPC-H Q6 shape over registered views) ---------------

_Q6_SQL = """
    SELECT ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * l_discount * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.05
      AND l_quantity < 24
"""


@query("q6_forecast_revenue", _Q6_SQL)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-string surface: the IDENTICAL text runs on spark.sql (over
    registered views) and on the DuckDB oracle — no DataFrame translation
    at all. All four predicates push to the parquet scan."""
    from hive_json_spark.sources.tables import load_table as _lt

    _lt(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_Q6_SQL)


# --- returned-item reporting (TPC-H Q10 shape) -------------------------------

@query(
    "q10_returned_customers",
    """
    SELECT c.c_custkey, c.c_name,
           ROUND(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) / 100.0, 2) AS revenue,
           ROUND(c.c_acctbal, 2) AS acctbal, n.n_name
    FROM customer c
      JOIN orders o   ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers who returned the most in a quarter: nation + customer
    broadcast, orders⋈lineitem shuffles on orderkey, top-20 via
    TakeOrderedAndProject with custkey tiebreak."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    joined = l.join(o, l.l_orderkey == o.o_orderkey)
    joined = broadcast_join(joined, c, F.col("o_custkey") == F.col("c_custkey"))
    joined = broadcast_join(joined, n, F.col("c_nationkey") == F.col("n_nationkey"))
    agg = joined.groupBy("c_custkey", "c_name", "c_acctbal", "n_name").agg(
        sum_exact(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    )
    return top_k(agg, [F.col("revenue").desc(), F.col("c_custkey")], 20).select(
        "c_custkey", "c_name", "revenue", F.round("c_acctbal", 2).alias("acctbal"), "n_name"
    )


# --- promo revenue share (TPC-H Q14 shape) -----------------------------------

@query(
    "q14_promo_revenue",
    """
    SELECT ROUND(100.0 * SUM(CASE WHEN p.p_type = 'PROMO'
                                  THEN CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)
                                  ELSE 0 END)
                 / SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)), 4) AS promo_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-06-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1996-07-01 00:00:00'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-aggregate ratio over a month window; part broadcasts,
    the date filter pushes to the scan, single global agg."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-06-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    rev = int_units(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("long"))
    return broadcast_join(l, p.select("p_partkey", "p_type"), F.col("l_partkey") == F.col("p_partkey")).agg(
        F.round(F.lit(100.0) * F.sum(promo) / F.sum(rev), 4).alias("promo_pct")
    )


# --- disjunctive predicate join (TPC-H Q19 shape) ----------------------------

@query(
    "q19_disjunctive_revenue",
    """
    SELECT ROUND(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) / 100.0, 2) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30 AND l.l_quantity BETWEEN 10 AND 35)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50 AND l.l_quantity BETWEEN 20 AND 50)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-of-ANDs across both join sides: Catalyst keeps the equi-key join
    (partkey) and evaluates the disjunction as a post-join filter, while
    the common p_brand IN (...) factor is inferred and pushed to the part
    scan — check PushedFilters for the In(p_brand) residual."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    j = broadcast_join(l, p.select("p_partkey", "p_brand", "p_size"),
                       F.col("p_partkey") == F.col("l_partkey"))
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30) & F.col("l_quantity").between(10, 35))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(20, 50) & F.col("l_quantity").between(20, 50))
    )
    return j.filter(cond).agg(
        sum_exact(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.count("*").alias("n"),
    )


# --- market share (TPC-H Q8 shape: nation joined twice) ----------------------

@query(
    "q8_market_share",
    """
    SELECT o_year,
           ROUND(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END) * 1.0
                 / SUM(volume), 6) AS mkt_share
    FROM (
      SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
             CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT) AS volume,
             ns.n_name AS supp_nation
      FROM lineitem l
        JOIN orders o    ON l.l_orderkey = o.o_orderkey
        JOIN customer c  ON o.o_custkey = c.c_custkey
        JOIN nation nc   ON c.c_nationkey = nc.n_nationkey
        JOIN region r    ON nc.n_regionkey = r.r_regionkey
        JOIN supplier s  ON l.l_suppkey = s.s_suppkey
        JOIN nation ns   ON s.s_nationkey = ns.n_nationkey
      WHERE r.r_name = 'ASIA'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00')
    GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nation joins twice under different roles (customer's vs supplier's) —
    the aliasing stress test. Every dimension broadcasts; the one real
    shuffle is lineitem⋈orders on orderkey, then a 2-row agg."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    nc = n.select(F.col("n_nationkey").alias("nc_key"), F.col("n_regionkey").alias("nc_region"))
    ns = n.select(F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation"))

    j = l.join(o, l.l_orderkey == o.o_orderkey)
    j = broadcast_join(j, c.select("c_custkey", "c_nationkey"), F.col("o_custkey") == F.col("c_custkey"))
    j = broadcast_join(j, nc, F.col("c_nationkey") == F.col("nc_key"))
    j = broadcast_join(j, r.select("r_regionkey"), F.col("nc_region") == F.col("r_regionkey"))
    j = broadcast_join(j, s.select("s_suppkey", "s_nationkey"), F.col("l_suppkey") == F.col("s_suppkey"))
    j = broadcast_join(j, ns, F.col("s_nationkey") == F.col("ns_key"))

    volume = int_units(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    china = F.when(F.col("supp_nation") == "NATION_3", volume).otherwise(F.lit(0).cast("long"))
    return (
        j.select(F.year("o_orderdate").cast("int").alias("o_year"),
                 volume.alias("volume"), china.alias("china_vol"))
        .groupBy("o_year")
        .agg(F.round(F.sum("china_vol") * F.lit(1.0) / F.sum("volume"), 6).alias("mkt_share"))
    )


# --- table profiling (ANALYZE-style column statistics) -----------------------

@query(
    "q_profile_lineitem",
    """
    SELECT 'l_quantity' AS col,
           CAST(COUNT(l_quantity) AS BIGINT) AS n_nonnull,
           CAST(COUNT(DISTINCT l_quantity) AS BIGINT) AS n_distinct,
           ROUND(MIN(l_quantity), 4) AS min_v, ROUND(MAX(l_quantity), 4) AS max_v,
           ROUND(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) / 100.0 / COUNT(l_quantity), 4) AS avg_v
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice',
           CAST(COUNT(l_extendedprice) AS BIGINT),
           CAST(COUNT(DISTINCT l_extendedprice) AS BIGINT),
           ROUND(MIN(l_extendedprice), 4), ROUND(MAX(l_extendedprice), 4),
           ROUND(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) / 100.0 / COUNT(l_extendedprice), 4)
    FROM lineitem
    UNION ALL
    SELECT 'l_discount',
           CAST(COUNT(l_discount) AS BIGINT),
           CAST(COUNT(DISTINCT l_discount) AS BIGINT),
           ROUND(MIN(l_discount), 4), ROUND(MAX(l_discount), 4),
           ROUND(SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) / 100.0 / COUNT(l_discount), 4)
    FROM lineitem
    """,
)
def q_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column statistics (the ANALYZE TABLE shape) for planner/quality use.

    Per column: a groupBy(value) pre-aggregation (map-side combine does the
    dedup work), then a 1-row rollup reading counts off the deduped frame —
    distinct count, non-null count, extrema, and the frequency-weighted
    mean (≡ row mean). The union of per-column pipelines beats the
    single-pass multi-countDistinct form ~2× because that one Expands the
    scan ×(distinct-aggs+1) through one giant hash aggregate; this shape
    also keeps every stage partial-aggregable at 100 TB. Exact distinct
    counts because the oracle needs determinism; the 100 TB path swaps in
    approx_count_distinct per the SCALE.md policy."""
    li = load_table(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    outs = []
    for c in cols:
        nonnull = F.sum(F.when(F.col("v").isNotNull(), F.col("cnt")).otherwise(0))
        g = li.groupBy(F.col(c).alias("v")).agg(F.count("*").alias("cnt"))
        outs.append(
            g.agg(
                F.lit(c).alias("col"),
                nonnull.alias("n_nonnull"),
                F.count(F.when(F.col("v").isNotNull(), 1)).alias("n_distinct"),
                F.round(F.min("v"), 4).alias("min_v"),
                F.round(F.max("v"), 4).alias("max_v"),
                # frequency-weighted mean in exact integer units (cents),
                # summation-order-free like every rounded aggregate here
                F.round(
                    F.sum(int_units("v") * F.col("cnt")) / 100.0 / nonnull, 4
                ).alias("avg_v"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


# --- top supplier by quarterly revenue (TPC-H Q15 shape) ---------------------

@query(
    "q15_top_supplier",
    """
    WITH rev AS (
      SELECT l_suppkey,
             ROUND(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) / 100.0, 2) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, r.total_rev
    FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
    WHERE r.total_rev = (SELECT MAX(total_rev) FROM rev)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery over an aggregate (the Q15 view pattern): the
    revenue agg computes once, its max broadcasts back as a filter —
    rounded before comparison so both engines select identical rows."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    rev = (
        l.groupBy("l_suppkey")
        .agg(sum_exact(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_rev"))
    )
    max_rev = rev.agg(F.max("total_rev").alias("m"))
    top = rev.join(F.broadcast(max_rev), rev.total_rev == max_rev.m).drop("m")
    return broadcast_join(
        s.select("s_suppkey", "s_name"), top, F.col("s_suppkey") == F.col("l_suppkey")
    ).select("s_suppkey", "s_name", "total_rev")


# =============================================================================
# TPC-H completion: the 10 remaining query shapes (Q2 Q4 Q7 Q9 Q11 Q12 Q16
# Q20 Q21 Q22). The testdata schema has no partsupp table and no
# commit/receipt dates, phone, or shipmode columns, so the five queries that
# need them (Q2 Q9 Q11 Q16 Q20) keep their exact join/subquery STRUCTURE with
# lineitem as the part↔supplier association, and lateness is defined as
# shipping > N days after o_orderdate. Each docstring names the substitution.
# =============================================================================


@query(
    "q4_order_priority",
    """
    SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
    GROUP BY o.o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS-correlated semi-join then a tiny agg. The
    reference schema's l_commitdate < l_receiptdate lateness test becomes
    shipped >30 days after order date. Semi-join shuffles both sides on
    orderkey once; the priority agg is 5 groups, map-side combined."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = semi_join(
        o,
        l,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
    )
    return late.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("order_count")
    )


@query(
    "q7_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year, ROUND(SUM(volume) / 100.0, 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
             CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT) AS volume
      FROM supplier s
        JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
        JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00') shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: bilateral trade volume by year. nation⋈supplier and
    nation⋈customer broadcast; the only shuffle is lineitem⋈orders on
    orderkey; the disjunctive nation-pair filter prunes before the agg."""
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    s = broadcast_join(
        load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey"),
        n.select("n_nationkey", F.col("n_name").alias("supp_nation")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "supp_nation")
    c = broadcast_join(
        load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"),
        n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")),
        F.col("c_nationkey") == F.col("cn_key"),
    ).select("c_custkey", "cust_nation")
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    j = l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
    j = broadcast_join(j, s, F.col("l_suppkey") == F.col("s_suppkey"))
    j = broadcast_join(j, c, F.col("o_custkey") == F.col("c_custkey"))
    j = j.filter(
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").cast("bigint").alias("l_year")
    ).agg(
        F.round(
            F.sum(int_units(F.col("l_extendedprice") * (1 - F.col("l_discount")))) / 100.0,
            2,
        ).alias("revenue")
    )


@query(
    "q2_min_cost_supplier",
    """
    WITH cost AS (
      SELECT l_partkey, l_suppkey, MIN(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey),
    eligible AS (
      SELECT c.l_partkey, c.unit_cost, s.s_name, s.s_acctbal, n.n_name
      FROM cost c
        JOIN supplier s ON s.s_suppkey = c.l_suppkey
        JOIN nation n   ON n.n_nationkey = s.s_nationkey
        JOIN region r   ON r.r_regionkey = n.n_regionkey
        JOIN part p     ON p.p_partkey = c.l_partkey
      WHERE r.r_name = 'ASIA' AND p.p_size = 15)
    SELECT e.s_acctbal, e.s_name, e.n_name, e.l_partkey AS p_partkey,
           ROUND(e.unit_cost, 4) AS unit_cost
    FROM eligible e
    WHERE e.unit_cost = (SELECT MIN(e2.unit_cost) FROM eligible e2
                         WHERE e2.l_partkey = e.l_partkey)
    ORDER BY e.s_acctbal DESC, e.n_name, e.s_name, p_partkey
    LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: cheapest supplier per part within a region, via a
    correlated min-subquery. No partsupp table, so supply cost is the
    observed min unit price (l_extendedprice / l_quantity) per
    (part, supplier) from lineitem. The correlated min de-correlates to a
    window-min over partkey; MIN of identical doubles is exact on both
    engines so the equality filter is hash-safe (no sum-order drift)."""
    l = load_table(spark, sf_dir, "lineitem")
    cost = l.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") == 15).select("p_partkey")
    nr = broadcast_join(n, r, F.col("n_regionkey") == F.col("r_regionkey"))
    sn = broadcast_join(
        s, nr.select("n_nationkey", "n_name"), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_name", "s_acctbal", "n_name")
    eligible = broadcast_join(cost, sn, F.col("l_suppkey") == F.col("s_suppkey"))
    eligible = broadcast_join(eligible, p, F.col("l_partkey") == F.col("p_partkey"))
    w = Window.partitionBy("l_partkey")
    best = eligible.withColumn("min_cost", F.min("unit_cost").over(w)).filter(
        F.col("unit_cost") == F.col("min_cost")
    )
    out = best.select(
        "s_acctbal", "s_name", "n_name", F.col("l_partkey").alias("p_partkey"),
        F.round("unit_cost", 4).alias("unit_cost"),
    )
    return top_k(
        out,
        [F.col("s_acctbal").desc(), F.col("n_name"), F.col("s_name"), F.col("p_partkey")],
        100,
    )


@query(
    "q9_product_type_profit",
    """
    SELECT nation, o_year, ROUND(SUM(amount_cents) / 100.0, 2) AS sum_profit
    FROM (
      SELECT n.n_name AS nation,
             CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
             CAST(ROUND((l.l_extendedprice * (1 - l.l_discount)
               - 0.5 * p.p_retailprice * l.l_quantity) * 100) AS BIGINT)
               AS amount_cents
      FROM part p
        JOIN lineitem l ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN nation n   ON n.n_nationkey = s.s_nationkey
      WHERE p.p_name LIKE '%gear%') profit
    GROUP BY nation, o_year
    """,
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation × order year for one
    product family. No partsupp, so cost is 0.5 × p_retailprice ×
    quantity instead of ps_supplycost × quantity — identical join graph
    (part+supplier+nation broadcast, lineitem⋈orders shuffles on
    orderkey), identical agg shape. The profit sum accumulates integer cents
    (per-row product rounded once) so the total is exact and
    summation-order-free — double sums flipped the rounded cent at
    sf0.1."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%")).select(
        "p_partkey", "p_retailprice"
    )
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = broadcast_join(l, p, F.col("p_partkey") == F.col("l_partkey"))
    j = j.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
    j = broadcast_join(j, s, F.col("l_suppkey") == F.col("s_suppkey"))
    j = broadcast_join(j, n, F.col("s_nationkey") == F.col("n_nationkey"))
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.5 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    amount_cents = F.round(amount * 100).cast("long")
    return j.groupBy(
        F.col("n_name").alias("nation"),
        F.year("o_orderdate").cast("bigint").alias("o_year"),
    ).agg(F.round(F.sum(amount_cents) / 100.0, 2).alias("sum_profit"))


@query(
    "q11_important_parts",
    """
    WITH v AS (
      SELECT l.l_partkey,
             CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n   ON n.n_nationkey = s.s_nationkey
      WHERE n.n_name IN ('NATION_1', 'NATION_6', 'NATION_11')
      GROUP BY l.l_partkey)
    SELECT l_partkey AS p_partkey, ROUND(cents / 100.0, 2) AS part_value
    FROM v
    WHERE cents > (SELECT SUM(cents) * 0.001 FROM v)
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose share of total value exceeds a
    fraction — group-agg plus a scalar-subquery threshold over the same
    agg. Value is lineitem revenue (no partsupp availqty×supplycost).

    Cross-engine determinism: per-line revenue is rounded to integer
    cents BEFORE summing (the q9 pattern) — long sums are exact and
    commutative, so neither the per-part value nor the global threshold
    depends on summation order. The threshold compare itself runs on the
    cents longs; the display value is cents/100 rounded (identical
    double in both engines given identical cents). The agg computes
    once and its total broadcasts back (the Q15 scalar pattern)."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_6", "NATION_11")
    )
    sn = broadcast_join(
        s, n.select("n_nationkey"), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey")
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    v = (
        broadcast_join(l, sn, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(cents).alias("cents"))
    )
    total = v.agg((F.sum("cents") * 0.001).alias("threshold"))
    return (
        v.join(F.broadcast(total))
        .filter(F.col("cents") > F.col("threshold"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.round(F.col("cents") / 100.0, 2).alias("part_value"),
        )
    )


@query(
    "q12_shipmode_priority",
    """
    SELECT l.l_returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l.l_returnflag
    """,
)
def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional two-way counts by category for late
    lines. No l_shipmode/l_receiptdate columns: category is l_returnflag
    and late = shipped >60 days after order date. One orderkey shuffle,
    3-group agg with map-side combine."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    j = l.join(o, F.col("o_orderkey") == F.col("l_orderkey")).filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return j.groupBy("l_returnflag").agg(
        F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
        F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
    )


@query(
    "q16_supplier_cnt",
    """
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#3' AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct suppliers per (brand, type, size) with a
    NOT-IN supplier exclusion. The reference's complaint-comment filter
    becomes s_acctbal < 0 (no comment column). Exclusion is a broadcast
    anti-join; part is a broadcast dim; the distinct-agg shuffles once on
    the group keys."""
    p = (
        load_table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#3")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bad = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    l = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    kept = anti_join(l, F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"))
    j = broadcast_join(kept, p, F.col("p_partkey") == F.col("l_partkey"))
    return j.groupBy("p_brand", "p_type", "p_size").agg(
        F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt")
    )


@query(
    "q20_potential_promotion",
    """
    SELECT s.s_name, s.s_acctbal
    FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE n.n_name IN ('NATION_3', 'NATION_8', 'NATION_13')
      AND s.s_suppkey IN (
        SELECT l.l_suppkey
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_name LIKE 'small%'
          AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l.l_suppkey
        HAVING SUM(l.l_quantity) > 100)
    """,
)
def q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers in given nations who moved a material
    volume of one part family — IN over a HAVING-filtered agg subquery.
    No partsupp availqty, so the threshold is total shipped quantity
    (integer-valued, so the > compare is exact). The subquery agg
    shuffles on suppkey (100 groups), then semi-joins broadcast."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("small%")).select("p_partkey")
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    movers = (
        broadcast_join(l, p, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 100)
        .select("l_suppkey")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_8", "NATION_13")
    )
    sn = broadcast_join(
        s, n.select("n_nationkey"), F.col("s_nationkey") == F.col("n_nationkey")
    )
    return semi_join(
        sn, F.broadcast(movers), F.col("s_suppkey") == F.col("l_suppkey")
    ).select("s_name", "s_acctbal")


@query(
    "q21_suppliers_kept_waiting",
    """
    WITH ol AS (
      SELECT l.l_orderkey, l.l_suppkey,
             CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                  THEN 1 ELSE 0 END AS is_late
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderstatus = 'F'),
    stats AS (
      SELECT l_orderkey,
             COUNT(DISTINCT l_suppkey) AS nsupp,
             COUNT(DISTINCT CASE WHEN is_late = 1 THEN l_suppkey END) AS nlate
      FROM ol GROUP BY l_orderkey)
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM ol
      JOIN stats st ON st.l_orderkey = ol.l_orderkey
      JOIN supplier s ON s.s_suppkey = ol.l_suppkey
    WHERE ol.is_late = 1 AND st.nsupp > 1 AND st.nlate = 1
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 20
    """,
)
def q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper in a
    multi-supplier finished order. The spec's EXISTS / NOT-EXISTS pair
    de-correlates into per-order distinct supplier counts; lateness is
    shipped >60 days after order date (no receipt/commit dates).

    Spark computes the per-order counts as window ``collect_set`` sizes
    over the orderkey partition — the joined lines are ALREADY
    partitioned by orderkey, so the window adds a sort but NO exchange
    and there is no agg + join-back (the oracle spells the same logic as
    the CTE formulation). Set sizes are bounded by suppliers-per-order,
    so window state stays small at any scale. Supplier is a broadcast
    dim; top-k is TakeOrderedAndProject."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    ol = l.join(o, F.col("o_orderkey") == F.col("l_orderkey")).select(
        "l_orderkey",
        "l_suppkey",
        F.when(
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"), 1
        )
        .otherwise(0)
        .alias("is_late"),
    )
    w = Window.partitionBy("l_orderkey")
    j = ol.select(
        "l_suppkey",
        "is_late",
        F.size(F.collect_set("l_suppkey").over(w)).alias("nsupp"),
        F.size(
            F.collect_set(F.when(F.col("is_late") == 1, F.col("l_suppkey"))).over(w)
        ).alias("nlate"),
    ).filter((F.col("is_late") == 1) & (F.col("nsupp") > 1) & (F.col("nlate") == 1))
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    j = broadcast_join(j, s, F.col("s_suppkey") == F.col("l_suppkey"))
    agg = j.groupBy("s_name").agg(F.count("*").cast("bigint").alias("numwait"))
    return top_k(agg, [F.col("numwait").desc(), F.col("s_name")], 20)


@query(
    "q22_global_sales_opportunity",
    """
    WITH pool AS (
      SELECT c_custkey, c_nationkey, c_acctbal FROM customer
      WHERE c_nationkey IN (3, 8, 13, 18, 23))
    SELECT c.c_nationkey, CAST(COUNT(*) AS BIGINT) AS numcust,
           ROUND(SUM(CAST(ROUND(c.c_acctbal * 100) AS BIGINT)) / 100.0, 2) AS totacctbal
    FROM pool c
    WHERE c.c_acctbal > (SELECT SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) / 100.0 / COUNT(c_acctbal)
                         FROM pool WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY c.c_nationkey
    """,
)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: well-funded customers in target countries who
    never ordered. Country code is c_nationkey (no phone column). The
    scalar AVG broadcasts back as a filter; "lapsed" means no order in
    the dataset's final two years (every pooled customer HAS ordered at
    some point in this testdata, so the spec's never-ordered predicate
    would be vacuous) — an anti-join on custkey; final agg is per-nation.
    The AVG threshold and the balance sum run on exact integer cents so
    row membership and totals are summation-order-free."""
    pool = load_table(spark, sf_dir, "customer").filter(
        F.col("c_nationkey").isin(3, 8, 13, 18, 23)
    ).select("c_custkey", "c_nationkey", "c_acctbal")
    thresh = pool.filter(F.col("c_acctbal") > 0).agg(
        (F.sum(int_units("c_acctbal")) / 100.0 / F.count("c_acctbal")).alias("avg_bal")
    )
    rich = pool.join(F.broadcast(thresh)).filter(F.col("c_acctbal") > F.col("avg_bal"))
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select("o_custkey")
    never = anti_join(rich, o, F.col("o_custkey") == F.col("c_custkey"))
    return never.groupBy("c_nationkey").agg(
        F.count("*").cast("bigint").alias("numcust"),
        sum_exact("c_acctbal").alias("totacctbal"),
    )


# --- time-hierarchy rollup (continuous-aggregate shape) ----------------------

@query(
    "q_time_rollup",
    """
    WITH e AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP)  AS day_start,
                      CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
                      value
               FROM events)
    SELECT day_start, hour_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0, 4) AS total_value
    FROM e GROUP BY GROUPING SETS ((day_start), (day_start, hour_start))
    """,
)
def q_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity time rollup (the hypertable continuous-aggregate
    shape): hourly and daily aggregates of the event stream in ONE pass —
    GROUPING SETS expands after the map-side partial agg, so the fact
    scan and the partial aggregation are shared across granularities
    instead of one scan per rollup level. Day-level rows carry NULL
    hour_start (the usual continuous-aggregate layout)."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        """
        WITH e AS (SELECT date_trunc('day', ts)  AS day_start,
                          date_trunc('hour', ts) AS hour_start,
                          value
                   FROM events)
        SELECT day_start, hour_start,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               ROUND(CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0, 4) AS total_value
        FROM e GROUP BY GROUPING SETS ((day_start), (day_start, hour_start))
        """
    )


# --- histogram / binning -----------------------------------------------------

@query(
    "q_histogram_prices",
    """
    SELECT CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0, 2) AS bucket_total
    FROM orders
    GROUP BY 1
    """,
)
def q_histogram_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order totals (fixed bin width so the
    binning is a pure narrow projection — no min/max pre-pass, no second
    scan; FLOOR of the same IEEE division is engine-identical). The
    profiling/data-quality counterpart to q_percentiles."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy(
        F.floor(F.col("o_totalprice") / 50000).cast("bigint").alias("bucket")
    ).agg(
        F.count("*").cast("bigint").alias("n_orders"),
        sum_exact("o_totalprice").alias("bucket_total"),
    )


# --- correlation / covariance aggregates -------------------------------------

@query(
    "q_corr_quantity_price",
    """
    SELECT l_returnflag,
           ROUND(CORR(l_quantity, l_extendedprice), 6)       AS corr_qty_price,
           ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 4) AS covar_qty_price,
           ROUND(REGR_SLOPE(l_extendedprice, l_quantity), 4) AS slope_price_per_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_corr_quantity_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics per group: correlation, sample covariance and
    the regression slope between quantity and price — single-pass
    co-moment aggregates (map-side combinable sketches, one shuffle of
    3 groups × constant-size state). Rounded so the engines' co-moment
    accumulation orders can't flip the hash."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("covar_qty_price"),
        F.round(
            F.expr("regr_slope(l_extendedprice, l_quantity)"), 4
        ).alias("slope_price_per_qty"),
    )


# --- temporal (SCD2 effective-dated) dimension join --------------------------

@query(
    "q_temporal_join",
    """
    WITH marked AS (
      SELECT user_id, ts, event_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
      FROM events WHERE event_type != 'purchase'),
    dim AS (
      SELECT user_id, event_type AS status, ts AS eff_from,
             COALESCE(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                      TIMESTAMP '9999-01-01 00:00:00') AS eff_to
      FROM marked WHERE prev_type IS NULL OR event_type != prev_type),
    fact AS (
      SELECT user_id, ts, CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase')
    SELECT d.status,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(f.cents) AS BIGINT) AS revenue_cents
    FROM fact f JOIN dim d
      ON f.user_id = d.user_id AND f.ts >= d.eff_from AND f.ts < d.eff_to
    GROUP BY d.status
    """,
)
def q_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective-dated (SCD2) dimension join: non-purchase events collapse
    into per-user STATUS PERIODS (a new version only when the status
    actually changes — the SCD2 build), and each purchase joins to the
    version in effect at its timestamp — the point-in-time dimension
    lookup every warehouse does against slowly-changing dimensions.

    Spark-first plan: because versions are non-overlapping per user, the
    interval-containment join IS a backward as-of join — one tag+union
    shuffle on the key via operators.relational.asof_join, no range
    predicate ever reaching a join operator — while the oracle pays the
    naive inequality join. Purchases before the first version drop on
    both sides (inner semantics); revenue is exact integer cents."""
    from hive_json_spark.operators.relational import asof_join

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nonp = ev.filter(F.col("event_type") != "purchase")
    marked = nonp.select(
        "user_id", "ts", "event_id", "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    changes = marked.filter(
        F.col("prev_type").isNull() | (F.col("event_type") != F.col("prev_type"))
    )
    # two status changes at the same instant: the earlier (lower event_id)
    # version is zero-length in the oracle's [eff_from, next_eff_from)
    # build and never matches — keep only the surviving one so the as-of
    # carry can't tie on equal timestamps
    wv = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    dim = (
        changes.withColumn("_vrn", F.row_number().over(wv))
        .filter(F.col("_vrn") == 1)
        .select(
            "user_id", F.col("event_type").alias("status"), F.col("ts").alias("eff_from")
        )
    )
    fact = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", int_units("value").alias("cents")
    )
    joined = asof_join(fact, dim, ["user_id"], "ts", "eff_from", ["status"])
    return (
        joined.filter(F.col("status").isNotNull())
        .groupBy("status")
        .agg(
            F.count("*").alias("n_purchases"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
    )
