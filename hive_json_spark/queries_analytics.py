"""Behavioral / time-series analytics queries over the events corpus, plus
function-surface breadth packs (window suite, scalar pack 2) and the
Bloom-semi-join scale path. Everything here is DuckDB-oracled except the
sketch-based q_approx_quantiles (rows-only; accuracy pinned in
tests/test_pipeline_ops.py).

These extend the reference surface the same way the relational layer does
(SURVEY §2 "explicitly absent" table): the reference computes schemas, a
real engine on those schemas needs funnels / cohorts / transitions /
anomaly scans — the standard product-analytics shapes — expressed
Catalyst-first (windows + conditional aggregation, no Python in the path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from hive_json_spark.functions.exact import avg_exact, int_units, sum_exact
from hive_json_spark.operators.relational import bloom_semi_join, grouped_value_ranks
from hive_json_spark.registry import query
from hive_json_spark.sources import load_table, table_row_count

# --- behavioral analytics on events -----------------------------------------

@query(
    "q_funnel_conversion",
    """
    WITH s AS (SELECT user_id, MIN(ts) AS s_ts FROM events
               WHERE event_type = 'signup' GROUP BY user_id),
         c AS (SELECT e.user_id, MIN(e.ts) AS c_ts FROM events e
               JOIN s ON e.user_id = s.user_id
               WHERE e.event_type = 'click' AND e.ts > s.s_ts
               GROUP BY e.user_id),
         p AS (SELECT e.user_id, MIN(e.ts) AS p_ts FROM events e
               JOIN c ON e.user_id = c.user_id
               WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
               GROUP BY e.user_id)
    SELECT '1_signup' AS stage, CAST(COUNT(*) AS BIGINT) AS users FROM s
    UNION ALL
    SELECT '2_click' AS stage, CAST(COUNT(*) AS BIGINT) AS users FROM c
    UNION ALL
    SELECT '3_purchase' AS stage, CAST(COUNT(*) AS BIGINT) AS users FROM p
    """,
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered signup→click→purchase funnel: per stage, users whose first
    qualifying event strictly follows their previous stage's first event.

    Plan shape (r8 rewrite): ONE scan of events (event_type IN pushed to
    the scan) and ONE shuffle on user_id. The stage dependency chain
    (c_ts needs s_ts, p_ts needs c_ts) runs as three consecutive window
    aggregates over the SAME user_id partitioning — Spark inserts one
    exchange and the second/third windows plus the per-user collapse
    reuse it. The previous per-stage broadcast-back form re-evaluated
    earlier stages inside later ones (s three times, c twice: 6 corpus
    passes); at 100 TB that is 6 scans vs this plan's 1.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("signup", "click", "purchase"))
        .select("user_id", "ts", "event_type")
    )
    w = Window.partitionBy("user_id")
    staged = (
        ev.withColumn(
            "s_ts",
            F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(w),
        )
        .withColumn(
            "c_ts",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") > F.col("s_ts")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "p_ts",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("c_ts")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.max("s_ts").alias("s_ts"),
        F.max("c_ts").alias("c_ts"),
        F.max("p_ts").alias("p_ts"),
    )
    counts = per_user.agg(
        F.count("s_ts").alias("n1"),
        F.count("c_ts").alias("n2"),
        F.count("p_ts").alias("n3"),
    )
    return counts.select(
        F.expr(
            "stack(3, '1_signup', n1, '2_click', n2, '3_purchase', n3) "
            "AS (stage, users)"
        )
    )


@query(
    "q_window_funnel",
    """
    WITH s AS (SELECT user_id, MIN(ts) AS t1 FROM events
               WHERE event_type = 'signup' GROUP BY user_id),
         c AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
               JOIN s ON e.user_id = s.user_id
               WHERE e.event_type = 'click' AND e.ts > s.t1
                 AND e.ts <= s.t1 + INTERVAL '7 days'
               GROUP BY e.user_id),
         p AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
               JOIN c ON e.user_id = c.user_id
               JOIN s ON e.user_id = s.user_id
               WHERE e.event_type = 'purchase' AND e.ts > c.t2
                 AND e.ts <= s.t1 + INTERVAL '7 days'
               GROUP BY e.user_id)
    SELECT CAST(CASE WHEN p.user_id IS NOT NULL THEN 3
                     WHEN c.user_id IS NOT NULL THEN 2
                     ELSE 1 END AS BIGINT) AS level,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM s LEFT JOIN c ON s.user_id = c.user_id
           LEFT JOIN p ON s.user_id = p.user_id
    GROUP BY 1
    """,
)
def q_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed funnel (the windowFunnel shape): per user, the deepest
    ordered signup -> click -> purchase chain whose later stages all land
    within 7 days of the FIRST stage — unlike q_funnel_conversion, a
    conversion only counts inside the attribution window, the form
    marketing/product funnels actually use. Output: users per max level.

    Plan shape (r8 rewrite, same as q_funnel_conversion): ONE scan of
    events (type IN pushed down) and ONE user_id exchange feeding three
    chained window aggregates — t2's window predicate reads t1 from the
    previous window's output, t3's reads both — then an in-partition
    per-user collapse and a tiny per-level count. The previous
    broadcast-back form re-evaluated earlier stages inside later ones
    (6 corpus passes); this is 1.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("signup", "click", "purchase"))
        .select("user_id", "ts", "event_type")
    )
    week = F.expr("INTERVAL 7 DAYS")
    w = Window.partitionBy("user_id")
    staged = (
        ev.withColumn(
            "t1", F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(w)
        )
        .withColumn(
            "t2",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") > F.col("t1"))
                    & (F.col("ts") <= F.col("t1") + week),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t3",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t2"))
                    & (F.col("ts") <= F.col("t1") + week),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    per_user = (
        staged.groupBy("user_id")
        .agg(
            F.max("t1").alias("t1"),
            F.max("t2").alias("t2"),
            F.max("t3").alias("t3"),
        )
        .filter(F.col("t1").isNotNull())
    )
    levels = per_user.select(
        F.when(F.col("t3").isNotNull(), 3)
        .when(F.col("t2").isNotNull(), 2)
        .otherwise(1)
        .cast("bigint")
        .alias("level")
    )
    return levels.groupBy("level").agg(F.count("*").alias("n_users"))


@query(
    "q_cohort_retention",
    """
    WITH f AS (SELECT user_id,
                      CAST(date_trunc('week', MIN(ts)) AS TIMESTAMP) AS cohort_week
               FROM events GROUP BY user_id),
         a AS (SELECT DISTINCT user_id,
                      CAST(date_trunc('week', ts) AS TIMESTAMP) AS week
               FROM events)
    SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week, a.week) / 7 AS INT) AS week_offset,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS users
    FROM a JOIN f ON a.user_id = f.user_id
    GROUP BY f.cohort_week, week_offset
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle: users active N weeks after their
    first-seen week. First-seen frame is one row per user → broadcast onto
    the distinct (user, week) activity set; one shuffle for the distinct,
    one for the final small groupBy.
    """
    ev = load_table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    act = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    ).distinct()
    return (
        act.join(F.broadcast(first), "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff("week", "cohort_week") / 7).cast("int").alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").alias("users"))
    )


@query(
    "q_event_transitions",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_type
      FROM events)
    SELECT event_type AS from_type, next_type AS to_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY from_type, to_type
    """,
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts between consecutive events per
    user (the "what do users do next" matrix). One shuffle on user_id for
    the lead window (event_id tiebreak = total order), then a 25-row agg.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    return seq.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count("*").alias("n"))


@query(
    "q_anomaly_daily",
    """
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, day)
    SELECT event_type, day, n,
           ROUND((n - avg(n) OVER (PARTITION BY event_type))
                 / stddev_samp(n) OVER (PARTITION BY event_type), 4) AS z
    FROM daily
    """,
)
def q_anomaly_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type daily volume z-scores (the rate-anomaly scan behind alerting
    and data-quality monitors). The windowed mean/stddev run over the
    *aggregated* daily frame (|types|×|days| rows), so the scale cost is the
    first groupBy — a partial-agg-friendly count.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("event_type")
    return daily.select(
        "event_type",
        "day",
        "n",
        F.round(
            (F.col("n") - F.avg("n").over(w)) / F.stddev_samp("n").over(w), 4
        ).alias("z"),
    )


@query(
    "q_shapley_attribution",
    """
    WITH per_user AS (
      SELECT user_id,
             CASE WHEN SUM(CASE WHEN event_type = 'click'  THEN 1 ELSE 0 END) > 0 THEN 1 ELSE 0 END
           + CASE WHEN SUM(CASE WHEN event_type = 'error'  THEN 1 ELSE 0 END) > 0 THEN 2 ELSE 0 END
           + CASE WHEN SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) > 0 THEN 4 ELSE 0 END
           + CASE WHEN SUM(CASE WHEN event_type = 'view'   THEN 1 ELSE 0 END) > 0 THEN 8 ELSE 0 END
               AS mask,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY user_id),
    mc AS (SELECT mask, CAST(COUNT(*) AS BIGINT) AS n
           FROM per_user WHERE conv = 1 GROUP BY mask),
    subsets AS (SELECT CAST(i AS BIGINT) AS s FROM range(16) t(i)),
    v AS (SELECT s, COALESCE(SUM(n), 0) AS v
          FROM subsets LEFT JOIN mc ON (mask & s) = mask GROUP BY s),
    ch AS (SELECT * FROM (VALUES (CAST(1 AS BIGINT), 'click'),
                                 (CAST(2 AS BIGINT), 'error'),
                                 (CAST(4 AS BIGINT), 'signup'),
                                 (CAST(8 AS BIGINT), 'view')) AS t(bit, channel)),
    terms AS (
      SELECT ch.channel,
             CASE bit_count(st.s) WHEN 0 THEN 6 WHEN 1 THEN 2
                                  WHEN 2 THEN 2 WHEN 3 THEN 6 END
               * (vin.v - vout.v) AS term
      FROM ch
      JOIN subsets st ON (st.s & ch.bit) = 0
      JOIN v vout ON vout.s = st.s
      JOIN v vin  ON vin.s  = st.s + ch.bit)
    SELECT channel,
           CAST(SUM(term) AS BIGINT) AS phi_scaled,
           ROUND(SUM(term) / 24.0, 6) AS shapley
    FROM terms GROUP BY channel
    """,
)
def q_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley-value channel attribution: each non-purchase channel's
    average marginal contribution to conversions over all orderings of the
    4-channel coalition — the game-theoretic attribution that first/last-
    touch (q_attribution) and Markov removal (q_markov_absorption)
    approximate from different angles. v(S) = conversions among users
    whose touched-channel set ⊆ S; φ_c = Σ_{S∌c} |S|!·(3−|S|)!·[v(S∪c)−
    v(S)], kept in integers by scaling with 4! = 24 (weights 6/2/2/6).

    Exactness is affordable because the coalition lattice has 2⁴ = 16
    cells: the ONLY corpus-sized work is one groupBy(user) for the
    (mask, converted) profile and one 16-row mask count; v's subset-sum
    (zeta transform), the 4×8 marginal terms, and the factorial weighting
    all run on broadcast-tiny frames. All integer until one closing
    division — engine-order-free. The efficiency property Σφ_c =
    v(full) − v(∅) is pinned in tests."""
    ev = load_table(spark, sf_dir, "events")
    bits = [("click", 1), ("error", 2), ("signup", 4), ("view", 8)]
    mask = sum(
        (
            F.when(
                F.max(F.when(F.col("event_type") == name, 1).otherwise(0)) > 0, b
            ).otherwise(0)
            for name, b in bits
        ),
        F.lit(0),
    )
    per_user = ev.groupBy("user_id").agg(
        mask.alias("mask"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("conv"),
    )
    mc = (
        per_user.filter(F.col("conv") == 1)
        .groupBy("mask")
        .agg(F.count("*").alias("n"))
    )
    subsets = spark.range(16).select(F.col("id").alias("s"))
    v = (
        subsets.join(
            F.broadcast(mc), F.col("mask").bitwiseAND(F.col("s")) == F.col("mask"), "left"
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("n"), F.lit(0)).alias("v"))
    )
    ch = spark.createDataFrame(
        [(b, name) for name, b in bits], "bit long, channel string"
    )
    weight = (
        F.when(F.bit_count("s") == 0, 6)
        .when(F.bit_count("s") == 1, 2)
        .when(F.bit_count("s") == 2, 2)
        .otherwise(6)
    )
    vout = v.select(F.col("s"), F.col("v").alias("v_out"))
    vin = v.select(F.col("s").alias("s_in"), F.col("v").alias("v_in"))
    terms = (
        ch.join(F.broadcast(vout), F.col("s").bitwiseAND(F.col("bit")) == 0)
        .join(F.broadcast(vin), F.col("s_in") == F.col("s") + F.col("bit"))
        .select("channel", (weight * (F.col("v_in") - F.col("v_out"))).alias("term"))
    )
    return terms.groupBy("channel").agg(
        F.sum("term").cast("bigint").alias("phi_scaled"),
        F.round(F.sum("term") / 24.0, 6).alias("shapley"),
    )


@query(
    "q_forecast_backtest",
    """
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, day)
    SELECT a.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_scored,
           ROUND(CAST(SUM(ABS(a.n - f.n)) AS DOUBLE) / COUNT(*), 6) AS mae,
           ROUND(CAST(SUM(a.n - f.n) AS DOUBLE) / COUNT(*), 6) AS bias,
           CAST(SUM(CASE WHEN a.n > f.n THEN 1 ELSE 0 END) AS BIGINT) AS n_over
    FROM daily a JOIN daily f
      ON a.event_type = f.event_type AND f.day = a.day - INTERVAL 7 DAY
    GROUP BY a.event_type
    """,
)
def q_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each day's per-type event
    volume with the value from 7 days earlier and score MAE / bias /
    over-forecast counts — the forecast-QA readout that gates whether a
    fancier model beats the weekly-seasonality floor (and the
    data-quality tripwire for "volume shifted vs the same weekday last
    week").

    The lag is by CALENDAR day (an equality self-join on day−7), not by
    row offset — gap days must not slide the forecast window, which a
    LAG(7) over observed rows silently would. Scale shape: both join
    sides are the same |types|×|days| daily aggregate (the fact-table
    scan happens once, combinable count); metrics are exact integer sums
    with one closing division each (engine-order-free)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").alias("n"))
    a = daily.select("event_type", "day", F.col("n").alias("n_a"))
    f = daily.select(
        "event_type",
        (F.col("day") + F.expr("INTERVAL 7 DAYS")).alias("day"),
        F.col("n").alias("n_f"),
    )
    j = a.join(f, ["event_type", "day"])
    diff = F.col("n_a") - F.col("n_f")
    return j.groupBy("event_type").agg(
        F.count("*").alias("n_scored"),
        F.round(F.sum(F.abs(diff)).cast("double") / F.count("*"), 6).alias("mae"),
        F.round(F.sum(diff).cast("double") / F.count("*"), 6).alias("bias"),
        F.sum(F.when(diff > 0, 1).otherwise(0)).cast("bigint").alias("n_over"),
    )


@query(
    "q_weighted_median",
    """
    WITH v AS (
      SELECT l_returnflag AS flag,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
             CAST(l_quantity AS BIGINT) AS wgt
      FROM lineitem),
    g AS (SELECT flag, cents, SUM(wgt) AS w FROM v GROUP BY flag, cents),
    c AS (SELECT flag, cents,
                 SUM(w) OVER (PARTITION BY flag ORDER BY cents
                              ROWS UNBOUNDED PRECEDING) AS cum,
                 SUM(w) OVER (PARTITION BY flag) AS tot
          FROM g)
    SELECT flag AS l_returnflag,
           ROUND(MIN(cents) / 100.0, 2) AS weighted_median,
           CAST(MIN(tot) AS BIGINT) AS total_weight
    FROM c WHERE cum * 2 >= tot GROUP BY flag
    """,
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median (lower median: smallest value whose cumulative
    weight reaches half the total) of price weighted by quantity, per
    return flag — the skew-robust "typical traded price" statistic that
    plain AVG mis-states and unweighted median ignores volume for.

    Scale shape (two-phase bucketed selection, the q_equidepth_bins
    decomposition): prices are near-unique, so a per-flag running sum
    over the distinct-value frame is really a single task per flag — the
    naive window plan the ORACLE runs. Instead phase 1 aggregates weight
    into fixed-width value buckets (a combinable groupBy; the frame is
    |flags|×|buckets|, data-independent) and a tiny window finds the one
    bucket that straddles half the total weight; phase 2 rescans ONLY
    that bucket's rows (a pushed-down selective filter) and runs the
    running sum inside it, offset by the weight before the bucket. Same
    integer arithmetic end to end — the hash-match against the naive
    oracle proves the decomposition — but no window ever scans more than
    one bucket of one flag (measured 2.6 s → ~1 s at sf0.1, and at 100 TB
    the per-flag single-task tail disappears entirely)."""
    bucket_w = 100_000  # cents per bucket (~$1000); |buckets| ≈ price range / 1k
    li = load_table(spark, sf_dir, "lineitem")
    v = li.select(
        F.col("l_returnflag").alias("flag"),
        int_units("l_extendedprice").alias("cents"),
        F.col("l_quantity").cast("bigint").alias("wgt"),
    )
    b = v.groupBy("flag", (F.col("cents") / bucket_w).cast("bigint").alias("bkt")).agg(
        F.sum("wgt").alias("bw")
    )
    wb = (
        Window.partitionBy("flag")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("flag")
    marked = b.select(
        "flag",
        "bkt",
        (F.sum("bw").over(wb) - F.col("bw")).alias("before"),
        F.sum("bw").over(wb).alias("cum_b"),
        F.sum("bw").over(wt).alias("tot"),
    )
    target = marked.filter(
        (F.col("cum_b") * 2 >= F.col("tot")) & (F.col("before") * 2 < F.col("tot"))
    ).select("flag", "bkt", "before", "tot")
    in_bucket = (
        v.join(F.broadcast(target), ["flag"])
        .filter((F.col("cents") / bucket_w).cast("bigint") == F.col("bkt"))
        .groupBy("flag", "cents", "before", "tot")
        .agg(F.sum("wgt").alias("w"))
    )
    wc = (
        Window.partitionBy("flag")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = in_bucket.select(
        "flag",
        "cents",
        "tot",
        (F.col("before") + F.sum("w").over(wc)).alias("cum"),
    )
    return (
        c.filter(F.col("cum") * 2 >= F.col("tot"))
        .groupBy(F.col("flag").alias("l_returnflag"))
        .agg(
            F.round(F.min("cents") / 100.0, 2).alias("weighted_median"),
            F.min("tot").cast("bigint").alias("total_weight"),
        )
    )


@query(
    "q_cusum_changepoint",
    """
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, day),
    tot AS (
      SELECT event_type, SUM(n) AS t, COUNT(*) AS d
      FROM daily GROUP BY event_type),
    cus AS (
      SELECT daily.event_type, day,
             SUM(n * d - t) OVER (PARTITION BY daily.event_type ORDER BY day
                                  ROWS UNBOUNDED PRECEDING) AS s
      FROM daily JOIN tot ON daily.event_type = tot.event_type),
    rk AS (
      SELECT event_type, day, s,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY abs(s) DESC, day) AS r
      FROM cus)
    SELECT event_type, day AS cp_day, CAST(s AS BIGINT) AS cusum_scaled,
           CASE WHEN s >= 0 THEN 'high-then-low' ELSE 'low-then-high' END
             AS shift_shape
    FROM rk WHERE r = 1
    """,
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint per event type: the day where the cumulative
    deviation of daily volume from the type's mean peaks — the standard
    single-changepoint estimator (argmax |Σ(xᵢ − x̄)|) behind "when did
    this metric's level shift" triage.

    Determinism: the running statistic is kept in integers by scaling —
    Σ(nᵢ·D − T) over observed days (D = day count, T = total) is D times
    the textbook CUSUM, same argmax — so no float accumulation exists for
    engine summation order to perturb; ties on |S| break to the earliest
    day. Scale shape: the windowed scan runs over the aggregated
    |types|×|days| daily frame, the per-type totals broadcast back, and
    the argmax is a row_number over the same partitioning — the heavy
    lifting stays in the first partial-agg-friendly count."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").alias("n"))
    tot = daily.groupBy("event_type").agg(
        F.sum("n").alias("t"), F.count("*").alias("d")
    )
    j = daily.join(F.broadcast(tot), "event_type")
    ws = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cus = j.select(
        "event_type",
        "day",
        F.sum(F.col("n") * F.col("d") - F.col("t")).over(ws).alias("s"),
    )
    wr = Window.partitionBy("event_type").orderBy(F.abs("s").desc(), "day")
    return (
        cus.withColumn("r", F.row_number().over(wr))
        .filter(F.col("r") == 1)
        .select(
            "event_type",
            F.col("day").alias("cp_day"),
            F.col("s").cast("bigint").alias("cusum_scaled"),
            F.when(F.col("s") >= 0, "high-then-low")
            .otherwise("low-then-high")
            .alias("shift_shape"),
        )
    )


@query(
    "q_seasonal_profile",
    """
    WITH cell AS (
      SELECT CAST(dayofweek(ts) AS BIGINT) AS dow,
             CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hod,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2)
    SELECT dow, hod, n,
           ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (), 6) AS share,
           ROUND(CAST(n * COUNT(*) OVER () AS DOUBLE) / SUM(n) OVER (), 4)
             AS intensity_index
    FROM cell
    """,
)
def q_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week x hour-of-day seasonal intensity profile — the
    periodicity fingerprint behind seasonal-naive forecasting, staffing
    curves, and "is this drop real or just Sunday 3am" anomaly triage.
    intensity_index is the cell's traffic relative to a uniform calendar
    (1.0 = flat; 2.0 = twice the average cell).

    Determinism: counts are exact integers; share and index are single
    divisions of exact integer products (no float accumulation to
    reorder). Spark's dayofweek is 1=Sunday..7 vs DuckDB's 0..6, so the
    Spark side shifts by one to align engines.

    Scale shape: one map-side-combinable count on a 168-value key — the
    profile frame is O(1) regardless of corpus size, and the closing
    window functions run over those <=168 rows (single tiny partition by
    construction, not a data-sized global window).
    """
    ev = load_table(spark, sf_dir, "events")
    cell = ev.groupBy(
        (F.dayofweek("ts") - 1).cast("bigint").alias("dow"),
        F.hour("ts").cast("bigint").alias("hod"),
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy()
    return cell.select(
        "dow",
        "hod",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(w), 6).alias("share"),
        F.round(
            (F.col("n") * F.count("*").over(w)).cast("double") / F.sum("n").over(w),
            4,
        ).alias("intensity_index"),
    )


# --- sampling / scale-path operators ----------------------------------------

@query(
    "q_group_sample",
    """
    SELECT source, doc_id, rn FROM (
      SELECT source, doc_id,
             row_number() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents) t
    WHERE rn <= 3
    """,
)
def q_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-k per-group sample: order each group by a
    content-independent hash (md5 of the id — same bytes on any engine) and
    keep the first k. Unlike TABLESAMPLE / rand(), re-runs and other
    engines produce the identical sample — the reproducibility property a
    training-data pipeline needs for eval splits and spot-check audits.
    One window shuffle on the group key; rank filter prunes early.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return docs.select(
        "source", "doc_id", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= 3)


@query(
    "q_bloom_semi_join",
    """
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS total
    FROM orders
    WHERE o_orderkey IN
      (SELECT l_orderkey FROM lineitem WHERE l_quantity > 45)
    """,
)
def q_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders having any high-quantity lineitem, via the Bloom-pruned semi
    join (operators.relational.bloom_semi_join). The Bloom pre-filter is
    exact-composed (false positives removed by the trailing semi join), so
    the result hash-matches the plain IN-subquery oracle while the left
    scan is pruned before any shuffle — the 100 TB shape for selective
    semi joins.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    out = bloom_semi_join(orders, li, "o_orderkey", "l_orderkey", num_bits=1 << 17)
    return out.select(
        "o_orderkey", F.round("o_totalprice", 2).alias("total")
    )


@query(
    "q_approx_quantiles",
    """
    SELECT l_returnflag, q, n, true AS within_tol
    FROM (SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n
          FROM lineitem GROUP BY l_returnflag) g,
         (SELECT CAST(unnest([0.25, 0.5, 0.9, 0.99]) AS DOUBLE) AS q) p
    """,
)
def q_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped approximate quantiles via percentile_approx (Greenwald-Khanna
    style mergeable sketch): the scale path for percentile dashboards where
    q_percentiles' exact interpolation would need a full sort per group.

    Graded as a RANK-TOLERANCE verdict (the sketch's own contract): for
    each (group, q) the returned value's exact rank span — computed with
    one extra aggregate over the group — must intersect
    ⌈qN⌉ ± (⌈N/accuracy⌉ + 2), which is the GK ε=1/accuracy guarantee
    plus a 2-rank definitional margin. The DuckDB oracle recomputes the
    group sizes exactly and expects every verdict true; a sketch
    regression past its ε bound turns a row false and the driver red."""
    li = load_table(spark, sf_dir, "lineitem")
    qs = [0.25, 0.5, 0.9, 0.99]
    accuracy = 10000
    approx = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", qs, accuracy).alias("vals"),
        F.count("*").alias("n"),
    )
    exploded = approx.select(
        "l_returnflag",
        "n",
        F.posexplode("vals").alias("qi", "v"),
    ).withColumn(
        "q", F.element_at(F.array(*[F.lit(x) for x in qs]), F.col("qi") + 1)
    )
    ranks = (
        li.select("l_returnflag", "l_extendedprice")
        .join(F.broadcast(exploded), "l_returnflag")
        .groupBy("l_returnflag", "q", "n", "v")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("l_extendedprice") < F.col("v"), 1)), F.lit(0)
            ).alias("lt"),
            F.coalesce(
                F.sum(F.when(F.col("l_extendedprice") <= F.col("v"), 1)), F.lit(0)
            ).alias("le"),
        )
    )
    target = F.ceil(F.col("q") * F.col("n"))
    tol = F.ceil(F.col("n") / accuracy) + 2
    return ranks.select(
        "l_returnflag",
        F.col("q").cast("double"),
        F.col("n").cast("bigint"),
        (
            (F.col("le") >= target - tol) & (F.col("lt") + 1 <= target + tol)
        ).alias("within_tol"),
    )


# --- function-surface breadth -----------------------------------------------

@query(
    "q_window_suite",
    """
    SELECT o_custkey, o_orderkey,
           ntile(4) OVER w AS quartile,
           ROUND(percent_rank() OVER w, 6) AS pct_rank,
           ROUND(cume_dist() OVER w, 6) AS cdist,
           ROUND(first_value(o_totalprice) OVER w, 2) AS first_price,
           ROUND(last_value(o_totalprice) OVER wfull, 2) AS last_price,
           ROUND(nth_value(o_totalprice, 2) OVER wfull, 2) AS second_price,
           ROUND(lag(o_totalprice, 1, -1.0) OVER w, 2) AS prev_price,
           dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority)
             AS prio_rank
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey),
           wfull AS (PARTITION BY o_custkey ORDER BY o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def q_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function breadth in one pass: ranking (ntile / percent_rank /
    cume_dist / dense_rank), frame navigation (first/last/nth_value with an
    explicit full frame), and offset (lag with default). All windows share
    the o_custkey partitioning → Catalyst plans ONE shuffle + sort and
    chains the Window operators over it (pinned in test_plan_quality).
    """
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
        F.round(F.first("o_totalprice").over(w), 2).alias("first_price"),
        F.round(F.last("o_totalprice").over(wfull), 2).alias("last_price"),
        F.round(F.nth_value("o_totalprice", 2).over(wfull), 2).alias("second_price"),
        F.round(F.lag("o_totalprice", 1, -1.0).over(w), 2).alias("prev_price"),
        F.dense_rank()
        .over(Window.partitionBy("o_custkey").orderBy("o_orderpriority"))
        .alias("prio_rank"),
    )


@query(
    "q_scalar_pack2",
    """
    SELECT p_partkey,
           translate(p_name, 'ae', '43') AS leet,
           lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS padded,
           reverse(p_brand) AS rev_brand,
           ascii(p_type) AS type_ascii,
           CAST(strpos(p_name, 'a') AS BIGINT) AS a_pos,
           repeat('x', p_size % 3 + 1) AS xs,
           greatest(p_size, 25) AS g, least(p_size, 25) AS l,
           CAST(sign(p_retailprice - 1200.0) AS DOUBLE) AS price_sign,
           ROUND(pow(p_size, 1.5), 4) AS size_pow,
           ROUND(ln(p_retailprice), 6) AS log_price,
           ROUND(atan2(p_size, 10.0), 6) AS angle,
           p_partkey << 2 AS shl, p_partkey >> 1 AS shr,
           xor(p_partkey, 255) AS xored,
           p_partkey & 15 AS anded, p_partkey | 16 AS ored
    FROM part
    """,
)
def q_scalar_pack2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second scalar-function breadth pack (string manipulation, numeric
    edge functions, bit twiddling) — all whole-stage-codegen expressions on
    a single scan, zero shuffles. Complements q_scalar_pack's date/string
    pack; cross-checked against DuckDB's dialect (strpos↔instr, xor fn↔`^`).
    """
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.translate("p_name", "ae", "43").alias("leet"),
        F.lpad(F.col("p_partkey").cast("string"), 8, "0").alias("padded"),
        F.reverse("p_brand").alias("rev_brand"),
        F.ascii("p_type").alias("type_ascii"),
        F.instr("p_name", "a").cast("bigint").alias("a_pos"),
        F.repeat(F.lit("x"), (F.col("p_size") % 3 + 1).cast("int")).alias("xs"),
        F.greatest("p_size", F.lit(25)).alias("g"),
        F.least("p_size", F.lit(25)).alias("l"),
        F.signum(F.col("p_retailprice") - 1200.0).alias("price_sign"),
        F.round(F.pow("p_size", F.lit(1.5)), 4).alias("size_pow"),
        F.round(F.log(F.col("p_retailprice")), 6).alias("log_price"),
        F.round(F.atan2(F.col("p_size").cast("double"), F.lit(10.0)), 6).alias(
            "angle"
        ),
        F.shiftleft("p_partkey", 2).alias("shl"),
        F.shiftright("p_partkey", 1).alias("shr"),
        F.col("p_partkey").bitwiseXOR(F.lit(255)).alias("xored"),
        F.col("p_partkey").bitwiseAND(F.lit(15)).alias("anded"),
        F.col("p_partkey").bitwiseOR(F.lit(16)).alias("ored"),
    )


# --- pipeline integrity / incremental-processing shapes ----------------------

@query(
    "q_table_checksum",
    """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST('0x' || substr(md5(
                 CAST(l_orderkey AS VARCHAR) || '|' ||
                 CAST(l_linenumber AS VARCHAR) || '|' ||
                 l_returnflag || '|' || l_linestatus), 1, 8) AS BIGINT))
                AS BIGINT) AS checksum
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent per-group content checksum (SUM of a row-hash
    prefix): the cross-engine data-integrity primitive for verifying a
    migration / replication / repartition didn't drop or mutate rows.
    SUM is commutative, so the checksum is stable under any row order or
    partitioning — exactly what makes it usable as a distributed
    invariant; md5 makes it engine-portable (unlike xxhash64 / hash()).
    Partial aggregation means one scan, one tiny shuffle.
    """
    li = load_table(spark, sf_dir, "lineitem")
    key = F.concat_ws(
        "|",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
        F.col("l_returnflag"),
        F.col("l_linestatus"),
    )
    rowhash = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("bigint")
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"), F.sum(rowhash).alias("checksum")
    )


@query(
    "q_snapshot_diff",
    """
    WITH old AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 10 != 0),
         new AS (SELECT doc_id,
                        md5(CASE WHEN doc_id % 5 = 0 THEN upper(text) ELSE text END) AS h
                 FROM documents WHERE doc_id % 7 != 3)
    SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                ELSE 'changed' END AS status
    FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    WHERE o.doc_id IS NULL OR n.doc_id IS NULL OR o.h != n.h
    """,
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (the CDC shape): compare two corpus snapshots by row
    hash and emit added / removed / changed rows. Here both snapshots are
    deterministic derivations of `documents` so the oracle sees identical
    inputs; in production the inputs are two table versions. One full
    outer join on the id — hash comparison means the (wide) text column
    never crosses the shuffle, only 32-byte digests do, which is the trick
    that keeps this viable on 100 TB snapshots.
    """
    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 10 != 0).select(
        F.col("doc_id").alias("o_id"), F.md5("text").alias("o_h")
    )
    new = docs.filter(F.col("doc_id") % 7 != 3).select(
        F.col("doc_id").alias("n_id"),
        F.md5(
            F.when(F.col("doc_id") % 5 == 0, F.upper("text")).otherwise(
                F.col("text")
            )
        ).alias("n_h"),
    )
    joined = old.join(new, old["o_id"] == new["n_id"], "full_outer")
    return joined.filter(
        F.col("o_id").isNull()
        | F.col("n_id").isNull()
        | (F.col("o_h") != F.col("n_h"))
    ).select(
        F.coalesce("o_id", "n_id").alias("doc_id"),
        F.when(F.col("o_id").isNull(), "added")
        .when(F.col("n_id").isNull(), "removed")
        .otherwise("changed")
        .alias("status"),
    )


@query(
    "q_hopping_windows",
    """
    WITH starts AS (
      SELECT event_type, value,
             time_bucket(INTERVAL '5 minutes', ts) AS win_start FROM events
      UNION ALL
      SELECT event_type, value,
             time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes'
      FROM events)
    SELECT event_type, win_start, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0, 2) AS sum_value
    FROM starts GROUP BY event_type, win_start
    """,
)
def q_hopping_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) event-time windows: 10-minute windows every 5
    minutes via Spark's native F.window, which expands each row into its
    overlapping windows before the partial aggregate. The oracle derives
    the same two memberships per event from 5-minute truncation (window
    origins coincide because DuckDB's time_bucket epoch and Spark's are a
    multiple of the slide apart). The streaming twin of this exact plan
    runs in streaming/infer_stream.windowed_event_counts.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "event_type", F.window("ts", "10 minutes", "5 minutes").alias("w")
        )
        .agg(F.count("*").alias("n"), sum_exact("value").alias("sum_value"))
        .select("event_type", F.col("w.start").alias("win_start"), "n", "sum_value")
    )


@query(
    "q_weighted_sample",
    """
    SELECT doc_id, n_chars,
           ROUND(ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                     AS BIGINT) + 1) / 4294967296.0) / n_chars, 6) AS wkey
    FROM documents
    ORDER BY wkey DESC, doc_id
    LIMIT 20
    """,
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling (Efraimidis–Spirakis A-ES): each row
    draws u ∈ (0,1] from a content hash of its id and ranks by ln(u)/w
    (monotone with u^(1/w)); the top-k by that key is a weighted sample
    without replacement, here weighted by document length. Hash-derived u
    makes the sample reproducible across engines and re-runs — no rand().
    Plans as TakeOrderedAndProject: O(k) per partition, no global sort.
    """
    docs = load_table(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("double")
        + 1
    ) / F.lit(4294967296.0)
    wkey = F.round(F.log(u) / F.col("n_chars"), 6)
    return (
        docs.select("doc_id", "n_chars", wkey.alias("wkey"))
        .orderBy(F.col("wkey").desc(), "doc_id")
        .limit(20)
    )


# --- record linkage / function-surface packs 3 -------------------------------

@query(
    "q_fuzzy_name_match",
    """
    SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INT) AS lev
    FROM customer a JOIN customer b
      ON a.c_nationkey = b.c_nationkey
     AND a.c_mktsegment = b.c_mktsegment
     AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 2
    """,
)
def q_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance record linkage: near-identical names within a blocking
    key (nation × segment). The blocking attributes have FIXED cardinality
    (125 blocks at every scale), so the naive blocked self-join is
    corpus-quadratic — measured 210 s at sf1 vs ~2 s at sf0.1. Instead,
    candidates come from the character-level FastSS deletion-neighborhood
    join (``edit_distance_pairs``): lev ≤ 2 forces the ≤ 2-deletion
    neighborhoods to intersect, so an equi-join on hashed variants (+ the
    block columns) finds every qualifying pair, and the thresholded
    3-arg ``levenshtein`` verify keeps the result identical to the
    oracle's unthresholded predicate. Per-row fanout is the constant
    C(18,≤2) ≈ 172 variants — linear in corpus (sf1: 210 s → ~47 s,
    output-bound from there: sequential zero-padded keys make the
    lev ≤ 2 pair set itself dense, 549k pairs at sf1).

    Auto-dispatch (limit-probe): below 50k rows the naive blocked join
    beats the 172× variant fanout's fixed cost (~2 s vs ~6 s at sf0.1)
    and its quadratic term is still small — a count probe keeps it;
    identical rows either way.
    """
    from hive_json_spark.operators.dedup import edit_distance_pairs

    cust = load_table(spark, sf_dir, "customer")
    if table_row_count(spark, sf_dir, "customer") <= 50_000:
        from hive_json_spark.operators.util import ensure_parallelism

        block = ["c_nationkey", "c_mktsegment"]
        # spread the PROBE side (r11): customer ships as one row group, so
        # the broadcast join + per-pair levenshtein (~1.8M pairs at sf0.1)
        # ran in ONE task (1.95 s of a 2.24 s wall, per-job probe); the
        # round-robin moves 4 narrow columns once and the build side stays
        # a broadcast
        a = ensure_parallelism(
            cust.select(
                F.col("c_custkey").alias("key_a"),
                F.col("c_name").alias("name_a"),
                *block,
            )
        )
        b = cust.select(
            F.col("c_custkey").alias("key_b"), F.col("c_name").alias("name_b"), *block
        )
        return (
            a.join(b, block)
            .filter(F.col("key_a") < F.col("key_b"))
            .select(
                "key_a",
                "key_b",
                F.levenshtein("name_a", "name_b", 2).alias("lev"),
            )
            .filter(F.col("lev") >= 0)
        )
    return edit_distance_pairs(
        cust,
        "c_custkey",
        "c_name",
        max_dist=2,
        block_cols=["c_nationkey", "c_mktsegment"],
        max_len=25,
    ).select(
        F.col("id_a").alias("key_a"),
        F.col("id_b").alias("key_b"),
        F.col("lev").cast("int").alias("lev"),
    )


@query(
    "q_json_path_pack",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS sum_k,
           CAST(SUM(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
           MIN(json_keys(props)[1]) AS first_key
    FROM events GROUP BY event_type
    """,
)
def q_json_path_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-path scalar surface on the raw props strings: get_json_object
    extraction (no schema needed — complements q_from_json_agg's
    schema-applied path), conditional aggregation over the extracted value,
    and json_object_keys introspection. All JVM JSON parsing; the scan
    reads only (event_type, props).
    """
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(k).alias("sum_k"),
        F.sum(F.when(k > 50, 1).otherwise(0)).alias("n_big"),
        F.min(F.element_at(F.json_object_keys("props"), 1)).alias("first_key"),
    )


@query(
    "q_array_pack",
    """
    SELECT vec_id,
           CAST(len(embedding) AS INT) AS dim,
           ROUND(CAST(embedding[1] AS DOUBLE), 4) + 0.0 AS first_v,
           ROUND(CAST(embedding[-1] AS DOUBLE), 4) + 0.0 AS last_v,
           ROUND(CAST(list_max(embedding) AS DOUBLE), 4) + 0.0 AS max_v,
           ROUND(CAST(list_min(embedding) AS DOUBLE), 4) + 0.0 AS min_v,
           ROUND(CAST(list_sum(list_slice(embedding, 1, 3)) AS DOUBLE), 4) + 0.0
             AS head3_sum
    FROM embeddings
    """,
)
def q_array_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function surface over the embedding vectors: size / indexing /
    slicing / extrema / sliced sum, each mapped to its DuckDB list-function
    twin. Pure projection — stays in whole-stage codegen, no shuffle.
    (Bulk vector math lives in functions/vectors.py; this pins the
    general array SQL surface.) Every rounded value gets `+ 0.0` on
    both engines: IEEE negative zero (-0.0) stringifies differently
    between engines and +0.0 canonicalizes it (observed at sf0.1).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    return emb.select(
        "vec_id",
        F.size(e).alias("dim"),
        (F.round(F.element_at(e, 1).cast("double"), 4) + 0.0).alias("first_v"),
        (F.round(F.element_at(e, -1).cast("double"), 4) + 0.0).alias("last_v"),
        (F.round(F.array_max(e).cast("double"), 4) + 0.0).alias("max_v"),
        (F.round(F.array_min(e).cast("double"), 4) + 0.0).alias("min_v"),
        (F.round(
            F.aggregate(
                F.slice(e, 1, 3), F.lit(0.0), lambda acc, x: acc + x.cast("double")
            ),
            4,
        ) + 0.0).alias("head3_sum"),
    )


@query(
    "q_rolling_time_window",
    """
    SELECT event_id, user_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
           ROUND(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER w / 100.0, 2) AS sum_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
)
def q_rolling_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling one-hour per-user aggregates via a RANGE frame over event
    time in microseconds — the time-decayed-metrics shape (rate limiting,
    trailing spend). RANGE bounds make the frame *value*-based, so
    irregular event spacing is handled exactly — no resampling to a grid.
    One shuffle on user_id; both aggregates share the frame.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("n_1h"),
        F.round(F.sum(int_units("value")).over(w) / 100.0, 2).alias("sum_1h"),
    )


@query(
    "q_equidepth_bins",
    """
    SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(l_extendedprice), 2) AS lo,
           ROUND(MAX(l_extendedprice), 2) AS hi
    FROM (SELECT l_extendedprice,
                 ntile(10) OVER (ORDER BY l_extendedprice) AS bin
          FROM lineitem) t
    GROUP BY bin
    """,
)
def q_equidepth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile) binning: decile boundaries + per-bin counts,
    the feature-bucketization / histogram-equalization primitive.

    Distributed exact NTILE with NO global per-row window: global rank =
    coarse-bucket offset + within-bucket row_number, two-level exactly
    like a distributed prefix sum. The $1000 price buckets aggregate to a
    ~100-row frame (map-side combine does almost all the work) whose
    global offset window is trivial; the per-row ranking window
    partitions by bucket and runs parallel. NTILE bin membership is then
    closed-form arithmetic on the rank, and the output is groupBy(bin).

    Tie-order inside the ranking window is irrelevant to the OUTPUT:
    rows with equal price are interchangeable, bin sizes are fixed by the
    closed form, and a tie group straddling a bin boundary contributes
    the same value to both bins' min/max — so arbitrary row_number tie
    order reproduces the oracle's literal NTILE bit-for-bit. (History:
    r1 used one global NTILE window = single task at any scale; r2 used
    per-value counts + interval explode = a 583k-group shuffle that
    tripled the runtime; this shape is both the fastest measured and the
    one that survives 100 TB — bucket granularity is the only knob.)
    """
    li = load_table(spark, sf_dir, "lineitem")
    n_bins = 10
    bucket = F.floor(F.col("l_extendedprice") / 1000).cast("long")
    rows = li.select(F.col("l_extendedprice"), bucket.alias("_b"))
    bcounts = rows.groupBy("_b").agg(F.count("*").alias("_bn"))
    wb = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    boff = bcounts.select(
        "_b",
        F.coalesce(F.sum("_bn").over(wb), F.lit(0)).alias("_boff"),
        F.sum("_bn").over(
            Window.orderBy("_b").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("_total"),
    )
    wc = Window.partitionBy("_b").orderBy("l_extendedprice")
    ranked = (
        rows.withColumn("_rn", F.row_number().over(wc).cast("long"))
        .join(F.broadcast(boff), "_b")
        .select(
            "l_extendedprice",
            (F.col("_boff") + F.col("_rn")).alias("_rank"),
            "_total",
        )
    )
    base = F.floor(F.col("_total") / n_bins)
    rem = F.col("_total") % n_bins
    big = rem * (base + 1)
    alt = F.when(base > 0, (F.col("_rank") - big - 1) / base).otherwise(F.lit(0.0))
    bin_col = (
        F.when(F.col("_rank") <= big, (F.col("_rank") - 1) / (base + 1))
        .otherwise(rem + alt)
        .cast("long")
        + 1
    )
    return (
        ranked.withColumn("bin", bin_col.cast("int"))
        .groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("l_extendedprice"), 2).alias("lo"),
            F.round(F.max("l_extendedprice"), 2).alias("hi"),
        )
    )


# --- recursive SQL / time-series densification -------------------------------

_CALENDAR_FILL_SQL = """
    WITH RECURSIVE cal(day) AS (
      SELECT TIMESTAMP '2024-01-01 00:00:00' AS day
      UNION ALL
      SELECT day + INTERVAL 1 DAY FROM cal
      WHERE day < TIMESTAMP '2024-01-30 00:00:00'
    ),
    daily AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(COUNT(*) AS BIGINT) AS n,
             ROUND(CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS total
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    )
    SELECT cal.day, COALESCE(daily.n, 0) AS n,
           ROUND(COALESCE(daily.total, 0.0), 2) AS total
    FROM cal LEFT JOIN daily ON cal.day = daily.day
"""


@query("q_calendar_fill", _CALENDAR_FILL_SQL)
def q_calendar_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling via a RECURSIVE CTE calendar (Spark 4.x
    native WITH RECURSIVE — the IDENTICAL SQL text runs on both engines):
    generate the full day spine, left-join the sparse daily aggregate,
    zero-fill the gaps. The densification shape every downstream
    forecasting / charting consumer needs; the recursion is driver-cheap
    (one row per day) while the aggregate side stays a distributed
    partial+final count.
    """
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_CALENDAR_FILL_SQL)


@query(
    "q_string_pack3",
    """
    SELECT p_partkey,
           regexp_extract(p_brand, '#([0-9]+)', 1) AS brand_num,
           regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
           CASE WHEN regexp_matches(p_type, '^(PROMO|ECONOMY)') THEN 1 ELSE 0 END
             AS is_cheap,
           split_part(p_brand, '#', 2) AS brand_tail,
           trim(concat('  ', p_type, '  ')) AS trimmed,
           left(p_name, 5) AS name_head, right(p_name, 4) AS name_tail,
           replace(p_type, 'O', '0') AS zeroed,
           CASE WHEN starts_with(p_name, 'a') THEN 1 ELSE 0 END AS starts_a,
           CASE WHEN ends_with(p_name, 's') THEN 1 ELSE 0 END AS ends_s,
           substr(p_name, -6) AS name_last6
    FROM part
    """,
)
def q_string_pack3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex + string-manipulation surface: extraction/replace groups,
    anchored matching, split_part, trim/left/right/negative-substr —
    cross-checked against DuckDB's dialect (regexp_matches↔rlike, the 'g'
    replace flag is Spark's default). Pure codegen projection, no shuffle.
    Patterns stay in the RE2∩Java-regex common subset so both engines
    compile them identically.
    """
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.regexp_extract("p_brand", "#([0-9]+)", 1).alias("brand_num"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
        F.when(F.col("p_type").rlike("^(PROMO|ECONOMY)"), 1)
        .otherwise(0)
        .alias("is_cheap"),
        F.split_part(F.col("p_brand"), F.lit("#"), F.lit(2)).alias("brand_tail"),
        F.trim(F.concat(F.lit("  "), F.col("p_type"), F.lit("  "))).alias("trimmed"),
        F.substring("p_name", 1, 5).alias("name_head"),
        F.substring("p_name", -4, 4).alias("name_tail"),
        F.replace(F.col("p_type"), F.lit("O"), F.lit("0")).alias("zeroed"),
        F.when(F.startswith(F.col("p_name"), F.lit("a")), 1)
        .otherwise(0)
        .alias("starts_a"),
        F.when(F.endswith(F.col("p_name"), F.lit("s")), 1)
        .otherwise(0)
        .alias("ends_s"),
        F.substr(F.col("p_name"), F.lit(-6)).alias("name_last6"),
    )


@query(
    "q_variant_agg",
    """
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS sum_k,
           CAST(SUM(CASE WHEN json_extract_string(props, '$.missing') IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_missing
    FROM events WHERE props IS NOT NULL
    GROUP BY event_type
    """,
)
def q_variant_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 native VARIANT path: parse_json → binary variant encoding →
    typed variant_get extraction, no schema inference pass at all. The
    modern complement to the lattice (q_from_json_agg infers then applies
    a static schema; VARIANT shreds per row and defers typing to the
    access site — the right trade when schemas drift faster than jobs
    redeploy). try_variant_get probes an absent path as SQL NULL instead
    of erroring.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    v = F.parse_json("props")
    return ev.groupBy("event_type").agg(
        F.sum(F.variant_get(v, "$.k", "bigint")).alias("sum_k"),
        F.sum(
            F.when(F.try_variant_get(v, "$.missing", "bigint").isNull(), 1).otherwise(0)
        ).alias("n_missing"),
    )


@query(
    "q_block_fanout_audit",
    """
    WITH b AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs
               FROM documents GROUP BY lang, source)
    SELECT lang, source, n_docs,
           CAST(n_docs * (n_docs - 1) / 2 AS BIGINT) AS n_pairs,
           ROUND(CAST(n_docs * (n_docs - 1) AS DOUBLE)
                 / SUM(n_docs * (n_docs - 1)) OVER (), 6) AS pair_share
    FROM b
    """,
)
def q_block_fanout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-key fanout audit — run this before any block-quadratic
    operator (q_ngram_jaccard_pairs, blocked fuzzy matching): per block,
    the document count and the pair count the block will generate, plus
    its share of total pairwise work. A block owning most of the pair
    mass is the signal to sub-shard (add a length bucket / hash salt to
    the key) BEFORE launching the quadratic stage — the planning query
    for the documented block-fits-a-task bound.

    One combinable groupBy on the block key; the window runs over the
    |blocks|-row frame. Integer pair arithmetic; pair_share is a single
    division of exact integers.
    """
    docs = load_table(spark, sf_dir, "documents")
    b = docs.groupBy("lang", "source").agg(F.count("*").alias("n_docs"))
    w = Window.partitionBy()
    work = F.col("n_docs") * (F.col("n_docs") - 1)
    return b.select(
        "lang",
        "source",
        "n_docs",
        (work / 2).cast("bigint").alias("n_pairs"),
        F.round(work.cast("double") / F.sum(work).over(w), 6).alias("pair_share"),
    )


@query(
    "q_dq_freshness",
    """
    WITH g AS (SELECT MAX(ts) AS max_ts FROM events),
         s AS (SELECT event_type, MAX(ts) AS src_max,
                      CAST(COUNT(*) AS BIGINT) AS n
               FROM events GROUP BY event_type)
    SELECT s.event_type, s.n, s.src_max,
           CAST(date_diff('second', s.src_max, g.max_ts) AS BIGINT)
             AS lag_seconds
    FROM s CROSS JOIN g
    """,
)
def q_dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-freshness audit: per stream partition (event type), how far
    its newest record lags the newest record anywhere — the staleness
    check a pipeline runs before declaring a snapshot consistent (a
    source whose lag exceeds its delivery SLA blocks the downstream
    train/serve cut). Two tiny aggregates; the 1-row global watermark
    broadcasts back (scalar cross join, same pattern as q6). Lag is
    exact integer seconds.
    """
    ev = load_table(spark, sf_dir, "events")
    g = ev.agg(F.max("ts").alias("max_ts"))
    s = ev.groupBy("event_type").agg(
        F.max("ts").alias("src_max"), F.count("*").alias("n")
    )
    return s.crossJoin(F.broadcast(g)).select(
        "event_type",
        "n",
        "src_max",
        (F.unix_timestamp("max_ts") - F.unix_timestamp("src_max"))
        .cast("bigint")
        .alias("lag_seconds"),
    )


@query(
    "q_funnel_ttc",
    """
    WITH s AS (SELECT user_id, MIN(ts) AS t1 FROM events
               WHERE event_type = 'signup' GROUP BY user_id),
         c AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
               JOIN s ON e.user_id = s.user_id
               WHERE e.event_type = 'click' AND e.ts > s.t1
               GROUP BY e.user_id),
         d AS (SELECT s.user_id,
                      CAST(date_diff('second', s.t1, c.t2) AS BIGINT) AS ttc
               FROM s JOIN c ON s.user_id = c.user_id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           CAST(quantile_disc(ttc, 0.5) AS BIGINT) AS p50_seconds,
           CAST(quantile_disc(ttc, 0.9) AS BIGINT) AS p90_seconds,
           CAST(MAX(ttc) AS BIGINT) AS max_seconds
    FROM d
    """,
)
def q_funnel_ttc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution for the signup -> click stage: exact
    discrete percentiles of the per-user delay between first signup and
    first subsequent click — the funnel's latency readout (conversion
    RATE is q_funnel_conversion's job; this is how LONG conversion
    takes). Delays are exact integer seconds; percentile_disc is
    type-preserving on both engines, so no interpolation float enters
    the hash.

    Scale shape (r8, the q_funnel_conversion rewrite): ONE pushed-down
    scan of events and ONE user_id exchange — t1/t2 are chained window
    aggregates over the same partitioning, the per-user collapse runs
    in-partition, and the closing percentile runs over |converted users|
    rows. The previous stage-frame form re-evaluated s inside c and d
    (3 corpus passes).
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("signup", "click"))
        .select("user_id", "ts", "event_type")
    )
    w = Window.partitionBy("user_id")
    staged = ev.withColumn(
        "t1", F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(w)
    ).withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("t1")),
                F.col("ts"),
            )
        ).over(w),
    )
    d = (
        staged.groupBy("user_id")
        .agg(F.max("t1").alias("t1"), F.max("t2").alias("t2"))
        .filter(F.col("t1").isNotNull() & F.col("t2").isNotNull())
        .select(
            (F.unix_timestamp("t2") - F.unix_timestamp("t1"))
            .cast("bigint")
            .alias("ttc")
        )
    )
    return d.agg(
        F.count("*").alias("n_converted"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY ttc)")
        .cast("bigint")
        .alias("p50_seconds"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY ttc)")
        .cast("bigint")
        .alias("p90_seconds"),
        F.max("ttc").alias("max_seconds"),
    )


@query(
    "q_skew_profile",
    """
    WITH freq AS (
      SELECT l_orderkey AS key, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY l_orderkey)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(MAX(cnt) AS BIGINT) AS max_cnt,
           ROUND(AVG(cnt), 4) AS avg_cnt,
           ROUND(MAX(cnt) / AVG(cnt), 4) AS skew_ratio,
           CAST(quantile_disc(cnt, 0.5) AS BIGINT) AS p50,
           CAST(quantile_disc(cnt, 0.99) AS BIGINT) AS p99
    FROM freq
    """,
)
def q_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics — run this before picking a join strategy
    (AQE default vs salted_join vs broadcast): key cardinality, hottest-key
    share, and the frequency distribution's p50/p99. One groupBy on the
    key (the same shuffle the join itself would do), then a 1-row rollup
    over the much smaller frequency frame. percentile_disc = DuckDB's
    quantile_disc (type-preserving, no interpolation).
    """
    li = load_table(spark, sf_dir, "lineitem")
    freq = li.groupBy(F.col("l_orderkey").alias("key")).agg(
        F.count("*").alias("cnt")
    )
    return freq.agg(
        F.count("*").alias("n_keys"),
        F.max("cnt").alias("max_cnt"),
        F.round(F.avg("cnt"), 4).alias("avg_cnt"),
        F.round(F.max("cnt") / F.avg("cnt"), 4).alias("skew_ratio"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY cnt)")
        .cast("bigint")
        .alias("p50"),
        F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY cnt)")
        .cast("bigint")
        .alias("p99"),
    )


@query(
    "q_unpivot_measures",
    """
    SELECT l_returnflag, measure,
           ROUND(SUM(CAST(ROUND(val * 100) AS BIGINT)) / 100.0 / COUNT(val), 4) AS avg_val,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM (
      SELECT l_returnflag, 'quantity' AS measure, l_quantity AS val FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'price', l_extendedprice FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'discount', l_discount FROM lineitem)
    GROUP BY l_returnflag, measure
    """,
)
def q_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational melt: DataFrame.unpivot (wide measures → long
    (measure, value) rows) feeding a grouped aggregate — the inverse of
    q_pivot_status_qty. Spark's unpivot is a single Expand over one scan
    (3 output rows per input row, no re-reads); the oracle spells the same
    thing as a 3-branch UNION ALL.
    """
    li = load_table(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ["l_returnflag"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "measure",
        "val",
    ).withColumn(
        "measure",
        F.element_at(
            F.create_map(
                F.lit("l_quantity"), F.lit("quantity"),
                F.lit("l_extendedprice"), F.lit("price"),
                F.lit("l_discount"), F.lit("discount"),
            ),
            F.col("measure"),
        ),
    )
    return long.groupBy("l_returnflag", "measure").agg(
        avg_exact("val", 4).alias("avg_val"), F.count("*").alias("n")
    )


# --- top navigation paths (ordered aggregation) ------------------------------

@query(
    "q_top_paths",
    """
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS step
      FROM events),
    paths AS (
      SELECT user_id,
             string_agg(event_type, '>' ORDER BY step) AS path
      FROM seq WHERE step <= 5 GROUP BY user_id)
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM paths GROUP BY path
    ORDER BY n_users DESC, path LIMIT 25
    """,
)
def q_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top navigation paths: each user's first five events joined into an
    ordered 'view>click>purchase' path string, then the most common paths
    — the product-analytics "how do users actually move" query. This pins
    the ORDERED-AGGREGATION capability: Spark's collect_list has no ORDER
    BY and is assembly-order-nondeterministic, so the engine sorts
    explicitly — collect structs of (step, type), array_sort on the
    step (total order), then project and join. The oracle is DuckDB's
    native `string_agg(... ORDER BY)`; both engines must emit identical
    strings, which only happens if the ordering is genuinely total.

    Scale shape: row_number + the grouped collect share one exchange on
    user_id (pinned in test_plan_quality); the early `step <= 5` filter
    caps every user's grouped state at 5 tiny structs, and the top-25 is
    TakeOrderedAndProject over the path counts.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.row_number().over(w).alias("step"),
    ).filter(F.col("step") <= 5)
    paths = seq.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("step", "event_type"))),
                lambda s: s.event_type,
            ),
            ">",
        ).alias("path")
    )
    counts = paths.groupBy("path").agg(F.count("*").alias("n_users"))
    from hive_json_spark.operators.relational import top_k

    return top_k(counts, [F.col("n_users").desc(), F.col("path")], 25)


# --- A/B experiment readout (Welch's t) --------------------------------------

@query(
    "q_ab_test",
    """
    WITH assigned AS (
      SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
             user_id, event_type, value
      FROM events),
    per_user AS (
      SELECT variant, user_id,
             SUM(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END)
               AS revenue,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
      FROM assigned GROUP BY variant, user_id),
    stats AS (
      SELECT variant,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             AVG(revenue) AS mean_rev,
             var_samp(revenue) AS var_rev,
             AVG(CAST(converted AS DOUBLE)) AS conv_rate
      FROM per_user GROUP BY variant)
    SELECT a.n_users AS n_a, b.n_users AS n_b,
           ROUND(a.mean_rev, 6) AS mean_rev_a,
           ROUND(b.mean_rev, 6) AS mean_rev_b,
           ROUND(a.conv_rate, 6) AS conv_a,
           ROUND(b.conv_rate, 6) AS conv_b,
           ROUND((a.mean_rev - b.mean_rev)
                 / SQRT(a.var_rev / a.n_users + b.var_rev / b.n_users), 6)
             AS welch_t
    FROM stats a JOIN stats b ON a.variant = 'A' AND b.variant = 'B'
    """,
)
def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: deterministic variant assignment (stable
    user-id hash, never rand() — re-runs and engine swaps must bucket
    identically), per-user revenue/conversion rollup, then per-variant
    means, sample variances, conversion rates, and Welch's t statistic
    for the revenue difference — the experimentation-platform summary
    query.

    Scale shape: two cascaded aggregations (events->users->variants);
    the first shuffles on (variant, user_id) with map-side partials, the
    second reduces to 2 rows. The final self-join is on a 2-row frame —
    broadcast by AQE trivially. Welch over pre-aggregated moments means
    no second pass over the data.
    """
    ev = load_table(spark, sf_dir, "events")
    assigned = ev.select(
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("variant"),
        "user_id",
        "event_type",
        "value",
    )
    per_user = assigned.groupBy("variant", "user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0)
        ).alias("revenue"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
    )
    stats = per_user.groupBy("variant").agg(
        F.count("*").alias("n_users"),
        F.avg("revenue").alias("mean_rev"),
        F.var_samp("revenue").alias("var_rev"),
        F.avg(F.col("converted").cast("double")).alias("conv_rate"),
    )
    a = stats.filter(F.col("variant") == "A").alias("a")
    b = stats.filter(F.col("variant") == "B").alias("b")
    t = (F.col("a.mean_rev") - F.col("b.mean_rev")) / F.sqrt(
        F.col("a.var_rev") / F.col("a.n_users")
        + F.col("b.var_rev") / F.col("b.n_users")
    )
    return a.crossJoin(b).select(
        F.col("a.n_users").alias("n_a"),
        F.col("b.n_users").alias("n_b"),
        F.round("a.mean_rev", 6).alias("mean_rev_a"),
        F.round("b.mean_rev", 6).alias("mean_rev_b"),
        F.round("a.conv_rate", 6).alias("conv_a"),
        F.round("b.conv_rate", 6).alias("conv_b"),
        F.round(t, 6).alias("welch_t"),
    )


# --- robust outlier detection (median absolute deviation) --------------------

@query(
    "q_mad_outliers",
    """
    WITH v AS (
      SELECT l_returnflag AS flag,
             CAST(ROUND(l_extendedprice * 200) AS BIGINT) AS c2
      FROM lineitem),
    med AS (
      SELECT flag, CAST(2 * quantile_cont(c2, 0.5) AS BIGINT) AS m4
      FROM v GROUP BY flag),
    dev AS (
      SELECT v.flag, ABS(2 * v.c2 - m.m4) AS d4
      FROM v JOIN med m ON v.flag = m.flag),
    mad AS (
      SELECT flag, CAST(2 * quantile_cont(d4, 0.5) AS BIGINT) AS mad8
      FROM dev GROUP BY flag)
    SELECT dev.flag AS l_returnflag,
           ROUND(ANY_VALUE(med.m4) / 400.0, 4) AS med,
           ROUND(ANY_VALUE(mad.mad8) / 800.0, 4) AS mad,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN 2 * dev.d4 > 3 * mad.mad8 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev JOIN mad ON dev.flag = mad.flag
             JOIN med ON dev.flag = med.flag
    GROUP BY dev.flag
    """,
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier detection: median absolute deviation.
    Unlike mean±k·stddev (q_anomaly_daily's z-scores), the median/MAD pair
    has a 50% breakdown point — the outliers themselves can't drag the
    fence — which is what you want for heavy-tailed price/metric columns.

    Scale shape: the fact table is scanned ONCE into a (group, value,
    count) frame; both exact interpolated medians come from two-phase
    bucketed selection over that frame (operators.relational.
    median2_from_counts — no holistic percentile() whose per-group state
    is every value, no whole-domain window), and the fence count reuses
    the same counts frame. The oracle keeps the naive quantile_cont plan,
    so the hash-match proves the selection decomposition. Determinism:
    everything lives in scaled integers — prices in half-cents, medians
    doubled at each interpolation (m4 = 4×cents, mad8 = 8×cents), the
    3×MAD fence compared as 2·d4 > 3·mad8 — with only two closing
    display divisions. Measured trade at sf0.1: 2.4 s holistic → 3.3 s
    two-phase (two eager localCheckpoints + extra stages dominate at toy
    scale) — accepted because the holistic form's per-group aggregation
    state is EVERY value in the group (an executor-memory hazard at
    100 TB) while this plan's window state is bounded by distinct values
    per bucket; the checkpoints also truncate lineage so the counts
    frame feeding three consumers is computed once and the audited plan
    is the executed one."""
    from hive_json_spark.operators.relational import median2_from_counts

    li = load_table(spark, sf_dir, "lineitem")
    v = li.select(
        F.col("l_returnflag").alias("flag"),
        int_units("l_extendedprice", 200).alias("c2"),
    )
    g = v.groupBy("flag", "c2").agg(F.count("*").alias("cnt")).localCheckpoint()
    med = median2_from_counts(g, "flag", "c2", "cnt").select(
        "flag", F.col("med2").alias("m4")
    )
    g2 = (
        g.join(F.broadcast(med), "flag")
        .select(
            "flag",
            "m4",
            F.abs(2 * F.col("c2") - F.col("m4")).alias("d4"),
            "cnt",
        )
        .groupBy("flag", "m4", "d4")
        .agg(F.sum("cnt").alias("cnt"))
        .localCheckpoint()
    )
    mad = median2_from_counts(g2, "flag", "d4", "cnt").select(
        "flag", F.col("med2").alias("mad8")
    )
    return (
        g2.join(F.broadcast(mad), "flag")
        .groupBy("flag")
        .agg(
            F.round(F.any_value("m4") / 400.0, 4).alias("med"),
            F.round(F.any_value("mad8") / 800.0, 4).alias("mad"),
            F.sum("cnt").cast("bigint").alias("n"),
            F.sum(
                F.when(2 * F.col("d4") > 3 * F.col("mad8"), F.col("cnt")).otherwise(0)
            ).cast("bigint").alias("n_outliers"),
        )
        .withColumnRenamed("flag", "l_returnflag")
    )


# --- skyline / Pareto frontier (preference query) ----------------------------

@query(
    "q_pareto_skyline",
    """
    WITH pts AS (
      SELECT l_extendedprice AS price, l_quantity AS qty FROM lineitem),
    d AS (SELECT price, MAX(qty) AS qmax FROM pts GROUP BY price),
    s AS (SELECT price, qmax,
                 MAX(qmax) OVER (ORDER BY price DESC
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev
          FROM d)
    SELECT p.price, p.qty, CAST(COUNT(*) AS BIGINT) AS n
    FROM pts p JOIN s ON p.price = s.price AND p.qty = s.qmax
    WHERE s.prev IS NULL OR s.qmax > s.prev
    GROUP BY p.price, p.qty
    """,
)
def q_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto frontier) over (price, quantity), maximizing both:
    the rows no other row beats in one dimension without losing the other
    — the classic preference-query operator (Börzsönyi et al., ICDE'01
    'The Skyline Operator'), here with per-point multiplicity counts.

    Scale shape — skylines are DISTRIBUTIVE (skyline(A∪B) =
    skyline(skyline(A)∪skyline(B))), so the plan is two-phase like the
    heavy-hitters query: phase 1 computes a per-hash-bucket skyline
    (per-bucket max-qty per price, then a window over each bucket's
    price order — fully parallel, candidates only survive), phase 2 runs
    the same elimination over the tiny candidate union, and the final
    broadcast join counts multiplicities without shuffling the fact
    table. A naive formulation is the quadratic NOT-EXISTS self-join;
    the oracle uses the sorted-walk form (independent engine, same
    algorithm class) because the quadratic one is infeasible even at
    oracle scale. Exact double equality joins are safe: values come
    unmodified from the same parquet."""
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_extendedprice").alias("price"), F.col("l_quantity").alias("qty")
    )
    # phase 1: per-bucket local skylines (any global skyline point is
    # locally non-dominated, so candidates form a superset)
    b = pts.withColumn("bkt", F.pmod(F.hash("price", "qty"), F.lit(64)))
    d1 = b.groupBy("bkt", "price").agg(F.max("qty").alias("qmax"))
    w1 = (
        Window.partitionBy("bkt")
        .orderBy(F.desc("price"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cand = d1.withColumn("prev", F.max("qmax").over(w1)).filter(
        F.col("prev").isNull() | (F.col("qmax") > F.col("prev"))
    )
    # phase 2: exact skyline over the candidate union (tiny by now)
    d2 = cand.groupBy("price").agg(F.max("qmax").alias("qmax"))
    w2 = Window.orderBy(F.desc("price")).rowsBetween(Window.unboundedPreceding, -1)
    sky = (
        d2.withColumn("prev", F.max("qmax").over(w2))
        .filter(F.col("prev").isNull() | (F.col("qmax") > F.col("prev")))
        .select("price", F.col("qmax").alias("qty"))
    )
    return (
        pts.join(F.broadcast(sky), ["price", "qty"])
        .groupBy("price", "qty")
        .agg(F.count("*").cast("bigint").alias("n"))
    )


# --- grouped OLS regression (exact-integer moments) ---------------------------

@query(
    "q_group_regression",
    """
    WITH b AS (
      SELECT l_returnflag AS returnflag,
             CAST(ROUND(l_quantity) AS BIGINT) AS x,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem),
    s AS (
      SELECT returnflag,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM b GROUP BY returnflag)
    SELECT returnflag, n,
           ROUND((CAST(n * sxy - sx * sy AS DOUBLE)
                  / CAST(n * sxx - sx * sx AS DOUBLE)) / 100.0, 6) AS slope,
           ROUND(((CAST(sy AS DOUBLE)
                   - (CAST(n * sxy - sx * sy AS DOUBLE)
                      / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
                  / CAST(n AS DOUBLE)) / 100.0, 4) AS intercept,
           ROUND((CAST(n * sxy - sx * sy AS DOUBLE)
                  * CAST(n * sxy - sx * sy AS DOUBLE))
                 / (CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r2
    FROM s
    """,
)
def q_group_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS fit of extendedprice on quantity: slope, intercept, r²
    from the five classic moment sums — the regr_slope/regr_r2 family, but
    computed ORDER-FREE so the hash gate holds across engines.

    Determinism (the q11 lesson): Spark's regr_* / covar_* aggregates sum
    doubles and are summation-order-dependent. Here every moment (Sx, Sy,
    Sxy, Sxx, Syy) is an EXACT integer sum — quantity is integral, price
    becomes cents — accumulated in decimal(38,0) (Spark) / HUGEINT
    (DuckDB), so the normal-equation numerators/denominators are exact
    integers and the final doubles are bit-identical. Association order of
    the closing float arithmetic mirrors the oracle text exactly.

    Scale: one map-side-combinable shuffle on a 3-value key; decimal(38)
    headroom holds at 100 TB (n·Sxy ~ 1e28, n·Syy ~ 3e33 « 1e38). Skew on
    the tiny key space is the q_salted_join pattern if it ever matters.
    """
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_returnflag").alias("returnflag"),
        F.round("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    dec = "decimal(38,0)"
    s = base.groupBy("returnflag").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).alias("syy"),
    )
    nd = F.col("n").cast(dec)
    num_d = (nd * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    denx_d = (nd * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    deny_d = (nd * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    slope_d = num_d / denx_d
    return s.select(
        "returnflag",
        "n",
        F.round(slope_d / 100.0, 6).alias("slope"),
        F.round(
            (
                (F.col("sy").cast("double") - slope_d * F.col("sx").cast("double"))
                / F.col("n").cast("double")
            )
            / 100.0,
            4,
        ).alias("intercept"),
        F.round((num_d * num_d) / (denx_d * deny_d), 6).alias("r2"),
    )


@query(
    "q_spearman_corr",
    """
    WITH r AS (
      SELECT l_returnflag AS returnflag,
             2 * RANK() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
               + COUNT(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1 AS rx,
             2 * RANK() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
               + COUNT(*) OVER (PARTITION BY l_returnflag, l_extendedprice) - 1 AS ry
      FROM lineitem),
    s AS (
      SELECT returnflag,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(rx) AS sx, SUM(ry) AS sy,
             SUM(rx * ry) AS sxy, SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy
      FROM r GROUP BY returnflag)
    SELECT returnflag, n,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS spearman_rho
    FROM s
    """,
)
def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Spearman rank correlation of extendedprice vs quantity —
    the robust (monotone, outlier-immune) companion to the Pearson
    q_corr_quantity_price. Ties get textbook average ranks, carried as
    DOUBLED integer ranks (2*avg_rank = 2*min_rank + tie_count - 1) so
    every moment stays an exact integer: Pearson-on-ranks is invariant to
    the x2 scaling, and the decimal(38,0)/HUGEINT moment sums make the
    closing float tree bit-identical across engines (the q11 rule — never
    an order-dependent double sum).

    Scale shape (rewritten r5 — the group key has 3 values, so the
    previous per-group rank windows were 3 single-thread sorts of the
    whole table forever): DISTRIBUTED ranks via
    ``operators.relational.grouped_value_ranks`` (map-side value
    histograms + two-level prefix sum — no per-group sort anywhere).
    The doubled avg rank is constant within a (group, value) class:
    r2 = 2·cum_before + c + 1. The quantity rank map is dimension-sized
    (3×~50 rows) and broadcasts onto the fact scan; rows then collapse
    into a per-(group, price) frame carrying Σrx and Σrx² partials
    (map-side combinable), the price ranks come from the SAME frame's
    counts (count_col reuse — no second fact scan for the price
    histogram), and every Spearman moment is a weighted sum over that
    value-class frame: sxy = Σ r2y·Σrx, syy = Σ c·r2y², … — exact
    integers in decimal(38,0) lanes, same closing float tree as before
    (bit-identical output to the window form).

    Auto-dispatch (the limit-probe pattern): below 2M rows the two
    per-group rank windows beat the multi-stage distributed form's fixed
    overhead (0.6 s vs 2.4 s at sf0.1) and per-group sorts are harmless,
    so a metadata-cheap count probe keeps them; above, the distributed
    ranks take over — the exact-integer moments make the two plans
    bit-identical.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("returnflag"), "l_quantity", "l_extendedprice"
    )
    dec = "decimal(38,0)"
    n_rows = table_row_count(spark, sf_dir, "lineitem")
    if n_rows <= 2_000_000:
        flag = F.col("returnflag")
        rx = (
            F.lit(2) * F.rank().over(Window.partitionBy(flag).orderBy("l_quantity"))
            + F.count("*").over(Window.partitionBy(flag, F.col("l_quantity")))
            - F.lit(1)
        ).cast("long")
        ry = (
            F.lit(2)
            * F.rank().over(Window.partitionBy(flag).orderBy("l_extendedprice"))
            + F.count("*").over(Window.partitionBy(flag, F.col("l_extendedprice")))
            - F.lit(1)
        ).cast("long")
        ranked = li.select(flag.alias("returnflag"), rx.alias("rx"), ry.alias("ry"))
        # moment lanes: the doubled ranks satisfy rx, ry <= 2n, so every
        # per-row product is <= 4n^2 and every moment sum <= 4n^3 — for
        # n <= 1.2M that is < 2^63 and the whole summation fits EXACTLY
        # in int64 (measured: 128-bit decimal lanes cost +0.5 s on the
        # 600k-row agg at sf0.1). Above 1.2M the window arm keeps the
        # decimal lanes. Either way the sums are exact integers, so the
        # 3-row moments cast to decimal(38,0) feed _spearman_close with
        # bit-identical values and the closing float tree is unchanged.
        lane = "long" if n_rows <= 1_200_000 else dec
        s = ranked.groupBy("returnflag").agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col("rx").cast(lane)).alias("sx"),
            F.sum(F.col("ry").cast(lane)).alias("sy"),
            F.sum((F.col("rx").cast(lane) * F.col("ry").cast(lane))).alias("sxy"),
            F.sum((F.col("rx").cast(lane) * F.col("rx").cast(lane))).alias("sxx"),
            F.sum((F.col("ry").cast(lane) * F.col("ry").cast(lane))).alias("syy"),
        )
        # _spearman_close multiplies moments pairwise (n·sxy - sx·sy, …),
        # which overflows int64 — promote the 3-row result to decimal
        # lanes (free at this cardinality) so the close is exact.
        s = s.select(
            "returnflag",
            "n",
            *[F.col(c).cast(dec).alias(c) for c in ("sx", "sy", "sxy", "sxx", "syy")],
        )
        return _spearman_close(s)
    qmap = grouped_value_ranks(li, "returnflag", "l_quantity", 10.0).select(
        "returnflag",
        "l_quantity",
        (F.lit(2) * F.col("cum_before") + F.col("c") + 1).cast("long").alias("rx"),
    )
    pf = (
        li.join(F.broadcast(qmap), ["returnflag", "l_quantity"])
        .groupBy("returnflag", "l_extendedprice")
        .agg(
            F.count("*").alias("_c"),
            F.sum(F.col("rx").cast(dec)).alias("_sxp"),
            F.sum((F.col("rx") * F.col("rx")).cast(dec)).alias("_sxxp"),
        )
    )
    ranked = grouped_value_ranks(
        pf, "returnflag", "l_extendedprice", 1000.0, count_col="_c"
    )
    r2y = (F.lit(2) * F.col("cum_before") + F.col("c") + 1).cast("long").cast(dec)
    cd = F.col("c").cast(dec)
    s = ranked.groupBy("returnflag").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum("_sxp").alias("sx"),
        F.sum(cd * r2y).alias("sy"),
        F.sum(F.col("_sxp") * r2y).alias("sxy"),
        F.sum("_sxxp").alias("sxx"),
        F.sum(cd * r2y * r2y).alias("syy"),
    )
    return _spearman_close(s)


def _spearman_close(s: DataFrame) -> DataFrame:
    """Closing float tree over exact integer moments — shared by both
    q_spearman_corr plans so their outputs are bit-identical."""
    nd = F.col("n").cast("decimal(38,0)")
    num = (nd * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dx = (nd * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    dy = (nd * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return s.select(
        "returnflag",
        "n",
        F.round(num / F.sqrt(dx * dy), 6).alias("spearman_rho"),
    )


# --- chi-square independence + mutual information ----------------------------

@query(
    "q_chi_square",
    """
    WITH cell AS (
      SELECT event_type, CAST(user_id % 4 AS BIGINT) AS cohort,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM events GROUP BY event_type, user_id % 4),
    tot AS (SELECT CAST(SUM(o) AS DOUBLE) AS n FROM cell),
    rt AS (SELECT event_type, CAST(SUM(o) AS DOUBLE) AS r FROM cell
           GROUP BY event_type),
    ct AS (SELECT cohort, CAST(SUM(o) AS DOUBLE) AS c FROM cell GROUP BY cohort),
    dims AS (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS nr,
                    CAST(COUNT(DISTINCT cohort) AS BIGINT) AS nc
             FROM cell),
    terms AS (
      SELECT CAST(ROUND(1000000 * (((CAST(cell.o AS DOUBLE) - (rt.r * ct.c) / tot.n)
                  * (CAST(cell.o AS DOUBLE) - (rt.r * ct.c) / tot.n))
                  / ((rt.r * ct.c) / tot.n))) AS BIGINT) AS t_chi,
             CAST(ROUND(1000000 * ((CAST(cell.o AS DOUBLE) / tot.n)
                  * ln((CAST(cell.o AS DOUBLE) * tot.n) / (rt.r * ct.c))))
               AS BIGINT) AS t_mi
      FROM cell
      JOIN rt ON cell.event_type = rt.event_type
      JOIN ct ON cell.cohort = ct.cohort
      CROSS JOIN tot),
    agg AS (SELECT CAST(SUM(t_chi) AS DOUBLE) / 1000000.0 AS chi2_raw,
                   CAST(SUM(t_mi) AS DOUBLE) / 1000000.0 AS mi_raw,
                   CAST(COUNT(*) AS BIGINT) AS n_cells
            FROM terms)
    SELECT agg.n_cells,
           CAST((dims.nr - 1) * (dims.nc - 1) AS BIGINT) AS dof,
           ROUND(agg.chi2_raw, 6) AS chi2,
           ROUND(agg.mi_raw, 6) AS mi_nats,
           ROUND(SQRT((agg.chi2_raw / tot.n)
                      / CAST(LEAST(dims.nr - 1, dims.nc - 1) AS DOUBLE)), 6)
             AS cramers_v
    FROM agg CROSS JOIN dims CROSS JOIN tot
    """,
)
def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence + mutual information between the
    event type and a deterministic user cohort (user_id % 4), with Cramér's
    V effect size — the association-audit every feature/leakage screen runs
    before training on categorical columns.

    Determinism: chi² and MI are SUMS of double terms over contingency
    cells; per-cell terms are rounded to integer micro-units and summed
    exactly (the q_token_entropy pattern), so engine/partition summation
    order can't flip the rounded statistic. Expected counts use doubles
    (r·c can overflow int64 at 100 TB) — fine, because each term is a
    scalar expression on ONE row, not an accumulation.

    Scale: one partial-aggregable shuffle on (type, cohort) reduces 100 TB
    to |r|·|c| cells; margins and the test statistic come from WINDOWS and
    one aggregate over that KB-sized cell frame, so the fact table is
    scanned exactly once (the oracle's per-margin CTEs would re-derive the
    cell frame on Spark — measured 8 exchanges vs this plan's 3).
    """
    ev = load_table(spark, sf_dir, "events")
    cell = (
        ev.groupBy("event_type", (F.col("user_id") % 4).alias("cohort"))
        .agg(F.count("*").cast("long").alias("o"))
    )
    # margins as windows over the |r|x|c| CELL frame (exact long sums), so
    # the fact table is scanned and shuffled exactly once — the oracle's
    # separate rt/ct/tot CTEs would re-derive `cell` per margin on Spark
    r = F.sum("o").over(Window.partitionBy("event_type")).cast("double")
    c = F.sum("o").over(Window.partitionBy("cohort")).cast("double")
    n = F.sum("o").over(Window.partitionBy()).cast("double")
    o_d = F.col("o").cast("double")
    e = (F.col("r") * F.col("c")) / F.col("n")
    t_chi = F.round(F.lit(1000000) * (((o_d - e) * (o_d - e)) / e)).cast("long")
    t_mi = F.round(
        F.lit(1000000)
        * ((o_d / F.col("n")) * F.log((o_d * F.col("n")) / (F.col("r") * F.col("c"))))
    ).cast("long")
    terms = cell.select(
        "event_type", "cohort", "o", r.alias("r"), c.alias("c"), n.alias("n")
    ).select("event_type", "cohort", "n", t_chi.alias("t_chi"), t_mi.alias("t_mi"))
    agg = terms.agg(
        F.count("*").cast("long").alias("n_cells"),
        (F.sum("t_chi").cast("double") / 1000000.0).alias("chi2_raw"),
        (F.sum("t_mi").cast("double") / 1000000.0).alias("mi_raw"),
        F.countDistinct("event_type").cast("long").alias("nr"),
        F.countDistinct("cohort").cast("long").alias("nc"),
        F.max("n").alias("n"),
    )
    return agg.select(
        "n_cells",
        ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("long").alias("dof"),
        F.round("chi2_raw", 6).alias("chi2"),
        F.round("mi_raw", 6).alias("mi_nats"),
        F.round(
            F.sqrt(
                (F.col("chi2_raw") / F.col("n"))
                / F.least(F.col("nr") - 1, F.col("nc") - 1).cast("double")
            ),
            6,
        ).alias("cramers_v"),
    )


# --- EWMA smoothing of the daily revenue series ------------------------------

@query(
    "q_ewma_daily",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             COALESCE(CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE)
                      / 100.0, 0.0) AS rev
      FROM events GROUP BY CAST(ts AS DATE)),
    arr AS (SELECT list(rev ORDER BY day) AS a FROM daily),
    idx AS (SELECT day, rev,
                   CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i
            FROM daily)
    SELECT idx.day, ROUND(idx.rev, 2) AS revenue,
           ROUND(list_reduce(list_slice(arr.a, 1, idx.i),
                             (acc, x) -> 0.2 * x + 0.8 * acc), 4) AS ewma,
           ROUND((idx.rev - list_reduce(list_slice(arr.a, 1, idx.i),
                                        (acc, x) -> 0.2 * x + 0.8 * acc))
                 / list_reduce(list_slice(arr.a, 1, idx.i),
                               (acc, x) -> 0.2 * x + 0.8 * acc), 4) AS pct_dev
    FROM idx CROSS JOIN arr
    """,
)
def q_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (alpha=0.2) of daily revenue,
    with each day's deviation from its own smoothed level — the classic
    control-chart smoother that q_anomaly_daily's global z-score can't
    replace (EWMA tracks level shifts; z-scores assume one stationary
    mean).

    Determinism: EWMA is a sequential recurrence, so both engines compute
    it as the SAME left fold over the SAME day-sorted array — Spark
    ``F.aggregate`` and DuckDB ``list_reduce`` both fold left with the
    first element as the seed, and `0.2*x + 0.8*acc` is written in the
    identical association order, so every intermediate double matches
    bit-for-bit. Inputs are exact (integer-cent day sums).

    Scale: the fact table reduces to |days| rows in one partial-aggregable
    shuffle; the fold runs on the METADATA-sized daily series (10^3-10^4
    rows even at 100 TB), so the O(days²) prefix recompute and the
    single-partition window are bounded by the calendar, not the data. A
    production variant streams the same recurrence through one
    applyInPandas pass (linear), same float sequence.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.coalesce(
            F.sum(F.round(F.col("value") * 100).cast("long")).cast("double")
            / 100.0,
            F.lit(0.0),
        ).alias("rev")
    )
    arr = daily.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("day", "rev"))), lambda s: s["rev"]
        ).alias("a")
    )
    idx = daily.withColumn(
        "i", F.row_number().over(Window.orderBy("day")).cast("long")
    )
    fold = lambda acc, x: F.lit(0.2) * x + F.lit(0.8) * acc
    ewma_raw = F.aggregate(
        F.slice(F.col("a"), F.lit(2), F.col("i") - 1),
        F.element_at(F.col("a"), 1),
        fold,
    )
    return idx.crossJoin(F.broadcast(arr)).select(
        "day",
        F.round("rev", 2).alias("revenue"),
        F.round(ewma_raw, 4).alias("ewma"),
        F.round((F.col("rev") - ewma_raw) / ewma_raw, 4).alias("pct_dev"),
    )


@query(
    "q_acf_daily",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS x
      FROM events GROUP BY CAST(ts AS DATE)),
    idx AS (SELECT x, CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i
            FROM daily),
    pairs AS (SELECT l.lag, a.x AS xa, b.x AS xb
              FROM idx a
              CROSS JOIN (SELECT unnest(range(1, 8)) AS lag) l
              JOIN idx b ON b.i = a.i - l.lag),
    agg AS (SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(xa) AS sx, SUM(xb) AS sy,
                   SUM(xa * xa) AS sxx, SUM(xb * xb) AS syy,
                   SUM(xa * xb) AS sxy
            FROM pairs GROUP BY lag)
    SELECT CAST(lag AS BIGINT) AS lag, n AS n_pairs,
           ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS acf
    FROM agg
    """,
)
def q_acf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of daily revenue at lags 1..7 — the
    seasonality detector (a weekly cycle shows as a lag-7 peak) that
    feeds forecasting-model selection. Per-lag Pearson correlation of the
    series against its L-shifted self.

    Determinism: the five moment sums per lag are EXACT int64 sums of
    cent values and their products (max daily total ~2·10⁷ cents at
    sf0.1 → squares ~4·10¹⁴, ×30 days ≪ 2⁶³); the Pearson formula then
    runs once on those exact integers, so the doubles are identical on
    any partitioning and engine. At 100 TB daily cents can reach ~10¹⁰,
    whose squares overflow int64 — the documented widening is casting the
    product terms to decimal(38,0) before the sum (same plan shape).

    Scale: the fact table reduces to |days| rows in one partial-agg
    shuffle; everything after runs on the calendar-bounded series (the
    q_ewma_daily argument), including the 7× lag fanout."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("x")
    )
    idx = daily.select(
        "x", F.row_number().over(Window.orderBy("day")).cast("long").alias("i")
    )
    lags = spark.range(1, 8).select(F.col("id").alias("lag"))
    a = idx.select(F.col("i").alias("ia"), F.col("x").alias("xa"))
    b = idx.select(F.col("i").alias("ib"), F.col("x").alias("xb"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .withColumn("ib", F.col("ia") - F.col("lag"))
        .join(b, "ib")
    )
    agg = pairs.groupBy("lag").agg(
        F.count("*").alias("n"),
        F.sum("xa").alias("sx"),
        F.sum("xb").alias("sy"),
        F.sum(F.col("xa") * F.col("xa")).alias("sxx"),
        F.sum(F.col("xb") * F.col("xb")).alias("syy"),
        F.sum(F.col("xa") * F.col("xb")).alias("sxy"),
    )
    d = lambda c: F.col(c).cast("double")
    num = d("n") * d("sxy") - d("sx") * d("sy")
    den = F.sqrt(
        (d("n") * d("sxx") - d("sx") * d("sx"))
        * (d("n") * d("syy") - d("sy") * d("sy"))
    )
    return agg.select(
        "lag",
        F.col("n").alias("n_pairs"),
        F.round(num / den, 6).alias("acf"),
    )


@query(
    "q_trend_mann_kendall",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS x
      FROM events GROUP BY CAST(ts AS DATE)),
    s AS (SELECT CAST(SUM(CASE WHEN b.x > a.x THEN 1
                               WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT)
                   AS s_stat
          FROM daily a JOIN daily b ON a.day < b.day),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
    tie AS (SELECT COALESCE(CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT), 0)
              AS tie_term
            FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t
                  FROM daily GROUP BY x) WHERE t > 1)
    SELECT nn.n, s.s_stat,
           ROUND((nn.n * (nn.n - 1) * (2 * nn.n + 5) - tie.tie_term) / 18.0, 6)
             AS var_s,
           ROUND(CASE WHEN s.s_stat > 0 THEN (s.s_stat - 1)
                        / sqrt((nn.n * (nn.n - 1) * (2 * nn.n + 5)
                                - tie.tie_term) / 18.0)
                      WHEN s.s_stat < 0 THEN (s.s_stat + 1)
                        / sqrt((nn.n * (nn.n - 1) * (2 * nn.n + 5)
                                - tie.tie_term) / 18.0)
                      ELSE 0.0 END, 6) AS z,
           ROUND(s.s_stat / (nn.n * (nn.n - 1) / 2.0), 6) AS tau
    FROM s, nn, tie
    """,
)
def q_trend_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall trend test (with tie correction) + Kendall's tau-a on
    daily revenue — the distribution-free monotone-trend detector used
    where q_forecast_backtest's OLS slope assumes too much. The S
    statistic, tie term, and pair counts are EXACT integers (cent-grid
    day totals; sign comparisons); the variance/z/tau formulas run once
    on those integers, so output doubles are engine- and layout-free.

    Scale: the fact table collapses to |days| rows in one partial-agg
    shuffle; the O(days²) sign pairs and the tie groupBy run on the
    calendar-bounded series (the q_ewma_daily argument). The daily frame
    feeds four consumers (both pair sides, n, tie term): scoped-persisted
    so the corpus scan+agg runs once, not four times."""
    from hive_json_spark.functions.caching import scoped_persist

    ev = load_table(spark, sf_dir, "events")
    daily = scoped_persist(
        ev.groupBy(F.to_date("ts").alias("day")).agg(
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("x")
        )
    )
    a = daily.select(F.col("day").alias("da"), F.col("x").alias("xa"))
    b = daily.select(F.col("day").alias("db"), F.col("x").alias("xb"))
    s = (
        a.join(b, F.col("da") < F.col("db"))
        .agg(
            F.sum(
                F.when(F.col("xb") > F.col("xa"), 1)
                .when(F.col("xb") < F.col("xa"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_stat")
        )
    )
    nn = daily.agg(F.count("*").cast("bigint").alias("n"))
    tie = (
        daily.groupBy("x")
        .agg(F.count("*").cast("bigint").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tie_term")
        )
    )
    j = s.crossJoin(F.broadcast(nn)).crossJoin(F.broadcast(tie))
    var_s = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("tie_term")
    ) / 18.0
    z = (
        F.when(F.col("s_stat") > 0, (F.col("s_stat") - 1) / F.sqrt(var_s))
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1) / F.sqrt(var_s))
        .otherwise(F.lit(0.0))
    )
    return j.select(
        "n",
        "s_stat",
        F.round(var_s, 6).alias("var_s"),
        F.round(z, 6).alias("z"),
        F.round(F.col("s_stat") / (F.col("n") * (F.col("n") - 1) / 2.0), 6).alias(
            "tau"
        ),
    )


@query(
    "q_audience_overlap",
    """
    WITH a AS (SELECT DISTINCT event_type, user_id FROM events),
    sz AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM a GROUP BY 1),
    ov AS (SELECT x.event_type AS type_a, y.event_type AS type_b,
                  CAST(COUNT(*) AS BIGINT) AS n_both
           FROM a x JOIN a y
             ON x.user_id = y.user_id AND x.event_type < y.event_type
           GROUP BY 1, 2)
    SELECT ov.type_a, ov.type_b, ov.n_both,
           sa.n AS n_a, sb.n AS n_b,
           ROUND(CAST(ov.n_both AS DOUBLE) / (sa.n + sb.n - ov.n_both), 6)
             AS jaccard,
           ROUND(CAST(ov.n_both AS DOUBLE) / LEAST(sa.n, sb.n), 6) AS containment
    FROM ov JOIN sz sa ON sa.event_type = ov.type_a
            JOIN sz sb ON sb.event_type = ov.type_b
    """,
)
def q_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: for every pair of event types, how many
    users do BOTH, with Jaccard and containment coefficients — the
    segment-overlap readout behind campaign planning and the
    sanity check before treating segments as independent. Exact-count
    arithmetic: overlaps and sizes are integers, each coefficient one
    division.

    Scale shape: dedup to (type, user) FIRST (one shuffle, map-side
    partial distinct), then the self-join fans out per user only by the
    types that user touches (≤ |types| rows) — never a user×user or
    row×row product; the final matrix is |types|² cells. The distinct
    frame feeds three arms (pair join ×2 + per-type totals), so it is
    scoped-persisted — the r7 ledger's flagged fusion: one distinct
    shuffle instead of three. The sketch-path swap at extreme scale is
    HLL per type + inclusion-exclusion (q_hll_intersect's documented
    pattern)."""
    from hive_json_spark.functions.caching import scoped_persist

    ev = load_table(spark, sf_dir, "events")
    a = scoped_persist(ev.select("event_type", "user_id").distinct())
    sz = a.groupBy("event_type").agg(F.count("*").alias("n"))
    x = a.select(F.col("event_type").alias("type_a"), "user_id")
    y = a.select(F.col("event_type").alias("type_b"), "user_id")
    ov = (
        x.join(y, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_both"))
    )
    sa = sz.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = sz.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    out = ov.join(F.broadcast(sa), "type_a").join(F.broadcast(sb), "type_b")
    return out.select(
        "type_a",
        "type_b",
        "n_both",
        "n_a",
        "n_b",
        F.round(
            F.col("n_both").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_both")),
            6,
        ).alias("jaccard"),
        F.round(
            F.col("n_both").cast("double") / F.least("n_a", "n_b"), 6
        ).alias("containment"),
    )


@query(
    "q_twap_user",
    """
    WITH seg AS (
      SELECT user_id,
             CAST(ROUND(value * 100) AS BIGINT) AS cents,
             epoch_us(LEAD(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id))
               - epoch_us(ts) AS dur_us
      FROM events),
    agg AS (
      SELECT user_id,
             SUM(cents * dur_us) AS sw,
             SUM(dur_us) AS td,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM seg WHERE dur_us IS NOT NULL GROUP BY user_id)
    SELECT user_id, n_events,
           CAST(td AS BIGINT) AS span_us,
           ROUND(CAST(sw AS DOUBLE) / (CAST(td AS DOUBLE) * 100.0), 6) AS twap
    FROM agg WHERE td > 0
    """,
)
def q_twap_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user (the TWAP / TimescaleDB
    ``time_weight('LOCF')`` primitive): each observation holds until the
    next one, so the mean weights each value by its holding duration —
    the correct average for irregularly-sampled state (price, balance,
    sensor reading), where the row-mean over-weights chatty periods.

    Exactness: weights are integer MICROSECONDS (Spark timestamps carry
    µs — the unix_micros lesson), values integer cents; Σ(cents·µs) and
    Σµs are exact int64 sums (≤ ~2.6·10¹⁷ per user at sf0.1), and the
    one division happens after. At 100 TB per-user spans push toward
    int64 limits → the documented widening is decimal(38,0) partials,
    same plan. One user_id shuffle shared by the window and the agg."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = ev.select(
        "user_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))).alias(
            "dur_us"
        ),
    ).filter(F.col("dur_us").isNotNull())
    agg = seg.groupBy("user_id").agg(
        F.sum(F.col("cents") * F.col("dur_us")).alias("sw"),
        F.sum("dur_us").alias("td"),
        F.count("*").alias("n_events"),
    )
    return agg.filter(F.col("td") > 0).select(
        "user_id",
        "n_events",
        F.col("td").cast("bigint").alias("span_us"),
        F.round(
            F.col("sw").cast("double") / (F.col("td").cast("double") * 100.0), 6
        ).alias("twap"),
    )


@query(
    "q_seq_pattern",
    """
    WITH seq AS (
      SELECT user_id,
             string_agg(CASE event_type WHEN 'view' THEN 'v'
                                        WHEN 'click' THEN 'c'
                                        WHEN 'purchase' THEN 'p'
                                        WHEN 'signup' THEN 's'
                                        ELSE 'e' END,
                        '' ORDER BY ts, event_id) AS s
      FROM events GROUP BY user_id)
    SELECT user_id,
           CAST(length(s) AS BIGINT) AS n_events,
           CAST(len(regexp_extract_all(s, 'v+c*p')) AS BIGINT) AS n_funnels,
           CAST(len(regexp_extract_all(s, 'ee+')) AS BIGINT) AS n_error_bursts,
           CAST(CASE WHEN regexp_matches(s, 'p[^p]*e') THEN 1 ELSE 0 END
                AS BIGINT) AS purchase_then_error
    FROM seq
    """,
)
def q_seq_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-pattern matching (MATCH_RECOGNIZE-lite): each user's ordered
    event stream becomes a compact symbol string and patterns run as
    regexes over it — view⁺click*purchase funnels (non-overlapping,
    leftmost — exactly MATCH_RECOGNIZE AFTER MATCH SKIP PAST LAST ROW),
    error bursts (ee+), and a purchase-followed-by-error flag. The
    per-user symbol string is the classic "sequence as string" encoding
    that turns a per-row NFA into one vectorized regex scan.

    Determinism: symbols sort by (ts, event_id) — a total order — so the
    string is unique; collect_list + array_sort is layout-free.

    Scale: one shuffle on user_id; the regex scans each user's string
    once (bounded by events-per-user, the same bound any stateful
    sessionizer carries). A 100 TB variant caps per-user history or
    windows the stream by month first — both stay one agg."""
    ev = load_table(spark, sf_dir, "events")
    sym = (
        F.when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "purchase", "p")
        .when(F.col("event_type") == "signup", "s")
        .otherwise("e")
    )
    seq = ev.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", sym.alias("sym")))
                ),
                lambda s: s.sym,
            ),
            "",
        ).alias("s")
    )
    return seq.select(
        "user_id",
        F.length("s").cast("bigint").alias("n_events"),
        F.size(F.regexp_extract_all("s", F.lit("v+c*p"), 0))
        .cast("bigint")
        .alias("n_funnels"),
        F.size(F.regexp_extract_all("s", F.lit("ee+"), 0))
        .cast("bigint")
        .alias("n_error_bursts"),
        F.when(F.col("s").rlike("p[^p]*e"), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("purchase_then_error"),
    )


# --- market-basket co-purchase lift ------------------------------------------

@query(
    "q_copurchase_lift",
    """
    WITH items AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    n AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM items),
    supp AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS s FROM items GROUP BY pk),
    pairs AS (
      SELECT a.pk AS part_a, b.pk AS part_b, CAST(COUNT(*) AS BIGINT) AS sab
      FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY a.pk, b.pk),
    scored AS (
      SELECT part_a, part_b, sab,
             ROUND(CAST(n.n_orders * sab AS DOUBLE) / (sa.s * sb.s), 6) AS lift
      FROM pairs
      JOIN supp sa ON sa.pk = part_a
      JOIN supp sb ON sb.pk = part_b
      CROSS JOIN n
      WHERE sab >= 3)
    SELECT part_a, part_b, sab, lift
    FROM scored
    ORDER BY lift DESC, sab DESC, part_a, part_b
    LIMIT 20
    """,
)
def q_copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket mining: co-purchased part pairs ranked by LIFT
    (N·supp(a,b) / (supp(a)·supp(b))) with a minimum pair support — the
    association-rule primitive behind recommenders and assortment
    analysis. The quadratic term is per-basket (C(items,2) with ~4 items
    per order), never corpus-wide: pairs unfold from each order's sorted
    distinct-part set with array ops (r10, guide §2.4 — one
    ``collect_set`` exchange replaces the old distinct shuffle PLUS both
    order-keyed sides of a self-join, whose sort-merge buffers were this
    query's 1.3 GB peak-memory stage); baskets bound the fanout, and a
    100 TB deployment caps or salts the rare monster basket (documented
    SCALE.md pattern). The basket frame feeds three arms (order count,
    supports, pairs), so it is scoped-persisted. Per-part supports
    broadcast back onto the pair frame; lift is one division of two
    exact integer products (identical double both engines, ties broken
    on support then part ids); top-20 via TakeOrderedAndProject.
    """
    from hive_json_spark.functions.caching import scoped_persist
    from hive_json_spark.operators.relational import top_k

    li = load_table(spark, sf_dir, "lineitem")
    # collect_set dedups (order, part) map-side — the basket IS the
    # distinct item set, sorted so i<j unfolding gives part_a < part_b
    baskets = scoped_persist(
        li.groupBy(F.col("l_orderkey").alias("ok")).agg(
            F.array_sort(F.collect_set(F.col("l_partkey"))).alias("pks")
        )
    )
    n = baskets.agg(F.count("*").alias("n_orders"))
    supp = (
        baskets.select(F.explode("pks").alias("pk"))
        .groupBy("pk")
        .agg(F.count("*").alias("s"))
    )
    pair = F.explode(
        F.flatten(
            F.transform(
                F.col("pks"),
                lambda x, i: F.transform(
                    F.slice(F.col("pks"), i + 2, F.size(F.col("pks"))),
                    lambda y: F.struct(x.alias("part_a"), y.alias("part_b")),
                ),
            )
        )
    )
    pairs = (
        baskets.select(pair.alias("_p"))
        .select("_p.part_a", "_p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("sab"))
        .filter(F.col("sab") >= 3)
    )
    sa = supp.select(F.col("pk").alias("part_a"), F.col("s").alias("s_a"))
    sb = supp.select(F.col("pk").alias("part_b"), F.col("s").alias("s_b"))
    scored = (
        pairs.join(F.broadcast(sa), "part_a")
        .join(F.broadcast(sb), "part_b")
        .join(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "sab",
            F.round(
                (F.col("n_orders") * F.col("sab")).cast("double")
                / (F.col("s_a") * F.col("s_b")),
                6,
            ).alias("lift"),
        )
    )
    return top_k(
        scored,
        [F.col("lift").desc(), F.col("sab").desc(), F.col("part_a"), F.col("part_b")],
        20,
    )


# --- zone-map file skipping --------------------------------------------------

@query(
    "q_zonemap_prune",
    """
    WITH f AS (
      SELECT l_orderkey // 4096 AS file_id, l_shipdate, l_extendedprice
      FROM lineitem),
    zones AS (
      SELECT file_id, MIN(l_shipdate) AS zmin, MAX(l_shipdate) AS zmax,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM f GROUP BY file_id),
    pred AS (SELECT TIMESTAMP '1996-03-01 00:00:00' AS lo,
                    TIMESTAMP '1996-06-01 00:00:00' AS hi),
    marked AS (
      SELECT z.*, CASE WHEN z.zmax >= p.lo AND z.zmin < p.hi
                       THEN 1 ELSE 0 END AS candidate
      FROM zones z CROSS JOIN pred p),
    hits AS (
      SELECT f.file_id, CAST(COUNT(*) AS BIGINT) AS n_match
      FROM f CROSS JOIN pred p
      WHERE f.l_shipdate >= p.lo AND f.l_shipdate < p.hi
      GROUP BY f.file_id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(m.candidate) AS BIGINT) AS n_candidate_files,
           CAST(SUM(m.n_rows) AS BIGINT) AS total_rows,
           CAST(SUM(CASE WHEN m.candidate = 1 THEN m.n_rows ELSE 0 END)
                AS BIGINT) AS candidate_rows,
           CAST(COALESCE(SUM(h.n_match), 0) AS BIGINT) AS matching_rows
    FROM marked m LEFT JOIN hits h ON m.file_id = h.file_id
    """,
)
def q_zonemap_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max statistics) file-skipping audit: model the table
    as orderkey-range files, build each file's shipdate zone map, and
    report how many files a time-range predicate can PRUNE versus the
    rows it actually needs — the data-layout readout that tells you
    whether clustering/compaction is paying off (candidate_rows ≫
    matching_rows means the layout scatters the predicate column and a
    re-cluster, e.g. the q_zorder_layout path, is due).

    Scale shape: the zone-map build is one combinable min/max/count agg
    keyed by file (the shuffle carries 3 values per file, not rows); the
    interval test against the predicate is a 1-row broadcast; the
    matching-rows check is a pushed-down filter + the same file-keyed
    agg. All counts exact integers."""
    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") / 4096).cast("bigint").alias("file_id"),
        "l_shipdate",
    )
    lo = F.lit("1996-03-01").cast("timestamp")
    hi = F.lit("1996-06-01").cast("timestamp")
    zones = li.groupBy("file_id").agg(
        F.min("l_shipdate").alias("zmin"),
        F.max("l_shipdate").alias("zmax"),
        F.count("*").alias("n_rows"),
    )
    marked = zones.withColumn(
        "candidate",
        F.when((F.col("zmax") >= lo) & (F.col("zmin") < hi), 1).otherwise(0),
    )
    hits = (
        li.filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .groupBy("file_id")
        .agg(F.count("*").alias("n_match"))
    )
    return (
        marked.join(hits, "file_id", "left")
        .agg(
            F.count("*").alias("n_files"),
            F.sum("candidate").cast("bigint").alias("n_candidate_files"),
            F.sum("n_rows").cast("bigint").alias("total_rows"),
            F.sum(F.when(F.col("candidate") == 1, F.col("n_rows")).otherwise(0))
            .cast("bigint")
            .alias("candidate_rows"),
            F.coalesce(F.sum("n_match"), F.lit(0)).cast("bigint").alias("matching_rows"),
        )
    )


# --- Kaplan-Meier survival curve ---------------------------------------------

@query(
    "q_kaplan_meier",
    """
    WITH u AS (
      SELECT user_id,
             date_diff('day', MIN(ts), MAX(ts)) AS dur,
             MAX(ts) AS last_ts
      FROM events GROUP BY user_id),
    horizon AS (SELECT MAX(ts) AS m FROM events),
    obs AS (
      SELECT dur, CASE WHEN u.last_ts < h.m - INTERVAL 7 DAY THEN 1 ELSE 0 END AS churned
      FROM u CROSS JOIN horizon h),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM obs),
    at_t AS (
      SELECT dur, CAST(COUNT(*) AS BIGINT) AS n_at,
             CAST(SUM(churned) AS BIGINT) AS d
      FROM obs GROUP BY dur),
    risk AS (
      SELECT dur, d,
             t.n_total - (SUM(n_at) OVER (ORDER BY dur
                          ROWS UNBOUNDED PRECEDING) - n_at) AS n_risk
      FROM at_t CROSS JOIN tot t),
    steps AS (
      SELECT dur, d, n_risk,
             CASE WHEN d = n_risk THEN NULL
                  ELSE CAST(ROUND(1000000000 * ln(1.0 - CAST(d AS DOUBLE) / n_risk))
                       AS BIGINT) END AS lf
      FROM risk WHERE d > 0),
    curve AS (
      SELECT dur, d, n_risk,
             SUM(lf) OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING) AS cum,
             MAX(CASE WHEN lf IS NULL THEN 1 ELSE 0 END)
               OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING) AS dead
      FROM steps)
    SELECT CAST(dur AS BIGINT) AS duration_days,
           CAST(n_risk AS BIGINT) AS n_risk,
           d AS n_events,
           CASE WHEN dead = 1 THEN 0.0
                ELSE ROUND(exp(cum / 1000000000.0), 6) END AS survival
    FROM curve
    """,
)
def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimate of user lifetime (days between first
    and last event), with users still active near the horizon treated as
    CENSORED — the product-limit estimator behind churn/retention curves
    that naive "average lifetime" mis-states when observation windows
    truncate.

    Determinism for a PRODUCT of rationals: each factor ln(1 − d/n) is
    one exact-integer division (identical double both engines) rounded
    to integer nano-nats, the cumulative sum is an order-free long, and
    S(t) = exp(cum/1e9) is one correctly-rounded exp — the BM25 ln-sum
    rule applied to a running product. A time where everyone at risk
    dies (d = n) sends the curve exactly to 0 via a carried flag rather
    than ln(0). Scale shape: per-user min/max is ONE combinable agg over
    ONE corpus scan — the per-user frame is scoped-persisted (its two
    consumers each re-ran the scan before r8), and the horizon comes
    from the frame itself (every event belongs to a user, so
    max(last_ts) ≡ max(ts)); the curve windows run over the
    DISTINCT-duration frame (bounded domain, days), never per user."""
    from hive_json_spark.functions.caching import scoped_persist

    ev = load_table(spark, sf_dir, "events")
    u = scoped_persist(
        ev.groupBy("user_id").agg(
            F.datediff(F.max("ts"), F.min("ts")).cast("long").alias("dur"),
            F.max("ts").alias("last_ts"),
        )
    )
    horizon = u.agg(F.max("last_ts").alias("m"))
    obs = u.join(F.broadcast(horizon)).select(
        "dur",
        F.when(
            F.col("last_ts") < F.col("m") - F.expr("INTERVAL 7 DAYS"), 1
        ).otherwise(0).alias("churned"),
    )
    tot = obs.agg(F.count("*").alias("n_total"))
    at_t = obs.groupBy("dur").agg(
        F.count("*").alias("n_at"), F.sum("churned").alias("d")
    )
    wc = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    risk = at_t.join(F.broadcast(tot)).select(
        "dur",
        "d",
        (F.col("n_total") - (F.sum("n_at").over(wc) - F.col("n_at"))).alias("n_risk"),
    )
    lf = F.when(F.col("d") == F.col("n_risk"), F.lit(None)).otherwise(
        F.round(
            F.lit(1_000_000_000)
            * F.log(1.0 - F.col("d").cast("double") / F.col("n_risk"))
        ).cast("bigint")
    )
    steps = risk.filter(F.col("d") > 0).select("dur", "d", "n_risk", lf.alias("lf"))
    curve = steps.select(
        "dur",
        "d",
        "n_risk",
        F.sum("lf").over(wc).alias("cum"),
        F.max(F.when(F.col("lf").isNull(), 1).otherwise(0)).over(wc).alias("dead"),
    )
    return curve.select(
        F.col("dur").cast("bigint").alias("duration_days"),
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("d").cast("bigint").alias("n_events"),
        F.when(F.col("dead") == 1, 0.0)
        .otherwise(F.round(F.exp(F.col("cum") / 1_000_000_000.0), 6))
        .alias("survival"),
    )


# --- Gini coefficient (revenue concentration) --------------------------------

@query(
    "q_gini_revenue",
    """
    WITH r AS (
      SELECT o_custkey, CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY o_custkey),
    ranked AS (
      SELECT cents,
             ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i
      FROM r),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS t,
             CAST(SUM(i * cents) AS BIGINT) AS s1
      FROM ranked)
    SELECT n AS n_customers, t AS total_cents,
           ROUND(CAST(2 * s1 AS DOUBLE) / (n * t) - CAST(n + 1 AS DOUBLE) / n, 6)
             AS gini
    FROM agg
    """,
)
def q_gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue — the inequality/concentration
    audit ("do 1% of customers carry 60% of revenue") via the exact
    rank formula G = 2·Σi·xᵢ/(n·Σx) − (n+1)/n over ascending revenue.

    The oracle pays the naive global-sort ROW_NUMBER; the Spark plan
    computes the SAME exact rank distributively (the z-order / SNM
    two-phase mechanism): revenues bucket into fixed ranges, per-bucket
    (count, sum) aggregate combinably, a tiny window over the bucket
    frame yields each bucket's global rank offset, and Σi·xᵢ decomposes
    into offset·bucket_sum + the in-bucket rank term — windows bounded
    per bucket, no single-partition sort of the customer frame. Ties in
    revenue make the rank choice arbitrary but Σi·xᵢ invariant (equal
    values swap equal contributions), so custkey tiebreaks on both sides
    keep engines aligned without affecting the statistic. All integer
    until the two closing divisions (int64 bounds noted: Σi·xᵢ ≲ n²·x̄ —
    decimal(38) territory past ~10⁸ customers)."""
    o = load_table(spark, sf_dir, "orders")
    r = o.groupBy("o_custkey").agg(
        F.sum(int_units("o_totalprice")).alias("cents")
    )
    bucket_w = 10_000_000  # $100k per bucket
    b = r.select(
        "o_custkey",
        "cents",
        (F.col("cents") / bucket_w).cast("bigint").alias("bkt"),
    )
    per_b = b.groupBy("bkt").agg(
        F.count("*").alias("bn"), F.sum("cents").alias("bs")
    )
    wb = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    offs = per_b.select(
        "bkt", "bs", (F.sum("bn").over(wb) - F.col("bn")).alias("off")
    )
    wi = Window.partitionBy("bkt").orderBy("cents", "o_custkey")
    local = b.withColumn("j", F.row_number().over(wi))
    s1_terms = local.join(F.broadcast(offs), "bkt").select(
        ((F.col("off") + F.col("j")) * F.col("cents")).alias("term"), "cents"
    )
    agg = s1_terms.agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("t"),
        F.sum("term").alias("s1"),
    )
    return agg.select(
        F.col("n").cast("bigint").alias("n_customers"),
        F.col("t").cast("bigint").alias("total_cents"),
        F.round(
            (2 * F.col("s1")).cast("double") / (F.col("n") * F.col("t"))
            - (F.col("n") + 1).cast("double") / F.col("n"),
            6,
        ).alias("gini"),
    )


# --- cohort LTV curve --------------------------------------------------------

@query(
    "q_ltv_curve",
    """
    WITH first_seen AS (
      SELECT user_id,
             MIN(year(ts) * 12 + month(ts)) AS cohort_m
      FROM events GROUP BY user_id),
    cohort_size AS (
      SELECT cohort_m, CAST(COUNT(*) AS BIGINT) AS n_users
      FROM first_seen GROUP BY cohort_m),
    rev AS (
      SELECT f.cohort_m,
             (year(e.ts) * 12 + month(e.ts)) - f.cohort_m AS age_m,
             CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events e JOIN first_seen f ON e.user_id = f.user_id
      WHERE e.event_type = 'purchase'
      GROUP BY 1, 2),
    cum AS (
      SELECT cohort_m, age_m,
             SUM(cents) OVER (PARTITION BY cohort_m ORDER BY age_m
                              ROWS UNBOUNDED PRECEDING) AS cum_cents
      FROM rev)
    SELECT CAST(c.cohort_m AS BIGINT) AS cohort_m,
           CAST(c.age_m AS BIGINT) AS age_m,
           s.n_users,
           CAST(c.cum_cents AS BIGINT) AS cum_revenue_cents,
           ROUND(CAST(c.cum_cents AS DOUBLE) / (100.0 * s.n_users), 4)
             AS ltv_per_user
    FROM cum c JOIN cohort_size s ON c.cohort_m = s.cohort_m
    """,
)
def q_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: users cohorted by first-seen month,
    purchase revenue accumulated by cohort age (months since cohort),
    normalized per cohort member — the LTV trajectory that payback-period
    and acquisition-budget decisions read off (q_cohort_retention's
    revenue twin).

    Determinism: cohort and age are integer month arithmetic, revenue is
    exact integer cents, the cumulative is a running LONG sum over the
    |cohorts|×|ages| aggregate (order-free), and per-user LTV is one
    closing division. Scale shape: one user_id shuffle builds first-seen
    (scoped-persisted — its two consumers, cohort sizes and the revenue
    join, would otherwise each re-scan events) and the purchase scan
    co-partitions onto it (|users| rows is NOT broadcastable at 100 TB —
    only the cohort-size frame is); the curve windows run on the tiny
    cohort×age frame."""
    from hive_json_spark.functions.caching import scoped_persist

    ev = load_table(spark, sf_dir, "events")
    month_idx = F.year("ts") * 12 + F.month("ts")
    first_seen = scoped_persist(
        ev.groupBy("user_id").agg(F.min(month_idx).alias("cohort_m"))
    )
    cohort_size = first_seen.groupBy("cohort_m").agg(F.count("*").alias("n_users"))
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .join(first_seen, "user_id")
        .groupBy(
            "cohort_m", (month_idx - F.col("cohort_m")).alias("age_m")
        )
        .agg(F.sum(int_units("value")).alias("cents"))
    )
    wc = (
        Window.partitionBy("cohort_m")
        .orderBy("age_m")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = rev.select(
        "cohort_m", "age_m", F.sum("cents").over(wc).alias("cum_cents")
    )
    return cum.join(F.broadcast(cohort_size), "cohort_m").select(
        F.col("cohort_m").cast("bigint").alias("cohort_m"),
        F.col("age_m").cast("bigint").alias("age_m"),
        F.col("n_users").cast("bigint").alias("n_users"),
        F.col("cum_cents").cast("bigint").alias("cum_revenue_cents"),
        F.round(
            F.col("cum_cents").cast("double") / (100.0 * F.col("n_users")), 4
        ).alias("ltv_per_user"),
    )
