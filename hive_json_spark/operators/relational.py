"""Relational operator layer: the query surface the reference lacks
(SURVEY §2 "explicitly absent" table), declared Spark-first.

Everything composes DataFrames and leans on Catalyst — predicate pushdown,
column pruning, join selection, and AQE come for free because these helpers
never leave the declarative plan. The helpers encode the *scale* decisions:

- dimension joins broadcast explicitly (no shuffle of the fact table's key);
- top-k uses sort+limit (Spark's TakeOrderedAndProject — O(k) per
  partition, no full sort);
- per-group top-k uses a window rank with a deterministic tiebreak column
  so results are stable under any partitioning;
- semi/anti joins use the dedicated join types (no distinct-aggregate
  detour, and they enable broadcast + null-aware optimizations).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F


def broadcast_join(fact: DataFrame, dim: DataFrame, on) -> DataFrame:
    """Inner-join a big fact table to a small dimension, broadcasting the dim.

    At 100 TB the fact side must never shuffle for a dimension join;
    ``F.broadcast`` pins the strategy instead of trusting the size
    estimator (which sees only file sizes, not post-filter sizes).
    """
    return fact.join(F.broadcast(dim), on)


def top_k(df: DataFrame, order_by: Sequence[Column], k: int) -> DataFrame:
    """Global top-k: orderBy+limit compiles to TakeOrderedAndProject —
    each partition keeps k rows, the driver merges; no global sort."""
    return df.orderBy(*order_by).limit(k)


def top_k_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """Per-group top-k via row_number. ``order_by`` must be a total order
    (include a unique tiebreak key) for deterministic distributed results."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def semi_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    return left.join(right, on, "left_semi")


def anti_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    return left.join(right, on, "left_anti")


def exact_dedup(df: DataFrame, keys: Sequence[str], keep_min_of: str) -> DataFrame:
    """Exact deduplication keeping the minimum ``keep_min_of`` per key group.

    Aggregation (not window) form: map-side partial min → one shuffle on the
    content key, which AQE can coalesce/skew-split. Returns the surviving
    ``keep_min_of`` values with their keys.
    """
    return df.groupBy(*keys).agg(F.min(keep_min_of).alias(keep_min_of))


def sessionize(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    gap_seconds: int,
    order_tiebreak: str,
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the gap from the
    previous event exceeds ``gap_seconds``. One shuffle on the user key;
    state is a running sum inside the window — no Python, no iteration.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, order_tiebreak)
    gap = F.col(ts_col).cast("double") - F.lag(F.col(ts_col).cast("double")).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_seconds), 1).otherwise(0)
    return df.withColumn("session_seq", F.sum(is_new).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ))


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: Sequence[str],
    n_salts: int = 8,
) -> DataFrame:
    """Skew-mitigating inner equi-join for the extreme hot-key case.

    The skewed side gets a uniform random salt in [0, n_salts); the other
    side is replicated n_salts× (one row per salt value), and the join key
    becomes (key..., salt) — so one celebrity key spreads across n_salts
    tasks instead of melting one executor. AQE's skew-join split handles
    moderate skew on its own; reach for this when a single key dominates
    (null-heavy foreign keys, power-law graphs) or when AQE is off.

    Cost model: replicates the *other* side n_salts× — use with a small or
    pre-filtered right side, or combine with broadcast when it fits.
    """
    salted_left = skewed.withColumn("_salt", (F.rand(42) * n_salts).cast("int"))
    salts = F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    salted_right = other.withColumn("_salt", salts)
    out = salted_left.join(salted_right, [*on, "_salt"])
    return out.drop("_salt")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    right_vals: Sequence[str],
) -> DataFrame:
    """Backward as-of join: each left row gets the right row with the
    largest ``right_ts`` ≤ its ``left_ts`` (per key). The classic
    point-in-time lookup (trades ⋈ latest quote, event ⋈ current config).

    Spark-first plan: tag + union both sides, one window partitioned by key
    ordered by (ts, side) carries the latest right values forward
    (``last(..., ignorenulls)``), then keep left rows. ONE shuffle on the
    key — no range predicate ever reaches a join operator (a naive
    theta-join would be a broadcast-nested-loop over every key group).
    Right rows sort before left rows at equal timestamps (ties inclusive).
    """
    lcols = [c for c in left.columns]
    tagged_left = left.select(
        *[F.col(c) for c in lcols],
        F.lit(1).alias("_side"),
        F.col(left_ts).alias("_ts"),
        *[F.lit(None).cast(dict(right.dtypes)[v]).alias(f"_r_{v}") for v in right_vals],
    )
    tagged_right = right.select(
        *[F.lit(None).cast(dict(left.dtypes).get(c, "string")).alias(c) if c not in on else F.col(c) for c in lcols],
        F.lit(0).alias("_side"),
        F.col(right_ts).alias("_ts"),
        *[F.col(v).alias(f"_r_{v}") for v in right_vals],
    )
    unioned = tagged_left.unionByName(tagged_right)
    w = (
        Window.partitionBy(*on)
        .orderBy("_ts", "_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        *lcols,
        "_side",
        *[F.last(f"_r_{v}", ignorenulls=True).over(w).alias(v) for v in right_vals],
    )
    return carried.filter(F.col("_side") == 1).drop("_side")


def range_join(
    points: DataFrame,
    ranges: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    bucket_width: float,
) -> DataFrame:
    """Inner interval join (point ∈ [lo, hi)) via bucket-explode.

    A raw ``p >= lo AND p < hi`` join has no equi-key, so Spark plans a
    broadcast-nested-loop/cartesian — O(|points|·|ranges|). Exploding each
    range into the fixed-width buckets it overlaps and equi-joining on the
    point's bucket makes it O(|points| + Σ range-width/bucket) with a
    normal shuffle/broadcast hash join; the residual exact predicate
    filters bucket-edge false positives. Pick ``bucket_width`` near the
    median range width (each range then explodes into ~2 rows).
    """
    b = F.lit(float(bucket_width))
    lo_b = F.floor(F.col(lo_col) / b).cast("bigint")
    hi_b = F.floor((F.col(hi_col) - F.lit(1e-9)) / b).cast("bigint")
    exploded = ranges.withColumn("_bucket", F.explode(F.sequence(lo_b, F.greatest(hi_b, lo_b))))
    pts = points.withColumn("_bucket", F.floor(F.col(point_col) / b).cast("bigint"))
    out = pts.join(
        exploded,
        (pts["_bucket"] == exploded["_bucket"])
        & (F.col(point_col) >= F.col(lo_col))
        & (F.col(point_col) < F.col(hi_col)),
    )
    return out.drop("_bucket")


def bloom_semi_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    num_bits: int = 1 << 20,
    exact: bool = True,
) -> DataFrame:
    """Bloom-filter-accelerated semi join (scale path for selective semi joins).

    At 100 TB, `left SEMI JOIN right` shuffles the full left side on the
    key even when only a sliver of it survives. This helper builds a Bloom
    filter over the right keys as a *tiny DataFrame of bitmap words*
    (``num_bits/64`` rows ≤ 16K for the default 1 Mi bits), broadcasts it,
    and pre-filters the left side with 3 broadcast hash-join
    probes — all JVM-side expressions (xxhash64 / shiftleft / bitwise-AND),
    no Python, no driver collect, no shuffle of the left side. The exact
    semi join then runs over the pruned remainder (Bloom false positives
    removed), so the result is *identical* to the plain semi join.

    This mirrors what Spark's InjectRuntimeFilter does for shuffle joins
    (bloom_filter_agg / might_contain are not exposed to the public SQL
    registry in 4.x), but as an explicit, tunable operator: ~1% false
    positives at the default 1 Mi bits / 3 hashes for up to ~100K distinct
    build keys; size num_bits ≈ 10 × |distinct right keys| for that rate.

    With ``exact=False`` it returns just the Bloom-pruned left side
    (superset with false positives) — useful when a downstream exact join
    re-checks the key anyway.
    """
    probes = range(3)
    pos = lambda col, i: F.pmod(F.xxhash64(col, F.lit(i)), F.lit(num_bits))  # noqa: E731
    build = right.select(F.col(right_key).alias("_k")).distinct()
    # One pass over the build side: explode all k positions, then fold the
    # bit masks into words. Persisted because each of the k probe joins
    # broadcasts it independently (the frame is ≤ num_bits/64 rows — tiny).
    bloom = (
        build.select(
            F.explode(F.array(*[pos(F.col("_k"), i) for i in probes])).alias("_p")
        )
        .select(
            (F.col("_p") / 64).cast("bigint").alias("_w"),
            F.expr("shiftleft(cast(1 as bigint), cast(_p % 64 as int))").alias("_m"),
        )
        .groupBy("_w")
        .agg(F.bit_or("_m").alias("_bits"))
        .persist()
    )

    pruned = left
    for i in probes:
        probe = bloom.select(
            F.col("_w").alias(f"_w{i}"), F.col("_bits").alias(f"_bits{i}")
        )
        pruned = (
            pruned.withColumn(f"_p{i}", pos(F.col(left_key), i))
            .join(
                F.broadcast(probe),
                (F.col(f"_p{i}") / 64).cast("bigint") == F.col(f"_w{i}"),
                "left",
            )
            .filter(
                F.col(f"_bits{i}").isNotNull()
                & (
                    F.col(f"_bits{i}").bitwiseAND(
                        F.expr(
                            f"shiftleft(cast(1 as bigint), cast(_p{i} % 64 as int))"
                        )
                    )
                    != 0
                )
            )
            .drop(f"_p{i}", f"_w{i}", f"_bits{i}")
        )
    if not exact:
        return pruned
    return pruned.join(
        build.withColumnRenamed("_k", right_key),
        pruned[left_key] == F.col(right_key),
        "left_semi",
    )


def merge_changelog(
    base: DataFrame,
    changes: DataFrame,
    key: str,
    *,
    op_col: str = "op",
    seq_col: str | None = None,
) -> DataFrame:
    """Fold a CDC changelog into a base snapshot (MERGE semantics) in one
    full-outer join: matched upserts (ops ``U``/``I``) overwrite, matched
    deletes (``D``) drop, unmatched upserts insert, deletes of absent keys
    are no-ops. Payload columns are taken positionally from the
    non-key/op/seq columns shared by both frames.

    If ``seq_col`` is given, the LAST change per key (highest seq) wins
    first — changelogs with multiple entries per key need the monotonic
    sequence every CDC stream carries; without it the changelog must be
    one-row-per-key (enforced cheaply downstream by the join exploding on
    duplicates).

    Scale: one shuffle of each side on the key (the base side's exchange
    disappears against a bucketed base table); AQE handles skewed keys.
    Streaming (micro-batch, bucket-pruned IO) variant:
    `streaming.merge.streaming_merge_upsert`. The inverse (snapshot pair
    -> changelog) is `q_snapshot_diff`'s row-hash full-outer diff.
    """
    payload = [c for c in base.columns if c != key]
    if seq_col is not None:
        w = Window.partitionBy(key).orderBy(F.col(seq_col).desc())
        changes = (
            changes.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    # ops outside the declared vocabulary fail the job instead of being
    # silently treated as deletes of the matched base row (data loss for a
    # typo'd op or an unexpected 'T' truncate marker). The guard is fused
    # into the _op projection, so it costs no extra scan at any scale.
    known = ["U", "I", "D"]
    op_checked = F.when(F.col(op_col).isin(*known), F.col(op_col)).otherwise(
        F.raise_error(
            F.concat_ws(
                " ",
                F.lit(f"merge_changelog: unknown op in {op_col!r} (expected one of {known}):"),
                F.col(op_col).cast("string"),
            )
        )
    )
    chg = changes.select(
        F.col(key).alias("_k"),
        op_checked.alias("_op"),
        *[F.col(c).alias(f"_new_{c}") for c in payload],
    )
    joined = base.join(chg, base[key] == chg["_k"], "full_outer")
    upsert = F.col("_op").isin("U", "I")
    # keep untouched base rows and upserts (matched = overwrite, unmatched
    # = insert); any delete op — matched or not — is excluded here, which
    # drops matched rows and makes deletes of absent keys no-ops
    kept = joined.filter(F.col("_op").isNull() | upsert)
    return kept.select(
        F.coalesce(F.col(key), F.col("_k")).alias(key),
        *[
            F.when(upsert, F.col(f"_new_{c}")).otherwise(F.col(c)).alias(c)
            for c in payload
        ],
    )


def incremental_agg_merge(
    base_agg: DataFrame,
    delta_agg: DataFrame,
    keys: Sequence[str],
    merge_spec: dict[str, str],
) -> DataFrame:
    """Incremental view maintenance for distributive aggregates: combine a
    maintained per-key aggregate table with a delta batch's partial
    aggregate of the SAME shape, without rescanning the base fact data.

    ``merge_spec`` maps each aggregate column to how partials combine:
    'sum' (covers COUNT and SUM — both add), 'min', or 'max'. AVG and
    other algebraic aggregates decompose into these (store sum + count,
    divide at read time); holistic aggregates (median, distinct count)
    don't combine and need sketches (HLL surface) or a rebuild.

    Scale shape: the base side is |keys| rows, not |facts| — the merge
    shuffles base_agg + delta_agg on the group keys, so maintaining a
    rollup over a 100 TB fact table costs O(delta + key cardinality) per
    batch. This is the batch twin of streaming/rollup.py's foreachBatch
    merge (same combine semantics, engine-managed there by partition
    overwrite).
    """
    combiners = {"sum": F.sum, "min": F.min, "max": F.max}
    unknown = set(merge_spec.values()) - set(combiners)
    if unknown:
        raise ValueError(f"incremental_agg_merge: unknown combiner(s) {sorted(unknown)}")
    aggs = [combiners[how](c).alias(c) for c, how in merge_spec.items()]
    return (
        base_agg.unionByName(delta_agg)
        .groupBy(*keys)
        .agg(*aggs)
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    lstart: str,
    lend: str,
    rstart: str,
    rend: str,
    chunk: int,
    keys: Sequence[tuple[str, str]] = (),
    how: str = "inner",
) -> DataFrame:
    """Interval-overlap join (``[lstart, lend) ∩ [rstart, rend) ≠ ∅``) via
    time-chunk explode — the interval counterpart of ``range_join``.

    A raw ``ls < re AND rs < le`` join has no equi-key, so Spark plans a
    nested loop. Instead each interval explodes into the fixed-width
    chunks it spans and the join runs as a normal hash join on
    ``chunk_id`` (+ any equality ``keys``). Two corrections make the
    result exact: the residual overlap predicate drops chunk-mates that
    don't actually intersect, and each surviving pair is kept only in the
    FIRST chunk both intervals share (``chunk_id ==
    floor(max(ls, rs)/chunk)``), so a pair overlapping many chunks is
    emitted exactly once — no post-hoc ``distinct`` shuffle.

    Start/end columns must be integral (days, seconds, …); intervals are
    half-open and must be NON-EMPTY (start < end): an empty interval has
    an empty intersection with everything, and the join condition encodes
    that explicitly. Pick ``chunk`` near the median interval length: each
    interval then lands in ~2 chunks, so the exploded frame is ~2× the
    input — at 100 TB the cost is one bounded-fanout explode plus one
    equi-shuffle, never O(n²). All expressions stay in codegen.

    Only ``how='inner'`` is supported: the chunk explode happens BEFORE
    the join, so an outer variant would emit one null-extended row per
    chunk of a non-matching interval and silently lose the rows the
    first-shared-chunk predicate drops. Outer semantics would need a
    second pass joining the candidate pairs back to the pre-explode
    frames; no caller has needed it, so the operator refuses rather than
    inviting silent misuse.
    """
    if how != "inner":
        raise ValueError(
            "interval_overlap_join: only how='inner' is supported (the "
            "chunk-explode construction is not outer-correct; join the "
            "inner result back to the pre-explode frames for outer "
            "semantics)"
        )
    c = F.lit(int(chunk))
    lexp = left.withColumn(
        "_lc",
        F.explode(
            F.sequence(
                F.floor(F.col(lstart) / c),
                F.greatest(F.floor((F.col(lend) - 1) / c), F.floor(F.col(lstart) / c)),
            )
        ),
    )
    rexp = right.withColumn(
        "_rc",
        F.explode(
            F.sequence(
                F.floor(F.col(rstart) / c),
                F.greatest(F.floor((F.col(rend) - 1) / c), F.floor(F.col(rstart) / c)),
            )
        ),
    )
    cond = F.col("_lc") == F.col("_rc")
    for lk, rk in keys:
        cond = cond & (F.col(lk) == F.col(rk))
    # non-empty guard: [5,5) must not "overlap" [0,10) — the naive
    # ls<re AND rs<le predicate assumes non-empty operands, and the
    # greatest() clamp above would otherwise keep an empty interval's
    # start chunk in the explode
    overlap = (
        (F.col(lstart) < F.col(rend))
        & (F.col(rstart) < F.col(lend))
        & (F.col(lstart) < F.col(lend))
        & (F.col(rstart) < F.col(rend))
    )
    first_shared = F.col("_lc") == F.floor(
        F.greatest(F.col(lstart), F.col(rstart)) / c
    )
    return lexp.join(rexp, cond & overlap & first_shared, how).drop("_lc", "_rc")


def median2_from_counts(
    counts: DataFrame,
    group_col: str,
    units_col: str,
    cnt_col: str,
    bucket_width: int = 100_000,
) -> DataFrame:
    """Exact interpolated per-group median over an aggregated
    (group, integer_value, count) frame, returned DOUBLED (lo + hi, an
    integer — callers divide once for display) so even-count
    interpolation never leaves integer space.

    Two-phase selection, never a per-group whole-domain window: value
    buckets aggregate to a tiny (group, bucket, n) frame whose windows
    locate the bucket holding each target rank (r1 = ceil(n/2), r2 =
    n/2 + 1); only the located buckets' value rows take an in-bucket
    running count to yield the ranked values. Work per window partition
    is bounded by distinct values per bucket — data-independent — so the
    single-task-per-group tail of a naive ordered window never appears.
    Returns (group, med2) with med2 = value(r1) + value(r2).
    """
    g = counts.select(
        F.col(group_col).alias("_g"),
        F.col(units_col).alias("_v"),
        F.col(cnt_col).alias("_c"),
    )
    gb = g.withColumn("_bkt", F.floor(F.col("_v") / F.lit(int(bucket_width))))
    bkt = gb.groupBy("_g", "_bkt").agg(F.sum("_c").alias("_bn"))
    wb = (
        Window.partitionBy("_g")
        .orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    spans = bkt.select(
        "_g",
        "_bkt",
        (F.sum("_bn").over(wb) - F.col("_bn")).alias("_before"),
        F.sum("_bn").over(wb).alias("_cum"),
    )
    n = bkt.groupBy("_g").agg(F.sum("_bn").alias("_n"))
    targets = n.select(
        "_g",
        F.explode(
            F.array(
                F.expr("(_n + 1) div 2"), F.expr("_n div 2 + 1")
            )
        ).alias("_r"),
    )
    located = targets.join(spans, "_g").filter(
        (F.col("_r") > F.col("_before")) & (F.col("_r") <= F.col("_cum"))
    ).select("_g", "_bkt", "_before", "_r")
    wi = (
        Window.partitionBy("_g", "_bkt")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    in_bucket = gb.join(
        F.broadcast(located.select("_g", "_bkt").distinct()), ["_g", "_bkt"]
    ).select("_g", "_bkt", "_v", "_c", F.sum("_c").over(wi).alias("_cin"))
    hit = in_bucket.join(located, ["_g", "_bkt"]).filter(
        (F.col("_r") > F.col("_before") + F.col("_cin") - F.col("_c"))
        & (F.col("_r") <= F.col("_before") + F.col("_cin"))
    )
    return hit.groupBy(F.col("_g").alias(group_col)).agg(
        F.sum("_v").alias("med2")
    )


def asof_nearest_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    right_vals: Sequence[str],
) -> DataFrame:
    """Nearest as-of join: each left row gets the right row whose
    ``right_ts`` is CLOSEST in either direction (per key), ties to the
    earlier right row — the sensor-alignment / "closest quote" variant of
    the backward-only ``asof_join``.

    Same single-shuffle tag+union mechanics: one key-partitioned window
    pass carries the latest right values backward (``last ignorenulls``
    up to the row) AND the next right values forward (``first
    ignorenulls`` from the row on); a codegen comparison of the two
    timestamp gaps picks the winner. Equal-timestamp right rows sort
    before left rows, so an exact match is the backward candidate at
    distance 0 and wins every tie. No range predicate ever reaches a
    join operator.
    """
    lcols = list(left.columns)
    rtypes = dict(right.dtypes)
    tagged_left = left.select(
        *[F.col(c) for c in lcols],
        F.lit(1).alias("_side"),
        F.col(left_ts).alias("_ts"),
        *[F.lit(None).cast(rtypes[v]).alias(f"_r_{v}") for v in right_vals],
    )
    tagged_right = right.select(
        *[
            F.lit(None).cast(dict(left.dtypes).get(c, "string")).alias(c)
            if c not in on
            else F.col(c)
            for c in lcols
        ],
        F.lit(0).alias("_side"),
        F.col(right_ts).alias("_ts"),
        *[F.col(v).alias(f"_r_{v}") for v in right_vals],
    )
    unioned = tagged_left.unionByName(tagged_right)
    wb = (
        Window.partitionBy(*on)
        .orderBy("_ts", "_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy(*on)
        .orderBy("_ts", "_side")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    rts = F.when(F.col("_side") == 0, F.col("_ts"))
    carried = unioned.select(
        *lcols,
        "_side",
        F.col("_ts").alias("_lts"),
        F.last(rts, ignorenulls=True).over(wb).alias("_bts"),
        F.first(rts, ignorenulls=True).over(wf).alias("_fts"),
        *[F.last(f"_r_{v}", ignorenulls=True).over(wb).alias(f"_b_{v}") for v in right_vals],
        *[F.first(f"_r_{v}", ignorenulls=True).over(wf).alias(f"_f_{v}") for v in right_vals],
    )
    # integer microseconds: unix_timestamp() truncates to seconds and
    # would mispick the nearer side for sub-second gap differences
    back_gap = F.unix_micros("_lts") - F.unix_micros("_bts")
    fwd_gap = F.unix_micros("_fts") - F.unix_micros("_lts")
    use_back = F.col("_fts").isNull() | (
        F.col("_bts").isNotNull() & (back_gap <= fwd_gap)
    )
    out = carried.filter(F.col("_side") == 1).select(
        *lcols,
        F.when(use_back, F.col("_bts")).otherwise(F.col("_fts")).alias("_near_ts"),
        *[
            F.when(use_back, F.col(f"_b_{v}")).otherwise(F.col(f"_f_{v}")).alias(v)
            for v in right_vals
        ],
    )
    return out


def grouped_value_ranks(
    df: DataFrame,
    group_col: str,
    value_col: str,
    bucket_width: float,
    count_col: str | None = None,
) -> DataFrame:
    """Per-(group, value) exact rank statistics with NO per-group
    single-task sort — the distributed primitive behind exact grouped
    percentiles and rank correlations when the group column has tiny
    cardinality (l_returnflag has 3 values: a rank window partitioned by
    it alone is 3 tasks forever, and Spark's exact ``percentile``
    aggregate buffers every group value in one reducer — both
    scale-killers at 100 TB).

    Returns the input's per-(group, value) rows plus ``c`` (rows holding
    this value), ``cum_before`` (rows with a strictly smaller value in
    the group), and ``n`` (group total). Two-level distributed prefix
    sum, exactly like q_equidepth_bins: values aggregate map-side into a
    per-(group, value) frame; coarse ``floor(value / bucket_width)``
    buckets give a per-(group, bucket) offset table (tiny — its window
    runs over buckets, not rows — and broadcast back); the within-bucket
    cumulative sum partitions by (group, bucket) and parallelizes across
    buckets. ``bucket_width`` only tunes parallelism, never results.

    ``count_col=None`` aggregates ``df`` rows itself; pass an existing
    per-(group, value)-unique frame's count column to reuse a prior
    aggregation (extra columns ride along untouched). Null values are
    the caller's job (excluded upstream).

    Tie-safety: the within-bucket prefix sum uses a RANGE frame (≤ value,
    minus the tied total) rather than a ROWS frame, so a caller-supplied
    frame that is NOT (group, value)-unique still gets correct ``c`` /
    ``cum_before`` on every row (duplicated, one per input row) instead
    of silently counting preceding tied rows as strictly smaller.
    """
    g, v = group_col, value_col
    if count_col is None:
        vc = df.groupBy(g, v).agg(F.count("*").alias("_c"))
        cc = "_c"
    else:
        vc, cc = df, count_col
    vcb = vc.withColumn("_b", F.floor(F.col(v) / F.lit(bucket_width)).cast("long"))
    bc = vcb.groupBy(g, "_b").agg(F.sum(cc).alias("_bn"))
    wb = (
        Window.partitionBy(g)
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    boff = bc.select(
        g,
        "_b",
        F.coalesce(F.sum("_bn").over(wb), F.lit(0)).alias("_boff"),
        F.sum("_bn").over(Window.partitionBy(g)).alias("n"),
    )
    wc_le = (
        Window.partitionBy(g, "_b")
        .orderBy(v)
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tied = F.sum(cc).over(Window.partitionBy(g, "_b", v))
    out = (
        vcb.withColumn("_tied", tied)
        .withColumn("_ib", F.sum(cc).over(wc_le) - F.col("_tied"))
        .join(F.broadcast(boff), [g, "_b"])
        .withColumn("c", F.col("_tied").cast("long"))
        .withColumn("cum_before", (F.col("_boff") + F.col("_ib")).cast("long"))
        .drop("_b", "_ib", "_boff", "_tied")
    )
    return out.drop("_c") if count_col is None else out


def grouped_exact_percentiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    ps: Sequence[float],
    bucket_width: float,
) -> DataFrame:
    """Exact interpolated percentiles per group, fully distributed:
    ``grouped_value_ranks`` supplies (c, cum_before, n) per value, the
    target index h = (n-1)·p is closed-form, and the two bracketing
    values v⌊h⌋ / v⌊h⌋+1 fall out of one conditional aggregation over the
    rank frame (a value row covers sorted indices
    [cum_before, cum_before + c)). Interpolation lower + frac·(upper −
    lower) matches Spark's ``percentile`` and DuckDB's ``quantile_cont``
    definitions. Returns (group, p, pct)."""
    g, v = group_col, value_col
    r = grouped_value_ranks(df, g, v, bucket_width)
    h = (F.col("n") - 1) * F.col("p")
    targets = (
        r.groupBy(g)
        .agg(F.max("n").alias("n"))
        .select(g, "n", F.explode(F.array(*[F.lit(p) for p in ps])).alias("p"))
        .select(
            g,
            "p",
            F.floor(h).cast("long").alias("_k"),
            (h - F.floor(h)).alias("_frac"),
        )
    )
    j = r.join(F.broadcast(targets), g)
    covers_k = (F.col("cum_before") <= F.col("_k")) & (
        F.col("_k") < F.col("cum_before") + F.col("c")
    )
    covers_k1 = (F.col("cum_before") <= F.col("_k") + 1) & (
        F.col("_k") + 1 < F.col("cum_before") + F.col("c")
    )
    agg = j.groupBy(g, "p").agg(
        F.max(F.when(covers_k, F.col(v))).alias("_vk"),
        F.max(F.when(covers_k1, F.col(v))).alias("_vk1"),
        F.max("_frac").alias("_frac"),
    )
    return agg.select(
        g,
        "p",
        (
            F.col("_vk")
            + F.col("_frac") * (F.coalesce(F.col("_vk1"), F.col("_vk")) - F.col("_vk"))
        ).alias("pct"),
    )
