"""Plan-quality regression tests: pin the physical-plan properties that
make these queries scale (SCALE.md). A refactor that silently drops a
pushdown, un-broadcasts a dimension, or turns top-k into a global sort
fails here — before it fails at 100 TB.
"""

import pytest

from hive_json_spark.registry import QUERIES
from tests.conftest import SF_DIR


def plan_of(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_pushes_filter_and_prunes_columns(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # 11-column table, 7-column read: projection reached the scan
    read = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "l_orderkey" not in read and "l_partkey" not in read


def test_q5_broadcasts_all_dimensions(spark):
    plan = plan_of(spark, "q5_region_revenue")
    # region/nation/customer/supplier joins all broadcast; only
    # orders⋈lineitem and the final agg may shuffle
    assert plan.count("BroadcastHashJoin") >= 4
    assert plan.count("Exchange hashpartitioning") <= 3


def test_topk_is_take_ordered_not_global_sort(spark):
    plan = plan_of(spark, "q_topk_orders")
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan  # no full sort node


def test_running_window_single_exchange(spark):
    # three window functions over the same spec: exactly one shuffle
    plan = plan_of(spark, "q_running_events")
    assert plan.count("Exchange hashpartitioning") == 1


def test_q18_semi_join_broadcasts_qualifying_keys(spark):
    plan = plan_of(spark, "q18_big_orders")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_scalar_pack_stays_in_codegen(spark):
    # a pure projection: no exchange, whole-stage codegen covers the plan
    plan = plan_of(spark, "q_scalar_pack")
    assert "Exchange" not in plan
    # "*(n)" marks operators fused into a WholeStageCodegen stage
    assert plan.lstrip().startswith("*(1)")


def test_q21_window_stats_add_no_exchange(spark):
    # per-order supplier counts come from window collect_set over the
    # join's existing orderkey partitioning: no agg + join-back, so the
    # whole query needs at most the two join-input exchanges
    plan = plan_of(spark, "q21_suppliers_kept_waiting")
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "TakeOrderedAndProject" in plan


def test_decontaminate_split_filters_push_below_kernel(spark):
    # the train/test split predicates must reach the parquet scan, NOT
    # sit above the Arrow gram kernel (each side explodes only its split)
    plan = plan_of(spark, "q_decontaminate")
    assert plan.count("ArrowEvalPython") == 2
    assert plan.count("(doc_id") >= 2 and "% 10)" in plan  # DataFilters at the scans
    assert "BroadcastHashJoin" in plan  # benchmark grams broadcast


def test_tfidf_single_pass_postings(spark):
    # r7 shape: ONE corpus scan, arrays_overlap doc prefilter below the
    # explode (Catalyst can't push a term filter through Generate), df via
    # window over the tf frame — 3 hash exchanges, all bounded by
    # query-match volume, no cache, no corpus-sized shuffle
    plan = plan_of(spark, "q_tfidf_topk")
    assert "arrays_overlap" in plan
    assert plan.count("Generate") == 1
    assert plan.count("Exchange hashpartitioning") <= 3
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_window_suite_shares_one_exchange(spark):
    # eight window functions over two frames + a second order key, all on
    # the same o_custkey partitioning: exactly one shuffle
    plan = plan_of(spark, "q_window_suite")
    assert plan.count("Exchange hashpartitioning") == 1


def test_bloom_probes_are_broadcast_joins(spark):
    # the three Bloom probe joins + nothing else touching the left side:
    # every probe is a broadcast hash join (left scan never shuffles until
    # after pruning), and the bloom build is a single-digit exchange count.
    # clearCache first: a bloom persisted by an earlier test inflates the
    # printed plan with the cached build's subtree under every probe
    spark.catalog.clearCache()
    plan = plan_of(spark, "q_bloom_semi_join")
    assert plan.count("BroadcastHashJoin") >= 3
    assert plan.count("Exchange hashpartitioning") <= 7


def test_scalar_pack2_stays_in_codegen(spark):
    plan = plan_of(spark, "q_scalar_pack2")
    assert "Exchange" not in plan
    assert plan.lstrip().startswith("*(1)")


def test_scd2_windows_share_one_exchange(spark):
    # LAG (change detection) and LEAD (interval close) partition the same
    # way: one sort+shuffle on o_custkey serves both window passes
    plan = plan_of(spark, "q_scd2_status")
    assert plan.count("Exchange hashpartitioning") == 1


def test_fk_integrity_is_broadcast_only(spark):
    # every edge audits in one child scan: all five parent joins broadcast
    # (dimensions forced, facts via AQE) and nothing hash-shuffles
    plan = plan_of(spark, "q_fk_integrity")
    assert plan.count("BroadcastHashJoin") == 5
    assert plan.count("Exchange hashpartitioning") == 0


def test_streaks_two_exchanges_end_to_end(spark):
    # distinct user-days (1) then window + both aggs on user_id (2):
    # the island trick adds NO extra shuffle over the distinct itself
    plan = plan_of(spark, "q_activity_streaks")
    assert plan.count("Exchange hashpartitioning") <= 2


def test_sweep_line_single_exchange(spark):
    # union of ±1 points, running sum, and the max agg all partition on
    # event_type: one shuffle, no self-join anywhere in the plan
    plan = plan_of(spark, "q_max_concurrency")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_bpe_pairs_aggregate_before_shuffle(spark):
    # the pair explode pipelines into a partial agg (shuffle carries
    # vocabulary-sized partial counts) and top-k is TakeOrderedAndProject
    plan = plan_of(spark, "q_bpe_pair_step")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan or "HashAggregate" in plan


def test_attribution_single_window_pass(spark):
    # first-touch and last-touch carries fuse into ONE Window operator
    # over one (user_id; ts, event_id) sort; the only other exchange is
    # the tiny final grid aggregation
    plan = plan_of(spark, "q_attribution")
    assert plan.count("Window") == 1
    assert plan.count("Exchange hashpartitioning") == 2


def test_interpolate_gaps_single_window_pass(spark):
    # all four neighbor carries (prev/next value and day) evaluate in ONE
    # Window operator — the forward and mirrored frames share the
    # (event_type; day) sort; exchanges: daily pre-agg + window partition
    plan = plan_of(spark, "q_interpolate_gaps")
    assert plan.count("Window") == 1
    assert plan.count("Exchange hashpartitioning") == 2


def test_top_paths_group_limit_before_shuffle(spark):
    # the step<=5 filter compiles to a partial (map-side) WindowGroupLimit
    # so each user's events are pruned to 5 BEFORE crossing the exchange,
    # and the ordered collect rides the window's user_id partitioning —
    # exchanges: window + path-count agg only; top-25 short-circuits
    plan = plan_of(spark, "q_top_paths")
    assert "WindowGroupLimit" in plan
    assert plan.count("Exchange hashpartitioning") == 2
    assert "TakeOrderedAndProject" in plan


def test_winsorize_broadcasts_cut_points(spark):
    # the per-group percentile cuts (k rows) broadcast back onto the fact
    # scan — clipping is map-side; only the percentile agg itself shuffles
    plan = plan_of(spark, "q_winsorize")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_dq_constraints_audit_is_count_only(spark):
    # the audit never materializes violating rows: every branch ends in a
    # count-style aggregate, the FK check broadcasts the parent key column,
    # and no global sort appears anywhere
    plan = plan_of(spark, "q_dq_constraints")
    assert "BroadcastHashJoin" in plan
    assert "Sort [" not in plan


def test_merge_upsert_is_one_keyed_join(spark):
    # the changelog fold is ONE join on the key (plus the tiny action
    # rollup): no nested-loop, no cartesian, no second pass over base
    plan = plan_of(spark, "q_merge_upsert")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") + plan.count("BroadcastHashJoin") == 1


def test_inverted_index_caps_postings_before_collect(spark):
    # the postings-head cap runs as a rank window BEFORE collect_list, so
    # no aggregation buffer holds an unbounded postings array; the top-50
    # short-circuits; only the (tok,doc) agg + tok window/agg shuffle
    plan = plan_of(spark, "q_inverted_index")
    assert "TakeOrderedAndProject" in plan
    # collect_list's input is the rank-capped CASE, fed by a row_number
    # window — the cap happens upstream of the aggregation buffer
    assert "row_number()" in plan
    assert "collect_list(CASE WHEN" in plan
    assert plan.count("Exchange hashpartitioning") == 2


def test_bm25_single_pass_postings_and_scalars_broadcast(spark):
    # same r7 single-pass shape as TF-IDF: arrays_overlap prefilter below
    # the one explode, df via window over tf, the 1-row N/avgdl stats arm
    # joined as a broadcast nested-loop (the only join), 3 bounded hash
    # exchanges, no corpus-sized shuffle
    plan = plan_of(spark, "q_bm25_topk")
    assert "arrays_overlap" in plan
    assert plan.count("Generate") == 1
    assert plan.count("Exchange hashpartitioning") <= 3
    assert plan.count("BroadcastNestedLoopJoin") == 1  # 1-row stats frame
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_zorder_straddle_rescan_pushes_key_ranges(spark):
    # the boundary-cell rescan reaches the parquet scan as plain
    # l_partkey/l_suppkey range predicates (data skipping), and the
    # whole-cell branch reads the checkpointed cell frame, not the table
    plan = plan_of(spark, "q_zorder_layout")
    assert "Scan ExistingRDD" in plan  # checkpointed cell frame
    if "PushedFilters" in plan:  # straddle branch exists at this SF
        pushed = plan.split("PushedFilters: ")[1].splitlines()[0]
        assert "l_partkey" in pushed or "l_suppkey" in pushed
    assert "BroadcastNestedLoopJoin" not in plan


def test_dedup_clusters_single_pass_no_iteration(spark):
    # block-local union-find: ONE FlatMapGroupsInPandas over the sparse
    # pair frame, no checkpointed-label RDD scans (the iterative path's
    # signature), no cartesian products
    plan = plan_of(spark, "q_dedup_clusters")
    assert "FlatMapGroupsInPandas" in plan
    assert "Scan ExistingRDD" not in plan
    assert "CartesianProduct" not in plan


def test_partitioned_sink_gets_dynamic_partition_pruning(spark, tmp_path):
    """A date-partitioned fact sink joined to a filtered dimension on the
    partition column must plan a dynamic-pruning subquery on the fact
    scan (PartitionFilters: dynamicpruning...) — the mechanism that lets
    a 100 TB date-partitioned table read only the days a selective dim
    filter survives, decided at runtime. Pin it so a sink or session
    regression can't silently degrade to full scans."""
    from pyspark.sql import functions as F

    from hive_json_spark.sources import load_table

    ev = load_table(spark, SF_DIR, "events").withColumn("day", F.to_date("ts"))
    path = str(tmp_path / "ev_parted")
    ev.write.partitionBy("day").parquet(path)
    fact = spark.read.parquet(path)
    dim = fact.select("day").distinct().filter(F.dayofmonth("day") <= 5)
    joined = fact.join(F.broadcast(dim), "day").groupBy("event_type").count()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Hive-style partitioned parquet layout: a filter on the partition
    column must prune directories at PLANNING time (PartitionFilters with
    a 1-of-N partition count), never scan-and-filter."""
    from pyspark.sql import functions as F

    from hive_json_spark.sources import load_table

    out = str(tmp_path / "events_by_type")
    ev = load_table(spark, SF_DIR, "events")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    back = spark.read.parquet(out).filter(F.col("event_type") == "purchase")
    plan = back._jdf.queryExecution().executedPlan().toString()
    # the equality predicate lands in PartitionFilters (planning-time dir
    # pruning), NOT PushedFilters (row-level filtering after reading)
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters: ")[1].splitlines()[0]
    assert "purchase" in pf, f"partition filter missing: {pf}"
    assert back.count() == ev.filter(F.col("event_type") == "purchase").count()


def test_new_iterative_queries_have_truncated_plans(spark):
    """The localCheckpoint mechanism must keep iterative plans linear:
    the audited plan is the executed one (no 2^rounds lineage blowup)."""
    for name, bound in (("q_bfs_hops", 6), ("q_markov_absorption", 16), ("q_mad_outliers", 14)):
        plan = plan_of(spark, name)
        n = plan.count("Exchange hashpartitioning")
        assert n <= bound, f"{name}: {n} exchanges — lineage not truncated?"


def test_interval_overlap_is_hash_join_not_nested_loop(spark):
    plan = plan_of(spark, "q_interval_overlap")
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_rrf_arms_use_topk_short_circuit(spark):
    plan = plan_of(spark, "q_rrf_fusion")
    assert plan.count("TakeOrderedAndProject") >= 2


def test_pagerank_plan_is_truncated_per_round(spark):
    # per-round localCheckpoint: the audited static plan must be the
    # executed per-round one, not 3 rounds of embedded lineage (the r2
    # audit counted 48 static shuffles here)
    plan = plan_of(spark, "q_pagerank_events")
    assert plan.count("Exchange hashpartitioning") <= 2


def test_equidepth_ranking_window_is_partitioned(spark):
    # the per-row ranking window must partition by the coarse bucket —
    # a global (empty-partition) row_number would serialize at any scale
    plan = plan_of(spark, "q_equidepth_bins")
    import re

    for m in re.finditer(r"row_number\(\).*?windowspecdefinition\(([^)]*)\)", plan):
        assert "_b" in m.group(1), "row_number window lost its bucket partition"
    assert "row_number()" in plan


def test_substring_dup_is_equi_join_on_window_key(spark):
    # hash/broadcast equi-join on the window key — never a nested loop
    # (AQE may pick broadcast at test scale; shuffled hash at 100 TB)
    plan = plan_of(spark, "q_substring_dup")
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )


def test_winnow_window_partitions_by_doc(spark):
    # the w-window min must partition by document: per-doc gram lists are
    # bounded, so no task ever sees more than one doc's grams
    plan = plan_of(spark, "q_winnow_dup")
    import re

    wins = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert wins and all("_id" in w for w in wins)


def test_aqe_splits_skewed_join_and_stays_fast(spark):
    """The 100 TB skew answer (SCALE.md): AQE skew-join splitting. Pin it
    with a deliberately skewed join — ONE key holds 50% of the left side
    (1M of 2M rows) — thresholds scaled to test data the way a real
    deployment scales them to executor memory. Asserts the final
    adaptive plan carries the skew-split markers AND wall time stays
    within 3x of the perfectly balanced twin (measured ~1.1x warm; the
    slack absorbs noisy-host scheduling, not a regression class — an
    unsplit hot partition serializes the whole join and fails the
    marker assert first anyway)."""
    import time

    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1048576",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "524288",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {}
    for k in confs:
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        n = 2_000_000
        base = spark.range(0, n, 1, 16).select(
            "id", F.concat(F.lit("payload-"), F.col("id")).alias("pay")
        )
        right = spark.range(0, n, 1, 16).select(
            F.col("id").alias("k"), F.concat(F.lit("dim-"), F.col("id")).alias("d")
        )
        skewed = base.withColumn(
            "k", F.when(F.col("id") % 2 == 0, F.lit(0)).otherwise(F.col("id"))
        )
        balanced = base.withColumn("k", (F.col("id") * 7919) % n)

        def run(left):
            # the xxhash64 predicate can't push below the join (spans both
            # sides), so the action executes the full join but collects ~0
            # rows; collect() runs THIS df's QueryExecution, so its
            # executedPlan is the final adaptive plan
            j = left.join(right, "k").filter(F.xxhash64("pay", "d") == F.lit(1))
            t0 = time.perf_counter()
            j.collect()
            elapsed = time.perf_counter() - t0
            return elapsed, j._jdf.queryExecution().executedPlan().toString()

        run(balanced)  # warm: shuffle/codegen paths out of the timings
        t_skew, plan_skew = run(skewed)
        t_bal, plan_bal = run(balanced)
        assert "skew=true" in plan_skew, "AQE did not mark the skewed join"
        assert "AQEShuffleRead skewed" in plan_skew, "hot partition not split"
        assert "skew=true" not in plan_bal  # marker is skew-specific
        assert t_skew <= 3 * t_bal + 1.0, (t_skew, t_bal)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_heavy_explode_operators_parallelize_single_partition_input(spark):
    """The r6 lesson, pinned: operators whose cost is a large per-row
    fanout (the 172x deletion-neighborhood explode) must repartition a
    single-partition input BEFORE the fanout — a single-file scan is one
    partition, and the fanout multiplies whatever parallelism the scan
    had (measured: 28 s one-core vs ~1 s on local[32] at sf1). The plan
    must show the ensure_parallelism round-robin exchange below the
    explode."""
    from pyspark.sql import functions as F

    from hive_json_spark.operators.dedup import edit_distance_pairs

    df = spark.createDataFrame(
        [(i, f"name{i:05d}") for i in range(200)], "id bigint, s string"
    ).coalesce(1)
    out = edit_distance_pairs(df, "id", "s", max_dist=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" in plan, plan[:2000]
    # and the operator still computes the right pairs on this input:
    # consecutive zero-padded names differ by 1 substitution = lev 1 only
    # when the decimal strings differ in exactly one digit
    got = {(r.id_a, r.id_b) for r in out.collect()}
    assert (0, 1) in got and (0, 10) in got and (0, 11) not in got


def test_aqe_skew_fires_on_lsh_candidate_join(spark):
    """r7 verdict ask #5: AQE skew handling pinned on a REAL operator,
    not just the synthetic join. A hot near-dup group (one giant LSH
    bucket per band — the genuinely-skewed shape a Zipfian corpus
    produces) must make the banded self-join inside lsh_candidate_pairs
    take the skew-split path, and the split must not change the
    candidate set. forceOptimizeSkewedJoin is required because the
    .distinct() above the join adds the extra-shuffle guard (documented
    AQE behavior); thresholds are scaled to the test corpus the same way
    the synthetic test scales them."""
    from pyspark.sql import functions as F

    from hive_json_spark.operators.dedup import lsh_candidate_pairs

    confs = {
        # the test session runs few shuffle partitions; skew detection is
        # per-partition (hot key vs median), so give it the real spread
        "spark.sql.shuffle.partitions": "32",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "2048",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1024",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {}
    for k in confs:
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None

    hot = [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(2000)]
    bg = [
        (10_000 + i, f"w{i:05d} w{i * 7 % 997:05d} w{i * 13 % 997:05d} w{i * 31 % 997:05d}")
        for i in range(320)
    ]
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        docs = spark.createDataFrame(hot + bg, "doc_id long, text string")

        def run():
            c = lsh_candidate_pairs(
                docs, "doc_id", "text", num_perm=32, bands=4, shingle_n=3
            )
            agg = c.agg(
                F.count("*").alias("n"),
                # mod keeps the exact-checksum sum inside long under ANSI
                F.sum(F.xxhash64("id_a", "id_b") % F.lit(1_000_000_007)).alias(
                    "chk"
                ),
            )
            stats = agg.collect()[0]
            # read the plan from the df the action RAN (collect finalizes
            # ITS QueryExecution; a sibling frame stays isFinalPlan=false)
            plan = agg._jdf.queryExecution().executedPlan().toString()
            return stats["n"], stats["chk"], plan

        n_skew, chk_skew, plan_skew = run()
        assert "skew=true" in plan_skew, plan_skew[:3000]
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        n_plain, chk_plain, plan_plain = run()
        assert "skew=true" not in plan_plain
        # the skew split must be plan-only: identical candidate pairs
        assert (n_skew, chk_skew) == (n_plain, chk_plain)
        assert n_skew >= 2000 * 1999 // 2  # the hot group's full clique
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_single_row_group_scan_is_repartitioned(spark, tmp_path):
    """The r7 trap, pinned: a large SINGLE-row-group parquet file plans
    size/maxPartitionBytes byte-range splits, but a row group is atomic —
    one split receives every row and the rest are EMPTY, so
    getNumPartitions() looks parallel while the kernel stage runs on one
    core (zipf-sf10 minhash signatures: 39 s single-core behind 24
    planned splits, 6 s after the fix). ensure_parallelism must see
    through the planned-split count via the parquet footer and
    repartition anyway — also under a directory whose name the file URI
    escapes (``uri%20with%20space``), which the footer open must
    unescape."""
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hive_json_spark.operators.util import ensure_parallelism

    n = 50_000
    data = pa.Table.from_pandas(
        pd.DataFrame({"id": range(n), "text": ["word " * 40] * n})
    )
    target = spark.sparkContext.defaultParallelism
    floor = max(target // 2, 2)
    saved = spark.conf.get("spark.sql.files.maxPartitionBytes", None)
    try:
        for sub in ("uri_plain", "uri with space"):
            base = tmp_path / sub
            base.mkdir()
            path = str(base / "one_rg.parquet")
            pq.write_table(data, path, row_group_size=n)  # ONE row group on purpose
            # derive the split size from the WRITTEN file size so the
            # planned split count clears the trap-scenario floor on any
            # core count — a fixed 64 KB split under-splits the
            # few-hundred-KB compressed file on high-core machines (r7
            # ADVICE: environment-dependent precondition flake, not a
            # product bug)
            split = max(os.path.getsize(path) // (floor * 2), 1024)
            spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
            scan = spark.read.parquet(path)
            planned = scan.rdd.getNumPartitions()
            assert planned >= floor, (sub, planned, floor, split)  # the trap scenario
            fixed = ensure_parallelism(scan)
            assert "RoundRobinPartitioning" in fixed._jdf.queryExecution().executedPlan().toString(), sub
            # the probe is footer-driven: the same data written with MANY
            # row groups planned the same way is left alone (no spurious
            # shuffle)
            path2 = str(base / "many_rg.parquet")
            pq.write_table(data, path2, row_group_size=n // 64)
            scan2 = spark.read.parquet(path2)
            assert ensure_parallelism(scan2) is scan2, sub
            # rewritten in place as ONE row group, the same path is the
            # trap again: the probe must read the footer as it is now
            pq.write_table(data, path2, row_group_size=n)
            rewritten = ensure_parallelism(spark.read.parquet(path2))
            assert "RoundRobinPartitioning" in rewritten._jdf.queryExecution().executedPlan().toString(), sub
    finally:
        if saved is None:
            spark.conf.unset("spark.sql.files.maxPartitionBytes")
        else:
            spark.conf.set("spark.sql.files.maxPartitionBytes", saved)


def _keyed(spark):
    from pyspark.sql import functions as F

    return spark.range(0, 1000, 1, 4).groupBy((F.col("id") % 7).alias("k")).count()


def _text_scan(spark, tmp_path):
    (tmp_path / "t.txt").write_text("a\nb\n")
    return spark.read.text(str(tmp_path / "t.txt"))


@pytest.mark.parametrize(
    "kind, build",
    [
        ("kept", lambda spark, tmp_path: _keyed(spark)),
        ("kept", lambda spark, tmp_path: spark.range(0, 1000, 1, 1).repartition(3)),
        ("kept", lambda spark, tmp_path: _keyed(spark).persist()),
        ("spread", _text_scan),
    ],
    ids=["hash_exchange", "round_robin_exchange", "persisted", "one_partition_text"],
)
def test_ensure_parallelism_decides_without_jobs(spark, tmp_path, kind, build):
    """ensure_parallelism decides from the planned plan and the file
    layout and runs nothing: building ``.rdd`` on a shuffled frame
    finalizes its AQE plan, which would run the frame's exchanges as jobs
    inside the helper. A frame that already holds a shuffle exchange (the
    shuffle sets its partitioning) and a persisted frame come back as the
    same object; a one-partition text scan, which no parquet footer
    describes, is spread. Zero jobs either way."""
    from hive_json_spark.operators.util import ensure_parallelism

    df = build(spark, tmp_path)
    sc = spark.sparkContext
    group = f"ensure-parallelism-{kind}-{id(df)}"
    sc.setJobGroup(group, kind)
    try:
        out = ensure_parallelism(df)
    finally:
        sc.setJobGroup(None, None)
        df.unpersist()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0
    if kind == "kept":
        assert out is df
    else:
        assert "RoundRobinPartitioning" in out._jdf.queryExecution().executedPlan().toString()


# --- scan-count budgets (the r8 sweep's regression pin) -----------------------

# Effective base-table scans per query (audit._effective_scans): each live
# FileScan is a full corpus pass at 100 TB; FileScans under a cached
# (InMemoryRelation) subtree count once per distinct cache. The r8 sweep cut
# these plans from 3-6 passes to the budgets below — a refactor that drops a
# scoped_persist, re-unions a shared 1-row aggregate, or unchains the funnel
# windows re-inflates the count and fails here before it fails at scale.
SCAN_BUDGETS = {
    "q_t_closeness": 1,
    "q_funnel_conversion": 1,
    "q_window_funnel": 1,
    "q_funnel_ttc": 1,
    "q_hll_intersect": 1,
    "q_filter_funnel": 1,
    "q_vocab_drift": 1,
    "q_bigram_pmi": 1,
    "q_kaplan_meier": 1,
    "q_triangle_count": 1,
    "q_unigram_logloss": 1,
    "q_keyword_extraction": 2,  # tf build + stats-only corpus count
    "q_join_size_sketch": 1,
    "q_dq_constraints": 4,  # 3 distinct orders aggregations + customer
    "q_trend_mann_kendall": 1,
    "q_copurchase_lift": 1,
    "q_audience_overlap": 1,
    "q_mixture_resample": 2,
    "q_ltv_curve": 2,
    "q_cms_topk": 2,
    "q_impute_missing": 2,
    "q_schema_drift": 2,  # events + the 1-row day-0 anchor, both inside the cached cells subtree
}


@pytest.mark.parametrize("name", sorted(SCAN_BUDGETS))
def test_scan_budget(spark, name):
    from hive_json_spark.audit import _effective_scans
    from hive_json_spark.functions.caching import release_scoped

    try:
        assert _effective_scans(plan_of(spark, name)) <= SCAN_BUDGETS[name]
    finally:
        release_scoped()

def test_unwrap_keeps_parenless_depth0_roots():
    """ADVICE r9: simple-mode / non-AQE explain output can root at depth 0
    with no paren suffix (``LocalTableScan [v]``, ``CollectLimit 21``);
    those are genuine nodes, not wrapped expression tails, and must not be
    merged into the previous line (which miscounts FileScans). Wrapped
    tails that merely start uppercase still merge."""
    from hive_json_spark.audit import _unwrap

    roots = ["LocalTableScan [v#1]", "CollectLimit 21", "Union", "Scan parquet [a#2]"]
    for root in roots:
        lines = ["AdaptiveSparkPlan isFinalPlan=true", root]
        assert _unwrap(lines) == lines, root

    # a split-literal tail beginning with an uppercase word is NOT a root
    wrapped = [
        "Project [split(text#3, ",
        "ERROR: , -1) AS parts#4]",
    ]
    assert _unwrap(wrapped) == ["Project [split(text#3,  ERROR: , -1) AS parts#4]"]
