"""Physical-plan audit over the whole declared query surface.

``python -m hive_json_spark.audit [sf_dir]`` prints a markdown table —
one row per registered query — of the plan properties that matter at
scale: shuffle exchanges, broadcast joins, scan-pushed filters, top-k
short-circuits, and Python-boundary nodes. ``PLANS.md`` at the repo root
is this tool's committed output; regenerate after plan-affecting changes.
"""

from __future__ import annotations

import re
import sys


def audit_plan(plan: str) -> dict:
    return {
        "shuffles": plan.count("Exchange hashpartitioning"),
        "broadcasts": plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin"),
        "topk": "TakeOrderedAndProject" in plan,
        "pushed": bool(re.search(r"PushedFilters: \[(?!\])", plan)),
        "python": plan.count("ArrowEvalPython")
        + plan.count("BatchEvalPython")
        + plan.count("MapInPandas")
        + plan.count("FlatMapGroupsInPandas"),
        # effective source-scan count: each live FileScan is one full pass
        # over a base table at execution time; FileScans nested under an
        # InMemoryRelation run only when the cache materializes, so each
        # DISTINCT cached subtree (the printer re-emits one per consumer
        # with renumbered expr ids) contributes its scans ONCE. A query
        # paying k passes over the same table at 100 TB is the smell the
        # t-closeness rewrite removed.
        "scans": _effective_scans(plan),
    }


def _tree_depth(line: str) -> int:
    """Depth of a node line in Spark's plan toString() = length of the
    box-drawing prefix (spaces, ':', '+-', '*')."""
    return len(re.match(r"^[\s:+\-*]*", line).group(0))


# Depth-0 lines that are genuine plan roots rather than wrapped expression
# tails: the tree root (AdaptiveSparkPlan / a named physical node at line
# start), `Execute ...` command wrappers, subquery roots, and `== ... ==`
# section headers. A generic CamelCase node name counts as a root when
# followed by the printer's operand shapes — `(`, ` [`, a bare number
# (``CollectLimit 21``), or end of line (simple-mode / non-AQE roots like
# ``LocalTableScan [v]`` carry no paren) — but NOT by arbitrary text, so a
# wrapped expression tail that happens to start uppercase (a split literal
# '\nERROR: x', an uppercase column name mid-expression) still merges into
# its node line. Everything else at depth 0 is a continuation.
_PLAN_ROOT_RE = re.compile(
    # named roots whose operands start lowercase (``Scan parquet …``,
    # ``Exchange hashpartitioning…``) need explicit entries
    r"^(AdaptiveSparkPlan\b|Execute\b|Subquery\b|ResultQueryStage\b|=="
    r"|(File)?Scan\b|Exchange\b"
    r"|[A-Z][A-Za-z]*(\s*\(|\s+\[|\s+\d|$))"
)


def _unwrap(lines: list[str]) -> list[str]:
    """Merge physical continuation lines back into their node line: an
    expression containing a literal newline (e.g. ``split(col, '\\n')`` in
    the schema-drift query) wraps the printer's one-node-per-line contract,
    and the orphaned tail reads as a depth-0 line that would terminate any
    depth-bounded block walk early (miscounting cached scans as live).
    Genuine depth-0 lines are the root node, section headers (``=====``)
    and subquery roots; anchor on those known plan-root patterns rather
    than guessing by first-character case (an expression tail can begin
    with an uppercase char — e.g. a split literal '\\nERROR' or an
    uppercase column name — and a future plan root could begin
    lowercase)."""
    out: list[str] = []
    for ln in lines:
        if (
            out
            and _tree_depth(ln) == 0
            and ln
            and not _PLAN_ROOT_RE.match(ln)
        ):
            out[-1] += " " + ln
        else:
            out.append(ln)
    return out


def _normalize_block(lines: list[str]) -> str:
    return re.sub(
        r"#\d+|plan_id=\d+", "#x", "\n".join(ln.lstrip(" :+-*") for ln in lines)
    )


def _scan_parts(lines: list[str], start: int, end: int) -> tuple[int, dict[str, int]]:
    """Walk a plan region: returns (live FileScans outside any cache,
    {normalized cached subtree -> its OWN FileScans, excluding nested
    caches}). Nested caches surface as their own dict entries, so a cache
    referenced both top-level and inside another cache dedupes globally."""
    live = 0
    blocks: dict[str, int] = {}
    i = start
    while i < end:
        line = lines[i]
        if "InMemoryRelation" in line:
            depth = _tree_depth(line)
            j = i + 1
            while j < end and _tree_depth(lines[j]) > depth:
                j += 1
            inner_live, inner_blocks = _scan_parts(lines, i + 1, j)
            # dedupe on the block INTERIOR: column aliases applied above a
            # cache are pushed into the InMemoryRelation header print, so
            # the same cache appears as [da,xa] / [db,xb] / [day,x] at its
            # three consumers while the build plan underneath is identical
            blocks.setdefault(_normalize_block(lines[i + 1 : j]), inner_live)
            for key, own in inner_blocks.items():
                blocks.setdefault(key, own)
            i = j
        else:
            if "FileScan parquet" in line:
                live += 1
            i += 1
    return live, blocks


def _effective_scans(plan: str) -> int:
    """FileScans that execute as real base-table passes: live ones count
    each occurrence; ones inside cached (InMemoryRelation) subtrees count
    once per DISTINCT cached plan, at any nesting depth — the printer
    inlines the same cache at every consumer with fresh expression ids,
    so subtrees are deduped after normalizing `#NNN` ids and plan_ids,
    and a cache built on another cache contributes only its own scans."""
    lines = _unwrap(plan.splitlines())
    live, blocks = _scan_parts(lines, 0, len(lines))
    return live + sum(blocks.values())


# Exchange ledger (r7 shuffle-budget audit): every ≥7-exchange plan from the
# r6 table, each Exchange classified as (a) algorithm-required, (b) fusable,
# or (c) removed. Static-explain counts (the table's convention); runtime
# ReusedExchange noted where AQE dedupes at execution.
LEDGER = {
    "q_bm25_topk": (
        "8 → 3 (r7 REWRITE). Removed: full-postings shuffle (query-term "
        "filter pushed below the groupBy — the exchange now carries matching "
        "postings only), full-vocabulary df shuffle (df of the filtered tf "
        "equals df of the query terms), doc-length arm + its join (len = "
        "size(tokens(text)) rides the postings groupBy as a per-doc "
        "constant). Remaining 3, all required + bounded: filtered postings "
        "groupBy, window-df sort on term over tf, final per-doc agg; corpus "
        "count/avgdl is one 1-row broadcast agg."
    ),
    "q_tfidf_topk": "8 → 3 — same rewrite as q_bm25_topk (shared shape).",
    "q_mad_outliers": (
        "12, all (a) algorithm-required: three exact quantiles (p25/p50/p75) "
        "each decompose into the two-phase bounded-state pair (g,bucket)→(g) "
        "= 6; the MAD second pass (|x−median| then two-phase median again) "
        "adds (g,bkt)+(g) pairs = 4; verify re-exchange + final flag agg = 2. "
        "AQE emits 3 ReusedExchange at runtime (quantile arms share the "
        "bucket partials). The exchange count is the PRICE of the two-phase "
        "median — the single-shuffle alternative (holistic percentile()) "
        "holds every group value in executor memory, the actual 100 TB "
        "hazard (documented trade at queries_analytics.py)."
    ),
    "q_ann_recall": (
        "9, all (a) harness-required + probe-bounded: two method arms "
        "(exact, LSH) each need (query_id,vec_id) topk + per-query agg; the "
        "truth join keys (t_qid,true_id); four SinglePartition checksum "
        "aggs are 1-row; two RoundRobin repartitions are ensure_parallelism "
        "on single-file scans. Every exchange is ≤ max_queries × k rows "
        "except the candidate arms, which are LSH-bucket-bounded."
    ),
    "q_setsim_prefix_join": (
        "8 → 4 (r9 REWRITE). In-plan: the pinned shuffle_hash candidate "
        "join (×2 — unhinted, the planner under-sizes the neighborhood "
        "explode and would BROADCAST it, the one frame here that is not "
        "small), pair distinct (id_a,id_b), final per-dup aggregation. "
        "Moved off-plan into rep-sized checkpoint jobs: the identical-set "
        "collapse is now ONE partial-aggregating groupBy(_fp) emitting rep "
        "id + rep tokens together (was a window pass + a rep-selection "
        "join = two corpus passes), plus a member-map join that AQE "
        "broadcasts. Removed outright: the intra-pair members self-join "
        "(fused into the expansion via per-group self rep-pairs) and the "
        "two expansion SMJs (members' size is KNOWN post-checkpoint, so "
        "the map broadcasts under a pinned 2M-row bound with the SMJ "
        "fallback above it). Volumes: candidates are asymmetric-budget "
        "deletion meets (~once per true pair), members output-sized — "
        "nothing corpus-quadratic."
    ),
    "q_audience_overlap": (
        "7 static (unchanged print — a cached subtree re-prints its "
        "Exchange at every InMemoryTableScan), but the r7-flagged fusion is "
        "now APPLIED (r8): the distinct (event_type,user_id) frame is "
        "scoped-persisted, so at runtime the distinct shuffle materializes "
        "ONCE and the three consuming arms (pair join ×2 + per-type totals) "
        "read cached blocks. Measured at sf0.1 the delta is inside noise "
        "(the recompute was ~0.1 s/arm); the fusion's value is the 100 TB "
        "shape, where each arm re-ran a corpus scan + shuffle. Lifecycle: "
        "released by the graded wrapper at the next query "
        "(functions/caching.py)."
    ),
    "q_copurchase_lift": (
        "8 static → 9 printed (cached-subtree re-print, same caveat as "
        "q_audience_overlap) with the r7-flagged fusion APPLIED (r8): the "
        "per-basket distinct (order,part) frame is scoped-persisted and "
        "materializes once for its four arms (order count, supports, both "
        "pair-join sides) instead of re-running the lineitem scan + "
        "distinct per arm. sf0.1 delta inside noise; corpus-scan ×4 → ×1 "
        "is the 100 TB win."
    ),
    "q_bloom_semi_join": (
        "7 static, already fused at runtime: the bloom-build subtree's "
        "(_k)/(_w) exchanges appear three times in the tree print with the "
        "SAME plan_id — one physical exchange, shared. Remaining: build "
        "aggs + probe join, all required; the filter itself broadcasts."
    ),
}


def main(sf_dir: str = "/root/testdata/sf0.001") -> int:
    from hive_json_spark.registry import QUERIES
    from hive_json_spark.session import get_spark

    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    print(f"# PLANS — physical-plan audit at {sf_dir}")
    print()
    print("Generated by `python -m hive_json_spark.audit`. Columns: shuffle")
    print("exchanges / broadcast joins / top-k short-circuit / filters pushed to")
    print("scan / Python-boundary operators (Arrow-batched kernels only — no")
    print("row-at-a-time UDF appears anywhere) / base-table FileScan count (a")
    print("plan scanning the same table k times pays k corpus passes at scale;")
    print("multi-table queries legitimately count one per table).")
    print()
    print("| query | shuffles | broadcasts | top-k | pushdown | python ops | scans |")
    print("|---|---|---|---|---|---|---|")
    for name in sorted(QUERIES):
        try:
            df = QUERIES[name](spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            a = audit_plan(plan)
            print(
                f"| {name} | {a['shuffles']} | {a['broadcasts']} | "
                f"{'✓' if a['topk'] else ''} | {'✓' if a['pushed'] else ''} | "
                f"{a['python']} | {a['scans']} |"
            )
        except Exception as exc:  # keep the report complete even if one plan fails
            print(f"| {name} | — | — | — | — | error: {type(exc).__name__} | — |")
    print()
    print("## Exchange ledger (≥7-exchange plans)")
    print()
    print("Every Exchange classified: (a) algorithm-required, (b) fusable,")
    print("(c) removed. Static-explain counts; AQE runtime reuse noted.")
    print()
    for q in sorted(LEDGER):
        print(f"- **{q}** — {LEDGER[q]}")
    print()
    print("Streaming (`q_stream_*`) rows show the FINAL-STATE scan only —")
    print("the stream's work happens inside foreachBatch/state-store jobs,")
    print("which a static explain of the returned frame cannot show; their")
    print("shuffle sizing is the harness-bounded 4 partitions with adaptive")
    print("execution off, set on the entry's own session")
    print("(queries_streaming.py).")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(*sys.argv[1:2]))
