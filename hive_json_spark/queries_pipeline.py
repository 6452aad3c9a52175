"""LLM-data-pipeline queries: dedup, similarity search, text analysis —
each oracled in DuckDB. Approximate / hash-dependent operators (SimHash,
hyperplane-LSH, IVF) have no SQL form for their raw output, so their
entries grade an acceptance verdict (exact truth counts plus a recall
floor) instead.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from hive_json_spark.operators.dedup import (
    content_hash_dedup,
    embedding_near_dup_pairs,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    prefix_filter_jaccard_pairs,
    simhash_near_dup_pairs,
)
from hive_json_spark.operators.multimodal import (
    decode_and_featurize,
    decode_media_features,
    frame_sample_plan,
    synthetic_media,
    synthetic_media_binary,
)
from hive_json_spark.operators.similarity import brute_force_topk, ivf_topk, lsh_topk
from hive_json_spark.operators.textstats import fingerprint, lang_id, text_profile
from hive_json_spark.registry import query
from hive_json_spark.sources import load_table

# --- deduplication -----------------------------------------------------------

@query(
    "q_dedup_exact",
    """
    SELECT md5(text) AS content_md5, CAST(MIN(doc_id) AS BIGINT) AS doc_id
    FROM documents GROUP BY md5(text)
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return content_hash_dedup(docs, "text", "doc_id")


@query(
    "q_ngram_jaccard_pairs",
    """
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.tok, b.tok))), 4) AS jaccard
    FROM (SELECT doc_id, lang, source,
                 list_distinct(list_filter(string_split_regex(text, '\\s+'), t -> t != '')) AS tok FROM documents) a
    JOIN (SELECT doc_id, lang, source,
                 list_distinct(list_filter(string_split_regex(text, '\\s+'), t -> t != '')) AS tok FROM documents) b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE ROUND(CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
                / len(list_distinct(list_concat(a.tok, b.tok))), 4) >= 0.5
    """,
)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-set Jaccard ≥ 0.5 pairs within (lang, source) blocks, with
    the same size-probe dispatch as q_dedup_clusters (shared helper):
    the block attributes have fixed cardinality, so the naive blocked
    all-pairs kernel is corpus-quadratic — measured 60 s at sf1 before
    the dispatch vs ~13 s via the prefix path, identical rows."""
    docs = load_table(spark, sf_dir, "documents")
    return _blocked_jaccard_pairs(docs, 0.5).select("id_a", "id_b", "jaccard")


def _blocked_jaccard_pairs(
    docs: DataFrame, threshold: float, max_allpairs_volume: float = 2_000_000
) -> DataFrame:
    """(lang, source)-blocked exact Jaccard pairs with auto-dispatch on
    the TOTAL same-block pair volume Σ C(block, 2) (exact, from the
    block-count agg — one cheap probe): the block attributes have FIXED
    cardinality (~100 blocks), so pair volume — the all-pairs kernel's
    cost — grows with corpus². Under 2M pairs the blocked all-pairs
    kernel wins (fixed overhead only); above it the dispatch switches to
    the AllPairs/PPJoin prefix-filter join over BLOCK-PREFIXED tokens:
    each token is prepended with its doc's (lang, source) key, a per-doc
    bijection, so same-block pairs keep their exact Jaccard while
    cross-block pairs share zero tokens and can never reach the
    threshold — the blocking is IN the candidate join key (per-block
    posting lists, no cross-block candidates, no post-filter waste).
    Same exact pair set either way (integer-exact ≥ threshold test; at
    these token-set sizes the 4-dp rounding cannot straddle the
    threshold). Returns (id_a, id_b, lang, source, jaccard).

    r5 dispatched on MAX block size (>2048) — the r6 Zipfian census
    showed that criterion misses the quadratic: at zipf-sf1 every block
    is ~500-1000 rows (under the cutoff) yet Σ C(block,2) ≈ 15.6M pairs
    ran through the Arrow kernel for 37 output rows (37.7 s). The pair-
    volume probe dispatches on the actual cost driver; the block-prefix
    trick keeps the fallback output-sensitive in the sparse regime it
    exists for (measured: 37.7 s → see SCALE.md zipf census table)."""
    from hive_json_spark.operators.dedup import prefix_filter_jaccard_pairs

    c = F.col("count").cast("double")
    total_pairs = (
        docs.groupBy("lang", "source")
        .count()
        .agg(F.coalesce(F.sum(c * (c - 1) / 2), F.lit(0.0)).alias("p"))
        .first()["p"]
    )
    if total_pairs <= max_allpairs_volume:
        return ngram_jaccard_pairs(
            docs, "doc_id", "text", ["lang", "source"], threshold,
            keep_block_cols=True,
        )
    # block-prefixed tokens: "<lang>\x01<source>\x01<token>" — bijective
    # per doc, so distinct-set Jaccard within a block is unchanged. ONE
    # tokenizer on both arms: tokens() (\s+, empties filtered) here, the
    # py_tokens mirror inside the all-pairs kernel — text with tabs/
    # newlines/double spaces now takes the same token boundaries on
    # either dispatch path (and in the oracle's string_split_regex).
    from hive_json_spark.functions.text import tokens
    from hive_json_spark.operators.util import ensure_parallelism

    # Repartition BEFORE the token build: the projection is the expensive
    # expression here (regex split + per-token prefix concat), and on a
    # single-row-group scan it would otherwise evaluate on one core
    # below the exchange ensure_parallelism adds around the whole frame
    # (r7 census find: ~18 s single-core per evaluation at zipf-sf10).
    # r11: the DISTINCT prefixed-token ARRAY goes straight through
    # tokens_col= — the old shape rebuilt a space-joined string here only
    # for prefix_filter_jaccard_pairs to regex-split it again (measured
    # 4.5 -> 3.0 s for the base build at sf1, identical sets: per-token
    # prefixing is a bijection and tokens contain no whitespace).
    prefixed = ensure_parallelism(
        docs.select("doc_id", "lang", "source", "text")
    ).select(
        "doc_id",
        "lang",
        "source",
        F.array_distinct(
            F.transform(
                tokens("text"),
                lambda t: F.concat_ws("\x01", F.col("lang"), F.col("source"), t),
            )
        ).alias("_btok"),
    )
    attrs = docs.select("doc_id", "lang", "source")
    return (
        prefix_filter_jaccard_pairs(
            prefixed, "doc_id", "_btok", threshold, tokens_col="_btok"
        )
        .join(
            attrs.select(
                F.col("doc_id").alias("id_a"),
                F.col("lang").alias("lang"),
                F.col("source").alias("source"),
            ),
            "id_a",
        )
        .select("id_a", "id_b", "lang", "source", "jaccard")
    )


@query(
    "q_substring_dup",
    """
    WITH toks AS (SELECT doc_id,
                         list_filter(string_split_regex(text, '\\s+'), t -> t != '') AS tk
                  FROM documents),
    wins AS (SELECT DISTINCT doc_id,
                    array_to_string(tk[i + 1:i + 8], ' ') AS win
             FROM toks,
                  LATERAL (SELECT unnest(range(greatest(len(tk) - 7, 0))) AS i))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_windows
    FROM wins a JOIN wins b USING (win)
    WHERE a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    """,
)
def q_substring_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate pairs: documents sharing at least one
    verbatim 8-token span (Lee et al. 2021's exact-substring dedup,
    re-expressed as a sliding-window equi-join instead of a suffix
    array — operators.dedup.substring_dup_pairs). The oracle joins on
    the window TEXT, so the graded path runs ``hash_key=False``
    (bit-exact); production defaults to the xxhash64 key (8-byte shuffle
    rows) with ``max_df`` boilerplate discard — same pairs, documented
    collision odds ~n²/2⁶⁵."""
    from hive_json_spark.operators.dedup import substring_dup_pairs

    docs = load_table(spark, sf_dir, "documents")
    return substring_dup_pairs(docs, "doc_id", "text", k=8, hash_key=False)


def _dedup_method_stats(spark: SparkSession, sf_dir: str) -> list:
    """Raw stats for the dedup-method evaluation harness (the q_ann_recall pattern applied
    to the dedup suite): score every approximate near-dup method against
    the EXACT 3-gram shingle-set Jaccard ≥ 0.5 pair set, computed
    all-pairs via the shingle equi-join (order-SENSITIVE similarity —
    the space MinHash actually sketches; token-SET Jaccard saturates on
    this small-vocabulary corpus, 92k of 125k pairs ≥ 0.5, and grades
    nothing). Emits (method, n_pairs, n_truth, precision vs truth,
    recall of truth) for MinHash-LSH, SimHash, exact-substring windows,
    and winnowing fingerprints.

    Expected shape, pinned by the unit test: MinHash-LSH precision is
    EXACTLY 1.0 against this truth (it verifies candidates with the same
    exact shingle Jaccard) and its recall measures pure LSH candidate
    coverage; the span methods (substring/winnow) trade recall on
    shuffled-but-similar docs for verbatim-run guarantees; SimHash sits
    between. The raw per-method pair sets are impl-specific (seeded
    hash families — no SQL form); the graded wrapper below converts
    these stats into the oracle-checkable acceptance verdict, and every
    per-method pair set is itself unit-tested upstream.

    Scale: truth is the substring-join shape (distinct (id, shingle) →
    equi-join → per-pair counts — bounded by shared-shingle pairs, which
    order-sensitivity keeps sparse); the scoring joins run on pair sets,
    collision-sized, not corpus-sized.

    Cost shape (r3 5.75 s → r5 3.4 s → r6): the 2000-doc prefix is
    localCheckpointed ONCE; truth + the four method pipelines are then
    BUILT AND MATERIALIZED inside one driver thread pool (plan
    construction is ~0.8 s of serial Catalyst/Py4J work — moving it into
    the threads overlaps it with the first jobs), and one final
    sub-second action scores the tagged union of the pinned pair sets
    against the truth marker. Two alternatives were measured and
    REJECTED on interleaved A/B (same box, min-of-3): (a) a shared
    pre-shingled frame (``shingled_docs`` + ``shingles_col``) — the
    extra checkpoint is a ~0.5 s SERIAL barrier while the re-shingling
    it saves was already overlapped inside the concurrent arms
    (3.4 s → 3.7 s); (b) fusing all five pipelines into ONE tagged-union
    action — loses the per-arm early materialization and measured
    slowest of all (4.4 s). Identical output rows in all variants."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.storagelevel import StorageLevel

    from hive_json_spark.operators.dedup import (
        minhash_dedup_pairs,
        shingle_jaccard_truth_pairs,
        shingled_docs,
        simhash_near_dup_pairs,
        substring_dup_pairs,
        winnow_dup_pairs,
    )

    # Eval on a bounded, GROUP-COMPLETE prefix (doc_id < 2000 keeps whole
    # planted near-dup groups): an acceptance harness's cost must not
    # scale with the corpus — the methods' own scale behavior is audited
    # separately (SCALE.md); only their quality is graded here. The
    # checkpoint is bounded by the same constant the prefix is.
    #
    # Shared base (r10): ONE corpus read + ONE Arrow tokenize+shingle pass
    # feeds all five arms — truth and minhash consume the precomputed
    # 3-gram shingle sets via shingles_col=, the span/simhash arms read
    # text from the same cached blocks. A lazily persisted frame (NOT the
    # r6-rejected localCheckpoint variant, whose eager materialization was
    # a ~0.5 s serial barrier before any arm could start): the concurrent
    # arms' first tasks materialize each block once under the block
    # manager's per-block write lock while the rest proceed, so the shared
    # pass overlaps the arms instead of preceding them.
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 2000)
        .select("doc_id", "text")
    )
    base = shingled_docs(docs, "doc_id", "text", n=3, keep_text=True).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    from pyspark.sql import Observation

    # n_truth rides the truth arm's checkpoint as an observed metric
    # (r11; was a separate truth.count() job in the serial spine —
    # metadata-cheap but still a driver round trip; observation-on-
    # localCheckpoint is pinned by the similarity-core test)
    tobs = Observation()
    builders = {
        # 64x8 default: measured FASTER here than the 32x16 config the
        # standalone query uses — 16 bands doubles the band-join rows and
        # the 0.25 collision threshold multiplies verify candidates;
        # verified pair sets are identical on this corpus either way
        "__truth__": lambda: shingle_jaccard_truth_pairs(
            base, "doc_id", "text", threshold=0.5, shingles_col="shingles"
        ).observe(tobs, F.count(F.lit(1)).alias("n")),
        "minhash_lsh": lambda: minhash_dedup_pairs(
            base, "doc_id", "text", threshold=0.5, shingles_col="shingles"
        ).select("id_a", "id_b"),
        "simhash": lambda: simhash_near_dup_pairs(base, "text", "doc_id").select(
            "id_a", "id_b"
        ),
        "substring_w8": lambda: substring_dup_pairs(
            base, "doc_id", "text", k=8
        ).select("id_a", "id_b"),
        "winnow_k5w4": lambda: winnow_dup_pairs(
            base, "doc_id", "text", k=5, w=4
        ).select("id_a", "id_b"),
    }
    try:
        with ThreadPoolExecutor(max_workers=5) as ex:
            futs = {
                n: ex.submit(lambda b=b: b().localCheckpoint())
                for n, b in builders.items()
            }
            pinned = {n: f.result() for n, f in futs.items()}
    finally:
        base.unpersist()
    truth = pinned.pop("__truth__")
    n_truth = int(tobs.get["n"])  # observed on the checkpoint: no job
    # ONE final action: tag each pinned pair set, union, left-join the
    # truth marker once, aggregate per method — sub-second on pair sets.
    t = truth.withColumn("_t", F.lit(1))
    tagged = None
    for name, pairs in pinned.items():
        branch = pairs.withColumn("method", F.lit(name))
        tagged = branch if tagged is None else tagged.unionByName(branch)
    stats = {
        r["method"]: (int(r["np"]), int(r["nh"]))
        for r in tagged.join(F.broadcast(t), ["id_a", "id_b"], "left")
        .groupBy("method")
        .agg(
            F.count("*").alias("np"),
            F.coalesce(F.sum("_t"), F.lit(0)).alias("nh"),
        )
        .collect()
    }
    rows = []
    for name in builders:
        if name == "__truth__":
            continue
        n_pairs, n_hit = stats.get(name, (0, 0))
        rows.append((name, n_pairs, n_truth, n_hit))
    return rows


# per-method quality floors (precision, recall) vs the exact shingle
# truth, as integer BASIS POINTS so the floor tests are exact integer
# comparisons end to end (floats here would re-enter via int(pf*10_000),
# which truncates representation error: 0.99 → 9899). Measured values
# across the three grading scales: minhash and substring are exactly
# (1.0, 1.0) everywhere (both verify/join on the very quantity the truth
# computes); simhash p 0.35-0.91 / r 0.67-0.72; winnow p 0.43-0.93 /
# r 1.0. Floors leave ≥ 1.5x margin.
_EVAL_FLOORS = {
    "minhash_lsh": (9900, 9900),
    "simhash": (2000, 5000),
    "substring_w8": (9900, 9900),
    "winnow_k5w4": (3000, 9900),
}

def _eval_oracle_sql() -> str:
    bounded = _SHINGLE_TRUTH_CTE.replace(
        "FROM documents)", "FROM documents WHERE doc_id < 2000)"
    )
    values = ", ".join(
        f"('{m}', {pf}, {rf})" for m, (pf, rf) in sorted(_EVAL_FLOORS.items())
    )
    return (
        bounded
        + f"""
    , t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth)
    SELECT m.method, t.n_truth,
           m.pf / 10000.0 AS precision_floor,
           m.rf / 10000.0 AS recall_floor,
           true AS floors_met
    FROM t, (VALUES {values}) AS m(method, pf, rf)
    ORDER BY m.method
    """
    )


def q_dedup_method_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acceptance-verdict wrapper over ``_dedup_method_stats`` (r6 — the
    last rows-only query converted): the DuckDB oracle RECOMPUTES the
    exact 3-gram shingle-Jaccard truth-pair count over the same bounded
    2000-doc prefix (grading the truth arm), and ``floors_met`` asserts
    each method's measured precision AND recall clear its floor
    (_EVAL_FLOORS; a quality regression in any method turns the driver
    red). Raw per-method precision/recall stay available via
    ``_dedup_method_stats`` and are pinned by the invariant unit test.
    Floor tests are exact integer comparisons (n_hit·10000 vs bp·n, with
    the floors STORED as basis points) — no float-rounding hazard."""
    rows = []
    for name, n_pairs, n_truth, n_hit in _dedup_method_stats(spark, sf_dir):
        pf_bp, rf_bp = _EVAL_FLOORS[name]
        met = (n_hit * 10_000 >= pf_bp * n_pairs) and (
            n_hit * 10_000 >= rf_bp * n_truth
        )
        rows.append((name, n_truth, pf_bp / 10_000, rf_bp / 10_000, met))
    return spark.createDataFrame(
        sorted(rows),
        "method string, n_truth bigint, precision_floor double, "
        "recall_floor double, floors_met boolean",
    )


@query(
    "q_readability",
    """
    WITH t AS (
      SELECT source,
             CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x != ''))
                  AS BIGINT) AS n_words,
             CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS BIGINT)
               AS n_syl,
             CAST(len(regexp_extract_all(text, '[.!?]')) + 1 AS BIGINT)
               AS n_sent
      FROM documents)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS words,
           CAST(SUM(n_syl) AS BIGINT) AS syllables,
           ROUND(206.835
                 - 1.015 * (CAST(SUM(n_words) AS DOUBLE) / SUM(n_sent))
                 - 84.6 * (CAST(SUM(n_syl) AS DOUBLE) / SUM(n_words)), 4)
             AS flesch
    FROM t GROUP BY source
    """,
)
def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per source with a vowel-group syllable proxy —
    the readability band filter pretraining pipelines run alongside the
    stopword/length heuristics (too-low Flesch ≈ boilerplate/legalese,
    too-high ≈ fragmentary text). Counts (words, vowel-group 'syllables',
    sentence terminators) are exact integer sums in codegen; the Flesch
    formula runs once on the summed integers — two divisions, identical
    doubles on any layout/engine. One partial-agg shuffle on source."""
    from hive_json_spark.functions.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    n_words = token_count("text")
    n_syl = F.size(
        F.regexp_extract_all(F.col("text"), F.lit("[aeiouyAEIOUY]+"), 0)
    ).cast("bigint")
    n_sent = (
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[.!?]"), 0)) + 1
    ).cast("bigint")
    t = docs.select(
        "source",
        n_words.alias("n_words"),
        n_syl.alias("n_syl"),
        n_sent.alias("n_sent"),
    )
    return t.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("words"),
        F.sum("n_syl").cast("bigint").alias("syllables"),
        F.round(
            F.lit(206.835)
            - 1.015 * (F.sum("n_words").cast("double") / F.sum("n_sent"))
            - 84.6 * (F.sum("n_syl").cast("double") / F.sum("n_words")),
            4,
        ).alias("flesch"),
    )


@query(
    "q_bigram_pmi",
    """
    WITH toks AS (SELECT doc_id,
                         list_filter(string_split_regex(text, '\\s+'), t -> t != '') AS tk
                  FROM documents),
    big AS (SELECT tk[i + 1] AS w1, tk[i + 2] AS w2
            FROM toks,
                 LATERAL (SELECT unnest(range(greatest(len(tk) - 1, 0))) AS i)),
    bc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS nb FROM big GROUP BY w1, w2),
    tot AS (SELECT CAST(SUM(nb) AS BIGINT) AS nn FROM bc),
    uni AS (SELECT w1 AS w, CAST(SUM(nb) AS BIGINT) AS c1 FROM bc GROUP BY w1),
    uni2 AS (SELECT w2 AS w, CAST(SUM(nb) AS BIGINT) AS c2 FROM bc GROUP BY w2),
    scored AS (
      SELECT bc.w1, bc.w2, bc.nb,
             ROUND(ln(CAST(bc.nb AS DOUBLE) * tot.nn
                      / (CAST(uni.c1 AS DOUBLE) * uni2.c2)), 6) AS pmi
      FROM bc, tot
      JOIN uni ON uni.w = bc.w1
      JOIN uni2 ON uni2.w = bc.w2
      WHERE bc.nb >= 5)
    SELECT w1, w2, nb, pmi FROM scored
    ORDER BY pmi DESC, w1, w2 LIMIT 20
    """,
)
def q_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations by pointwise mutual information over corpus
    bigrams (min count 5) — the phrase-mining / tokenizer-merge-candidate
    signal (a high-PMI bigram is a unit the vocabulary should own).

    PMI = ln(P(w1,w2)/(P(w1)P(w2))) computed as ONE ln over a ratio of
    exact integer counts (nb·N / c1·c2) — products ≤ 10¹⁰ at sf0.1, no
    double accumulation anywhere, so the scores are layout/engine-free;
    the top-20 orders by (rounded pmi, w1, w2), a total order.

    Scale shape: bigram explode is bounded fanout; the count table is
    vocabulary²-bounded (map-side partials do the heavy lifting on a
    natural-language corpus); marginals re-aggregate the COUNT table,
    not the corpus; final top-k is TakeOrderedAndProject. The count
    table feeds four consumers (total, both marginals, the scoring
    join), so it is scoped-persisted — without that each consumer
    re-ran the tokenizing corpus scan (4 passes)."""
    from hive_json_spark.functions.caching import scoped_persist
    from hive_json_spark.functions.text import tokens as _tokens

    docs = load_table(spark, sf_dir, "documents")
    tk = _tokens("text")
    big = (
        docs.select(tk.alias("_tk"))
        .filter(F.size("_tk") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("_tk") - 2),
                    lambda i: F.struct(
                        F.element_at("_tk", i + 1).alias("w1"),
                        F.element_at("_tk", i + 2).alias("w2"),
                    ),
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
    )
    bc = scoped_persist(big.groupBy("w1", "w2").agg(F.count("*").alias("nb")))
    tot = bc.agg(F.sum("nb").cast("bigint").alias("nn"))
    uni = bc.groupBy("w1").agg(F.sum("nb").cast("bigint").alias("c1"))
    uni2 = bc.groupBy("w2").agg(F.sum("nb").cast("bigint").alias("c2"))
    scored = (
        bc.filter(F.col("nb") >= 5)
        .join(uni, "w1")
        .join(uni2, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "nb",
            F.round(
                F.log(
                    F.col("nb").cast("double") * F.col("nn")
                    / (F.col("c1").cast("double") * F.col("c2"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.col("pmi").desc(), F.col("w1"), F.col("w2")
    ).limit(20)


@query(
    "q_winnow_dup",
    """
    WITH toks AS (SELECT doc_id,
                         list_filter(string_split_regex(text, '\\s+'), t -> t != '') AS tk
                  FROM documents),
    g AS (SELECT doc_id, i, array_to_string(tk[i + 1:i + 5], ' ') AS gram
          FROM toks,
               LATERAL (SELECT unnest(range(greatest(len(tk) - 4, 0))) AS i)),
    h AS (SELECT doc_id, i,
                 CAST('0x' || substr(md5(gram), 1, 8) AS BIGINT) AS hv
          FROM g),
    wmin AS (SELECT doc_id,
                    MIN(hv) OVER (PARTITION BY doc_id ORDER BY i
                                  ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
                    COUNT(*) OVER (PARTITION BY doc_id ORDER BY i
                                   ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wn
             FROM h),
    fps AS (SELECT DISTINCT doc_id, fp FROM wmin WHERE wn = 4)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_fp
    FROM fps a JOIN fps b USING (fp)
    WHERE a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    """,
)
def q_winnow_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprint near-dup pairs — k=5-gram hashes,
    w=4 window minima, detection GUARANTEED for any shared verbatim run
    of ≥ w+k−1 = 8 tokens while storing ~2/(w+1) of the gram hashes.
    The sparsified complement to q_substring_dup (which keeps every
    window): same equi-join shape, ~60% fewer index rows. See
    operators.dedup.winnow_fingerprints for the scale shape."""
    from hive_json_spark.operators.dedup import winnow_dup_pairs

    docs = load_table(spark, sf_dir, "documents")
    return winnow_dup_pairs(docs, "doc_id", "text", k=5, w=4)


@query(
    "q_setsim_prefix_join",
    """
    WITH d AS (SELECT doc_id, list_distinct(list_filter(string_split_regex(text, '\\s+'), t -> t != '')) AS toks
               FROM documents),
         t AS (SELECT doc_id, len(toks) AS sz, unnest(toks) AS tok FROM d),
         inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                          CAST(COUNT(*) AS BIGINT) AS i,
                          MIN(a.sz) AS sa, MIN(b.sz) AS sb
                   FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
                   GROUP BY a.doc_id, b.doc_id),
         pairs AS (
           SELECT id_a, id_b,
                  CAST(FLOOR((2 * i * 10000 + (sa + sb - i))
                             / (2.0 * (sa + sb - i))) AS DOUBLE) / 10000
                    AS jaccard
           FROM inter
           WHERE CAST(i AS DOUBLE) >= 0.9 * (sa + sb - i))
    SELECT id_b AS dup_id, id_a AS canonical_id, jaccard
    FROM (SELECT id_a, id_b, jaccard,
                 ROW_NUMBER() OVER (PARTITION BY id_b ORDER BY id_a) AS rn
          FROM pairs)
    WHERE rn = 1
    """,
)
def q_setsim_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard >= 0.9 similarity join over ALL documents — no
    blocking attribute — closed into a dedup assignment: every
    non-canonical document maps to its lowest-id near-duplicate partner.
    At t=0.9 a qualifying pair differs in at most 3 tokens, so the
    deletion-neighborhood impl applies (identical-set collapse + FastSS
    subset-hash join + exact verify — candidates 68 k vs 1.7 M for the
    prefix index at sf0.1; the prefix/deletion paths are asserted equal in
    tests). The oracle computes the identical answer from unpruned
    token-join intersection counts; both candidate schemes are lossless,
    so the two must match row-for-row. Rounding happens in integer space
    on both sides (floor((2*i*10^4+u)/(2u)) = round-half-up), keeping the
    hash immune to banker's-rounding and float-sum flips. The synthetic
    corpus is heavily templated (~1M qualifying pairs at sf0.1), so the
    graded result is the per-doc assignment (<= |docs| rows) via one hash
    aggregation (min_by beats a per-id_b sort window), not the raw pair
    set."""
    docs = load_table(spark, sf_dir, "documents")
    # impl="auto" (r6): the deletion impl's static bound (<=35 distinct
    # tokens/doc) holds on the shipped small-vocab corpus but NOT on
    # realistic vocabularies (the Zipf census fired its refuse-loudly
    # guard) — the probe dispatches to the equally-lossless prefix impl
    # there, identical output either way.
    pairs = prefix_filter_jaccard_pairs(docs, "doc_id", "text", 0.9, impl="auto")
    return (
        pairs.groupBy(F.col("id_b").alias("dup_id"))
        .agg(
            F.min("id_a").alias("canonical_id"),
            F.min_by("jaccard", "id_a").alias("jaccard"),
        )
        .select("dup_id", "canonical_id", "jaccard")
    )


_SHINGLE_TRUTH_CTE = """
    WITH toks AS (SELECT doc_id,
                         list_filter(string_split_regex(text, '\\s+'), t -> t != '') AS tk
                  FROM documents),
    sh AS (SELECT doc_id,
                  unnest(list_distinct(list_transform(
                    range(1, greatest(len(tk) - 2, 1) + 1),
                    i -> coalesce(array_to_string(list_slice(tk, i, i + 2), ' '),
                                  '')))) AS shingle
           FROM toks),
    sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
    truth AS (
      SELECT i.id_a, i.id_b
      FROM (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ic
            FROM sh a JOIN sh b USING (shingle)
            WHERE a.doc_id < b.doc_id GROUP BY 1, 2) i
      JOIN sz sa ON sa.doc_id = i.id_a
      JOIN sz sb ON sb.doc_id = i.id_b
      WHERE CAST(i.ic AS DOUBLE) >= 0.5 * (sa.n + sb.n - i.ic))
"""

# q_dedup_method_eval registers HERE, not at its def: its oracle is built
# from _SHINGLE_TRUTH_CTE, which is defined after the function body.
# Shuffle partitions are sized to the harness's CONSTANT data (2000 docs),
# not the session default: five concurrent ~6-stage pipelines x 32
# tasks/stage is ~1000 near-empty task dispatches, and the scheduler
# overhead was the wall (measured min-of-3 solo sf0.1: 3.32 s at 32
# partitions -> 2.36 s at 8). The entry runs on a session of its own
# (registry.query), so corpus-scale operators keep the caller's value.
query("q_dedup_method_eval", _eval_oracle_sql(), session_conf={"spark.sql.shuffle.partitions": "8"})(
    q_dedup_method_eval
)


@query(
    "q_minhash_dedup_pairs",
    _SHINGLE_TRUTH_CTE + "SELECT id_a, id_b FROM truth",
)
def q_minhash_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, graded EXACTLY: verification computes
    true shingle-set Jaccard on every LSH candidate, so precision is 1.0
    by construction, and at 32 perms × 16 bands candidate recall at the
    0.5 threshold is 1-(1-0.5²)¹⁶ ≈ 0.99 — measured 1.0 on this corpus
    at both grading scales (planted near-dup groups sit far above the
    threshold, so no borderline pair exists for LSH to miss). The DuckDB
    oracle is therefore the FULL exact-Jaccard pair set: a driver red
    here means LSH candidate recall regressed, which is exactly what an
    acceptance gate should catch. (Spark-side truth keys shingles by
    xxhash64 — collision odds ~pairs/2⁶⁴, the substring_dup trade.)"""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_dedup_pairs(
        docs, "doc_id", "text", threshold=0.5, num_perm=32, bands=16
    ).select("id_a", "id_b")


@query(
    "q_simhash_pairs",
    _SHINGLE_TRUTH_CTE + """
    SELECT CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_truth,
           true AS recall_ge_080
    FROM truth
    """,
)
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup quality gate. SimHash pair sets are
    hash-family-specific (blake2b token hashes + bit votes — no SQL
    form), so the graded output is the acceptance verdict instead of the
    raw pairs: corpus size, the EXACT shingle-Jaccard ≥ 0.5 truth-pair
    count (independently recomputed by the DuckDB oracle — a real
    equality check on the truth pipeline), and whether SimHash
    hamming ≤ 10 recalls ≥ 80% of the truth (measured 0.92 at sf0.01,
    0.90 at sf0.1; raw pairs remain available via
    operators.dedup.simhash_near_dup_pairs and are unit-tested there).
    """
    from hive_json_spark.operators.dedup import simhash

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .localCheckpoint()
    )
    # Truth arm = exact shingle-Jaccard verification over MinHash-LSH
    # candidates (the q_minhash_dedup_pairs plan): output-bound — never
    # enumerates the corpus-quadratic shared-shingle pair mass (the
    # all-pairs truth join measured 216 s at sf1; this path ~3 s). The
    # DuckDB oracle still recomputes the FULL exact truth set
    # independently, so an LSH candidate-recall miss (theoretical floor
    # 1-(1-0.5²)¹⁶ ≈ 0.99; measured 1.0 at every grading scale) shows up
    # as a driver n_truth mismatch — the gate is as strong as the
    # all-pairs plan, without its cost. MinHash candidates are
    # hash-family-independent of the SimHash method under test.
    truth = minhash_dedup_pairs(
        docs, "doc_id", "text", threshold=0.5, num_perm=32, bands=16
    ).select("id_a", "id_b")
    # Recall needs truth ∩ simhash-pairs — NOT the full simhash pair set.
    # simhash_near_dup_pairs' candidate set is exactly {hamming ≤ 10 AND
    # some 16-bit chunk equal}, so evaluating that predicate directly on
    # the truth pairs gives an identical intersection at O(|truth|) cost,
    # skipping the bucket² candidate join (which is quadratic on this
    # saturated small-vocab corpus: measured 224 s at sf1 vs ~3 s for the
    # truth side; this plan removes the only super-linear stage).
    sh = simhash(docs, "text", "doc_id").select("doc_id", "simhash")
    j = (
        truth.join(sh.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("_ha")), "id_a")
        .join(sh.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("_hb")), "id_b")
    )
    shares_chunk = reduce(
        lambda x, y: x | y,
        [
            F.shiftrightunsigned("_ha", 16 * i).bitwiseAND(F.lit(0xFFFF))
            == F.shiftrightunsigned("_hb", 16 * i).bitwiseAND(F.lit(0xFFFF))
            for i in range(4)
        ],
    )
    is_hit = (
        F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb"))) <= 10
    ) & shares_chunk
    stats = (
        docs.agg(F.count("*").alias("nd"))
        .crossJoin(
            j.agg(
                F.count("*").alias("nt"),
                F.coalesce(F.sum(is_hit.cast("long")), F.lit(0)).alias("nh"),
            )
        )
    )
    return stats.select(
        F.col("nd").cast("bigint").alias("n_docs"),
        F.col("nt").cast("bigint").alias("n_truth"),
        # empty corpus: zero truth pairs → vacuously true, like the oracle
        (F.col("nh") >= 0.80 * F.col("nt")).alias("recall_ge_080"),
    )


@query(
    "q_doc_fingerprint",
    """
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(list_filter(string_split_regex(text, '\\s+'), t -> t != ''))), ' '))
             AS fingerprint
    FROM documents
    """,
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return fingerprint(docs, "doc_id", "text")


# --- text analysis -----------------------------------------------------------

@query(
    "q_text_profile",
    """
    SELECT doc_id,
           CAST(len(toks) AS BIGINT)                 AS n_tokens,
           CAST(length(text) AS BIGINT)              AS n_chars,
           CAST(len(list_distinct(toks)) AS BIGINT)  AS n_distinct,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)
                                                     AS n_bpe_tokens,
           ROUND(CAST(len(list_filter(toks, t -> t IN ('the','a','of','and'))) AS DOUBLE)
                 / greatest(len(toks), 1), 6)        AS stop_ratio
    FROM (SELECT doc_id, text,
                 list_filter(string_split_regex(text, '\\s+'), t -> t != '') AS toks
          FROM documents)
    """,
)
def q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text_profile(docs, "doc_id", "text").drop("quality")


@query(
    "q_quality_by_source",
    """
    WITH t AS (
      SELECT source,
             CAST(len(toks) AS DOUBLE) AS n_tok,
             CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(CAST(len(toks) AS DOUBLE), 1.0) AS diversity,
             CAST(len(list_filter(toks, x -> x IN ('the','a','of','and'))) AS DOUBLE)
               / greatest(len(toks), 1) AS stop_ratio
      FROM (SELECT source, list_filter(string_split_regex(text, '\\s+'), t -> t != '') AS toks
            FROM documents))
    SELECT source,
           ROUND(AVG(ROUND(greatest(least(
               0.5 * diversity
               + 0.5 * (CASE WHEN n_tok BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.5 END)
               - 0.25 * stop_ratio, 1.0), 0.0), 6)), 6) AS avg_quality,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM t GROUP BY source
    """,
)
def q_quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    from hive_json_spark.functions.text import quality_score

    return docs.groupBy("source").agg(
        F.round(F.avg(quality_score("text")), 6).alias("avg_quality"),
        F.count("*").alias("n_docs"),
    )


@query(
    "q_lang_id",
    """
    WITH toks AS (SELECT doc_id,
                         list_filter(string_split_regex(text, '\\s+'), t -> t != '') AS tk
                  FROM documents),
    scores AS (
      SELECT doc_id, m.lang,
             len(list_filter(tk, t -> list_contains(m.markers, t))) AS hits
      FROM toks, (VALUES
         ('en', ['the','a','of','and','to','in','is']),
         ('de', ['der','die','das','und','ist','ein']),
         ('es', ['el','la','de','que','y','es','un']),
         ('fr', ['le','la','de','et','est','un','une']),
         ('zh', ['的','是','了','在','和'])) AS m(lang, markers)),
    best AS (
      SELECT doc_id, lang, hits,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang DESC) AS rn
      FROM scores)
    SELECT doc_id,
           CASE WHEN hits > 0 THEN lang ELSE 'und' END AS pred_lang,
           CAST(hits AS BIGINT) AS marker_hits
    FROM best WHERE rn = 1
    """,
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ties on hits break toward the lexicographically greatest language in
    # both engines (Spark array_max struct order == the oracle's ORDER BY
    # hits DESC, lang DESC), so the argmax is fully deterministic
    docs = load_table(spark, sf_dir, "documents")
    return lang_id(docs, "doc_id", "text")


@query(
    "q_embedding_near_dup",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])), 6) >= 0.4
    """,
)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max_exact_rows=10_000 makes the GRADED entry exercise the declared
    # scale arm where scale artifacts are collected (r10, verdict ask #5):
    # sf≤0.1 (≤2000 vectors) rides the exact GEMM the oracle reproduces;
    # the sf1 sweep corpus (20k vectors) auto-dispatches to the
    # OR-amplified LSH arm, whose recall floor vs the GEMM truth is pinned
    # at sf0.1 by tests/test_pipeline_ops.py::test_embedding_near_dup_lsh_recall_floor.
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(
        emb, "vec_id", "embedding", threshold=0.4, max_exact_rows=10_000
    )


# --- similarity search -------------------------------------------------------

@query(
    "q_similarity_bruteforce",
    """
    SELECT query_id, vec_id, cos_sim, rank FROM (
      SELECT q.vec_id AS query_id, c.vec_id,
             ROUND(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                          CAST(q.embedding AS DOUBLE[])), 6) AS cos_sim,
             CAST(ROW_NUMBER() OVER (
                PARTITION BY q.vec_id
                ORDER BY ROUND(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                                      CAST(q.embedding AS DOUBLE[])), 6) DESC,
                         c.vec_id) AS BIGINT) AS rank
      FROM embeddings c JOIN embeddings q
        ON q.vec_id < 5 AND c.vec_id != q.vec_id)
    WHERE rank <= 5
    """,
)
def q_similarity_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=5)


@query(
    "q_mutual_nn",
    """
    WITH s AS (SELECT a.vec_id AS qid, b.vec_id AS cid,
                      ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                   CAST(b.embedding AS DOUBLE[])), 6)
                        AS cs
               FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
    best AS (SELECT qid, cid, cs FROM
               (SELECT qid, cid, cs,
                       ROW_NUMBER() OVER (PARTITION BY qid
                                          ORDER BY cs DESC, cid) AS rn
                FROM s)
             WHERE rn = 1)
    SELECT x.qid AS id_a, x.cid AS id_b, x.cs AS cos_sim
    FROM best x JOIN best y ON x.cid = y.qid AND y.cid = x.qid AND x.qid < y.qid
    """,
)
def q_mutual_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual nearest neighbors (reciprocal best match): pairs where each
    vector is the other's top-1 cosine neighbor — the high-precision
    linkage rule for entity resolution and parallel-corpus mining (a
    one-way top-1 is noisy; mutuality filters hub vectors that are
    'nearest' to everything). Ranking uses the rounded-sim + id total
    order so best-neighbor choice is engine/layout-free.

    Scale shape: top-1 via brute_force_top1_gemm (one float64 GEMM per
    Arrow batch against the broadcast corpus matrix — the exact baseline,
    guarded at 1M rows; swap the LSH/IVF retriever above the budget),
    then mutuality is a self-equi-join of the |corpus|-row best-neighbor
    table on the (a,b)=(b,a) key pair — one hash join, no second scan of
    the vectors."""
    from hive_json_spark.operators.similarity import brute_force_top1_gemm

    emb = load_table(spark, sf_dir, "embeddings")
    best = brute_force_top1_gemm(emb).select(
        F.col("query_id").alias("qid"), F.col("vec_id").alias("cid"), "cos_sim"
    )
    x, y = best.alias("x"), best.alias("y")
    return (
        x.join(
            y,
            (F.col("x.cid") == F.col("y.qid"))
            & (F.col("y.cid") == F.col("x.qid"))
            & (F.col("x.qid") < F.col("y.qid")),
        )
        .select(
            F.col("x.qid").alias("id_a"),
            F.col("x.cid").alias("id_b"),
            F.col("x.cos_sim").alias("cos_sim"),
        )
    )


@query(
    "q_embedding_norms",
    """
    SELECT vec_id,
           ROUND(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x*x))), 6)
             AS l2_norm,
           CAST(len(embedding) AS BIGINT) AS dim
    FROM embeddings
    """,
)
def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_json_spark.functions.vectors import l2_norm

    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.round(l2_norm("embedding"), 6).alias("l2_norm"),
        F.size("embedding").cast("bigint").alias("dim"),
    )


@query(
    "q_similarity_lsh",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(5 AS BIGINT) AS k,
           CAST(COUNT(*) * 5 AS BIGINT) AS n_results,
           true AS mean_recall_ge_030
    FROM embeddings WHERE vec_id < 5
    """,
)
def q_similarity_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH top-k quality gate. Which neighbors the hash family
    surfaces is impl-specific (seeded planes — no SQL form), so the
    graded output is the acceptance verdict: query count, k, total
    results returned (k per query — checked exactly), and whether MEAN
    recall@5 vs the exact brute-force top-5 clears 0.30. n_planes=4:
    on near-random 64-dim embeddings the multiprobe bucket walk needs
    coarse buckets for usable recall (measured mean 0.48 at both
    grading scales with 4 planes vs 0.04-0.16 with the 8-plane default;
    per-query recall varies 0.0-0.8, hence the MEAN floor). Raw
    neighbor lists stay available via operators.similarity.lsh_topk.
    The k×queries result frame feeds the hit join and the count:
    scoped-persisted so the LSH pipeline (and its corpus scans) runs
    once, not once per consumer."""
    from hive_json_spark.functions.caching import scoped_persist

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    k = 5
    res = scoped_persist(lsh_topk(emb, queries_df, k=k, n_planes=4))
    truth = brute_force_topk(emb, queries_df, k=k).select(
        F.col("query_id").alias("id_a"), F.col("vec_id").alias("id_b")
    )
    hits = res.select(
        F.col("query_id").alias("id_a"), F.col("vec_id").alias("id_b")
    ).join(truth, ["id_a", "id_b"], "left_semi")
    return (
        queries_df.agg(F.count("*").alias("nq"))
        .crossJoin(res.agg(F.count("*").alias("nr")))
        .crossJoin(hits.agg(F.count("*").alias("nh")))
        .select(
            F.col("nq").cast("bigint").alias("n_queries"),
            F.lit(k).cast("bigint").alias("k"),
            F.col("nr").cast("bigint").alias("n_results"),
            (F.col("nh") >= 0.30 * F.col("nq") * k).alias("mean_recall_ge_030"),
        )
    )


@query(
    "q_similarity_ivf",
    """
    SELECT vec_id AS query_id,
           CAST(5 AS BIGINT) AS n_returned,
           true AS recall_ge_020
    FROM embeddings WHERE vec_id < 5
    """,
)
def q_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k quality gate, per query: sample-trained centroids are
    impl-specific (no SQL form), so the graded rows are (query_id,
    n_returned, per-query recall@5 ≥ 0.20 vs exact brute force) —
    measured per-query recall 0.4-1.0 at both grading scales, so the
    0.20 floor has 2× margin. Raw neighbor lists stay available via
    operators.similarity.ivf_topk. The k×queries result frame feeds the
    hit join and the per-query count: scoped-persisted so the IVF
    pipeline (and its corpus scans) runs once."""
    from hive_json_spark.functions.caching import scoped_persist

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    k = 5
    res = scoped_persist(ivf_topk(emb, queries_df, k=k))
    truth = brute_force_topk(emb, queries_df, k=k).select(
        F.col("query_id").alias("t_qid"), F.col("vec_id").alias("true_id")
    )
    hits = (
        res.select("query_id", "vec_id")
        .join(
            truth,
            (F.col("query_id") == F.col("t_qid"))
            & (F.col("vec_id") == F.col("true_id")),
        )
        .groupBy("query_id")
        .agg(F.count("*").alias("nh"))
    )
    per_q = res.groupBy("query_id").agg(F.count("*").alias("nr"))
    return (
        per_q.join(hits, "query_id", "left")
        .select(
            F.col("query_id").cast("bigint"),
            F.col("nr").cast("bigint").alias("n_returned"),
            (F.coalesce("nh", F.lit(0)) >= 0.20 * k).alias("recall_ge_020"),
        )
    )


ANN_RECALL_ORACLE = """
    WITH truth AS (
      SELECT query_id, vec_id, rank FROM (
        SELECT q.vec_id AS query_id, c.vec_id,
               CAST(ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY ROUND(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                                       CAST(q.embedding AS DOUBLE[])), 6) DESC,
                          c.vec_id) AS BIGINT) AS rank
        FROM embeddings c JOIN embeddings q
          ON q.vec_id < 5 AND c.vec_id != q.vec_id)
      WHERE rank <= 5
    ),
    t AS (SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
                 CAST(COUNT(*) AS BIGINT) AS n_truth,
                 CAST(SUM(query_id * 131071 + vec_id * 31 + rank) AS BIGINT)
                   AS truth_checksum
          FROM truth)
    SELECT m.method, t.n_queries, t.n_truth, t.truth_checksum,
           CAST(m.floor AS DOUBLE) AS mean_recall_floor,
           true AS floor_met
    FROM t, (VALUES ('ivf', 0.40), ('lsh_h4', 0.30)) AS m(method, floor)
    ORDER BY m.method
    """


@query("q_ann_recall", ANN_RECALL_ORACLE)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality harness: recall@5 of the two approximate search paths
    (hyperplane-LSH multiprobe h=4, IVF) against the exact brute-force
    top-k, as an ACCEPTANCE-VERDICT row per method (r5→r6 conversion —
    the last rows-only family): the oracle RECOMPUTES the exact top-k
    truth in SQL (count + positional checksum grade the brute-force arm
    bit-for-bit, same ranking rule as q_similarity_bruteforce), and
    ``floor_met`` asserts the measured mean recall clears the method
    floor (measured: lsh_h4 0.48 at ALL three scales, floor 0.30; ivf
    0.56-0.72, floor 0.40) — a recall miss turns the driver red.

    Scale shape: ground truth is the linear-scan baseline over the SAME
    bounded query set (5 points), so the eval joins |queries|×k frames —
    eval cost independent of corpus size; only the searches touch the
    corpus, each with its own documented plan."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    k = 5
    # the truth frame feeds both method evals + the checksum; localCheckpoint
    # pins it so the linear corpus scan runs once
    truth = brute_force_topk(emb, queries_df, k=k).localCheckpoint()
    checksum = (
        F.col("query_id") * F.lit(131071)
        + F.col("vec_id") * F.lit(31)
        + F.col("rank")
    ).cast("bigint")
    stats = truth.agg(
        F.countDistinct("query_id").cast("bigint").alias("n_queries"),
        F.count("*").cast("bigint").alias("n_truth"),
        F.sum(checksum).cast("bigint").alias("truth_checksum"),
    )
    t_ids = truth.select(
        F.col("query_id").alias("t_qid"), F.col("vec_id").alias("true_id")
    )
    out = []
    for method, res, floor in (
        ("ivf", ivf_topk(emb, queries_df, k=k), 0.40),
        ("lsh_h4", lsh_topk(emb, queries_df, k=k, n_planes=4), 0.30),
    ):
        hits = res.select("query_id", "vec_id").join(
            t_ids,
            (F.col("query_id") == F.col("t_qid"))
            & (F.col("vec_id") == F.col("true_id")),
        )
        out.append(
            stats.crossJoin(hits.agg(F.count("*").alias("_nh"))).select(
                F.lit(method).alias("method"),
                "n_queries",
                "n_truth",
                "truth_checksum",
                F.lit(floor).alias("mean_recall_floor"),
                (F.col("_nh") >= F.lit(floor) * F.col("n_truth")).alias("floor_met"),
            )
        )
    return out[0].unionByName(out[1]).orderBy("method")


PQ_RECALL_ORACLE = """
    WITH truth AS (
      SELECT query_id, vec_id, rank FROM (
        SELECT q.vec_id AS query_id, c.vec_id,
               CAST(ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY ROUND(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                                       CAST(q.embedding AS DOUBLE[])), 6) DESC,
                          c.vec_id) AS BIGINT) AS rank
        FROM embeddings c JOIN embeddings q
          ON q.vec_id < 5 AND c.vec_id != q.vec_id)
      WHERE rank <= 5
    )
    SELECT 'pq_adc16x64' AS method,
           CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
           CAST(COUNT(*) AS BIGINT) AS n_truth,
           CAST(SUM(query_id * 131071 + vec_id * 31 + rank) AS BIGINT)
             AS truth_checksum,
           CAST(0.30 AS DOUBLE) AS mean_recall_floor,
           true AS floor_met
    FROM truth
    """


@query("q_pq_recall", PQ_RECALL_ORACLE)
def q_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization quality harness (16 subspaces × 64 codes =
    16 bytes/vector ADC scoring) as an acceptance-verdict row, same
    shape as q_ann_recall: the oracle recomputes the exact brute-force
    top-5 (count + positional checksum), ``floor_met`` asserts measured
    mean recall ≥ 0.30 (measured 0.48-0.64 across the three scales).
    PQ is the memory-bandwidth scale path for billion-vector ANN; this
    harness is its acceptance gate. Eval cost independent of corpus
    size (bounded 5-query truth frame)."""
    from hive_json_spark.operators.similarity import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    k = 5
    truth = brute_force_topk(emb, queries_df, k=k).localCheckpoint()
    checksum = (
        F.col("query_id") * F.lit(131071)
        + F.col("vec_id") * F.lit(31)
        + F.col("rank")
    ).cast("bigint")
    stats = truth.agg(
        F.countDistinct("query_id").cast("bigint").alias("n_queries"),
        F.count("*").cast("bigint").alias("n_truth"),
        F.sum(checksum).cast("bigint").alias("truth_checksum"),
    )
    res = pq_topk(emb, queries_df, k=k, n_subspaces=16, n_codes=64)
    hits = res.select("query_id", "vec_id").join(
        truth.select(
            F.col("query_id").alias("t_qid"), F.col("vec_id").alias("true_id")
        ),
        (F.col("query_id") == F.col("t_qid"))
        & (F.col("vec_id") == F.col("true_id")),
    )
    return stats.crossJoin(hits.agg(F.count("*").alias("_nh"))).select(
        F.lit("pq_adc16x64").alias("method"),
        "n_queries",
        "n_truth",
        "truth_checksum",
        F.lit(0.30).alias("mean_recall_floor"),
        (F.col("_nh") >= F.lit(0.30) * F.col("n_truth")).alias("floor_met"),
    )


# --- multimodal plumbing -----------------------------------------------------

@query(
    "q_media_features",
    """
    SELECT doc_id AS media_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(32 AS BIGINT) AS feat_dim
    FROM documents
    """,
)
def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column decode plumbing: the Arrow-batched fake-decode kernel
    runs end-to-end; the oracle pins the byte accounting and output shape
    (the feature values themselves are pinned by unit tests — blake2b is
    not SQL-expressible)."""
    docs = load_table(spark, sf_dir, "documents")
    feats = decode_and_featurize(synthetic_media(docs), dim=32, fake=True)
    return feats.select(
        "media_id",
        "n_bytes",
        F.size("feature").cast("bigint").alias("feat_dim"),
    )


@query(
    "q_media_decode",
    """
    WITH m AS (
      SELECT doc_id AS media_id,
             doc_id % 2 = 0 AS is_img,
             CAST((doc_id % 16 + 1) * 4 + 2 AS INT) AS w,
             CAST((doc_id % 12 + 1) * 4 AS INT) AS h,
             CAST((doc_id % 10 + 1) * 200 AS BIGINT) AS ns
      FROM documents),
    img AS (
      SELECT media_id,
             AVG((media_id * 17 + y) % 256) AS mean_c0,
             AVG((media_id * 18 + y) % 256) AS mean_c1,
             AVG((media_id * 19 + y) % 256) AS mean_c2
      FROM m, LATERAL (SELECT unnest(range(h)) AS y)
      WHERE is_img GROUP BY media_id),
    aud AS (
      SELECT media_id, SQRT(AVG(s * s)) AS rms
      FROM (SELECT media_id, ((media_id * 13 + i) % 256 - 128) * 256 AS s
            FROM m, LATERAL (SELECT unnest(range(ns)) AS i)
            WHERE NOT is_img)
      GROUP BY media_id)
    SELECT m.media_id,
           CASE WHEN is_img THEN 'image' ELSE 'audio' END AS media_type,
           CASE WHEN is_img THEN w END AS width,
           CASE WHEN is_img THEN h END AS height,
           CASE WHEN is_img THEN NULL ELSE ns END AS n_samples,
           CAST(CASE WHEN is_img THEN 54 + ((3 * w + 3) // 4) * 4 * h
                     ELSE 44 + 2 * ns END AS BIGINT) AS n_bytes,
           img.mean_c0, img.mean_c1, img.mean_c2, aud.rms
    FROM m LEFT JOIN img USING (media_id) LEFT JOIN aud USING (media_id)
    """,
)
def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL binary decode end-to-end: deterministic uncompressed BMPs and
    PCM-16 WAVs are synthesized per document id, then the dependency-free
    baseline codecs (operators/multimodal.py) parse the actual bytes —
    header fields, bottom-up BMP rows, 4-byte row padding, RIFF chunk
    walk — and emit per-channel pixel means / RMS amplitude. The oracle
    recomputes every decoded stat from its closed form in the id, so any
    codec bug (an off-by-one in padding, a row-order flip, a chunk-size
    misread) breaks the hash. Feature doubles are unrounded: both engines
    do exact-integer sums and one correctly-rounded division, so the
    doubles are bit-identical by construction."""
    docs = load_table(spark, sf_dir, "documents")
    return decode_media_features(synthetic_media_binary(docs))


@query(
    "q_audio_fingerprint_dup",
    """
    SELECT CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_media,
           CAST(COALESCE(SUM(n * (n - 1) / 2), 0) AS BIGINT) AS n_planted_pairs,
           true AS planted_recall_ge_065
    FROM (SELECT doc_id // 20 AS g, COUNT(*) AS n FROM documents GROUP BY 1)
    """,
)
def q_audio_fingerprint_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup quality gate by spectral constellation
    fingerprinting — the AUDIO arm of the dedup suite (text:
    MinHash/SimHash/substring/winnowing; image: pHash; audio: this).
    Two-voice melodies round-trip the REAL WAV codec, frames FFT into
    per-band peak constellations, and docs pair on ≥3 shared joint-peak
    hashes (operators.multimodal.spectral_fingerprints /
    audio_near_dup_pairs).

    An FFT has no SQL form, so the graded output is the verdict: media
    count, the planted same-melody pair count (ids share ``id // 20`` —
    the generator's group key, which the DuckDB oracle recomputes from
    id arithmetic alone), and whether the pipeline recalls ≥ 65% of the
    planted pairs (measured 0.72 both scales; the strongest per-id noise
    tiers legitimately break some constellations, and partial-segment
    melody collisions legitimately add cross-group pairs at larger
    corpora — raw pairs remain available via the operators and their
    unit tests)."""
    from hive_json_spark.operators.multimodal import (
        audio_near_dup_pairs,
        spectral_fingerprints,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    pairs = audio_near_dup_pairs(spectral_fingerprints(docs, "doc_id"))
    planted_hits = pairs.filter(
        F.floor(F.col("id_a") / 20) == F.floor(F.col("id_b") / 20)
    )
    planted_n = (
        docs.groupBy(F.floor(F.col("doc_id") / 20).alias("g"))
        .agg(F.count("*").alias("n"))
        .agg(
            F.coalesce(
                F.sum(F.col("n") * (F.col("n") - 1) / 2), F.lit(0)
            ).cast("bigint").alias("np")
        )
    )
    return (
        docs.agg(F.count("*").alias("nm"))
        .crossJoin(planted_n)
        .crossJoin(planted_hits.agg(F.count("*").alias("nh")))
        .select(
            F.col("nm").cast("bigint").alias("n_media"),
            F.col("np").cast("bigint").alias("n_planted_pairs"),
            (F.col("nh") >= 0.65 * F.col("np")).alias("planted_recall_ge_065"),
        )
    )


@query(
    "q_phash_image_dup",
    """
    SELECT CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_media,
           CAST(COALESCE(SUM(n * (n - 1) / 2), 0) AS BIGINT) AS n_planted_pairs,
           true AS planted_recall_ge_070,
           true AS nonplanted_rate_le_002
    FROM (SELECT doc_id // 20 AS g, COUNT(*) AS n FROM documents GROUP BY 1)
    """,
)
def q_phash_image_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup quality gate — the IMAGE arm of the
    dedup suite (MinHash/SimHash cover text; multimodal corpora dedup
    frames and images by pHash). Synthetic 64×64 patterns round-trip the
    REAL BMP codec, hash via box-resize → 32-point 2-D DCT → median-sign
    (operators.multimodal.phash64), and pair via adaptive band blocking +
    bit_count verify (phash_near_dup_pairs — pigeonhole-complete for the
    threshold, candidates only, never O(n²)).

    A 32-point DCT has no SQL form, so the graded output is the verdict:
    media count, planted same-base pair count (ids share ``id // 20`` —
    recomputed by the DuckDB oracle from id arithmetic alone), planted
    recall ≥ 0.70 (measured 0.78-0.80 both scales; the strongest noise
    tier pushes some pairs past hamming 6), and cross-group pair rate
    ≤ 2% (measured 0 at sf0.01, 1.1% at sf0.1 — the gid-keyed pattern
    space legitimately collides at larger corpora). Raw pairs remain
    available via the operators; blocking completeness is pinned by
    unit tests."""
    from hive_json_spark.operators.multimodal import (
        phash_near_dup_pairs,
        synthetic_image_phash,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    hashed = synthetic_image_phash(docs, "doc_id")
    pairs = phash_near_dup_pairs(
        hashed, "media_id", "phash", max_hamming=6
    ).localCheckpoint()  # eager: referenced by two verdict aggregates
    same_g = F.floor(F.col("id_a") / 20) == F.floor(F.col("id_b") / 20)
    counts = pairs.agg(
        F.count("*").alias("ntot"),
        F.coalesce(F.sum(F.when(same_g, 1)), F.lit(0)).alias("nh"),
    )
    planted_n = (
        docs.groupBy(F.floor(F.col("doc_id") / 20).alias("g"))
        .agg(F.count("*").alias("n"))
        .agg(
            F.coalesce(
                F.sum(F.col("n") * (F.col("n") - 1) / 2), F.lit(0)
            ).cast("bigint").alias("np")
        )
    )
    return (
        docs.agg(F.count("*").alias("nm"))
        .crossJoin(planted_n)
        .crossJoin(counts)
        .select(
            F.col("nm").cast("bigint").alias("n_media"),
            F.col("np").cast("bigint").alias("n_planted_pairs"),
            (F.col("nh") >= 0.70 * F.col("np")).alias("planted_recall_ge_070"),
            (
                (F.col("ntot") - F.col("nh"))
                <= 0.02 * F.greatest(F.col("ntot"), F.lit(1))
            ).alias("nonplanted_rate_le_002"),
        )
    )


@query(
    "q_media_resize",
    """
    WITH m AS (
      SELECT doc_id AS media_id,
             doc_id % 2 = 0 AS is_img,
             CAST((doc_id % 16 + 1) * 4 + 2 AS INT) AS w,
             CAST((doc_id % 12 + 1) * 4 AS INT) AS h,
             CAST((doc_id % 10 + 1) * 200 AS BIGINT) AS ns
      FROM documents),
    img AS (
      SELECT media_id,
             AVG((media_id * 17 + 2 * y) % 256) AS mean_c0,
             AVG((media_id * 18 + 2 * y) % 256) AS mean_c1,
             AVG((media_id * 19 + 2 * y) % 256) AS mean_c2
      FROM m, LATERAL (SELECT unnest(range(h // 2)) AS y)
      WHERE is_img GROUP BY media_id),
    aud AS (
      SELECT media_id, SQRT(AVG(s * s)) AS rms
      FROM (SELECT media_id, ((media_id * 13 + i) % 256 - 128) * 256 AS s
            FROM m, LATERAL (SELECT unnest(range(0, ns, 2)) AS i)
            WHERE NOT is_img)
      GROUP BY media_id)
    SELECT m.media_id,
           CASE WHEN is_img THEN 'image' ELSE 'audio' END AS media_type,
           CASE WHEN is_img THEN w END AS w_in,
           CASE WHEN is_img THEN h END AS h_in,
           CASE WHEN is_img THEN CAST(w // 2 AS INT) END AS w_out,
           CASE WHEN is_img THEN CAST(h // 2 AS INT) END AS h_out,
           CASE WHEN is_img THEN NULL ELSE ns // 2 END AS n_out,
           CAST(CASE WHEN is_img THEN 54 + ((3 * (w // 2) + 3) // 4) * 4 * (h // 2)
                     ELSE 44 + 2 * (ns // 2) END AS BIGINT) AS n_bytes_out,
           img.mean_c0, img.mean_c1, img.mean_c2, aud.rms
    FROM m LEFT JOIN img USING (media_id) LEFT JOIN aud USING (media_id)
    """,
)
def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode -> downsample -> re-encode on REAL bytes: BMPs shrink 2x by
    nearest-neighbor gather, WAVs keep every 2nd sample, both re-encode
    through the baseline codecs, and the emitted features describe the
    RESIZED payload (dims, re-encoded byte size, channel means / RMS).
    The oracle recomputes everything from the closed form of the
    synthetic pixels/samples — an off-by-one in the index map (y*h//h2),
    a padding slip in the re-encode, or a stride bug in the sample take
    breaks the hash. Together with q_media_decode this pins the full
    production thumbnail stage: parse, transform, serialize."""
    from hive_json_spark.operators.multimodal import resize_media_features

    docs = load_table(spark, sf_dir, "documents")
    return resize_media_features(synthetic_media_binary(docs), scale=2)


@query(
    "q_flac_roundtrip",
    """
    WITH m AS (SELECT doc_id AS media_id,
                      CAST((doc_id % 10 + 1) * 200 AS BIGINT) AS ns
               FROM documents WHERE doc_id % 2 != 0),
         s AS (SELECT media_id, ns,
                      CAST(SUM(CAST((((media_id * 13 + i) % 256) - 128) * 256
                                    AS BIGINT)
                               * ((((media_id * 13 + i) % 256) - 128) * 256))
                           AS BIGINT) AS ss
               FROM m, LATERAL (SELECT unnest(range(ns)) AS i)
               GROUP BY media_id, ns)
    SELECT media_id,
           ns AS n_samples,
           SQRT(CAST(ss AS DOUBLE) / ns) AS rms,
           true AS roundtrip_exact,
           true AS compressed
    FROM s
    """,
)
def q_flac_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossless-audio compression end-to-end: every synthetic clip (the
    q_audio_pitch signal family) encodes through the REAL FLAC-subset
    codec (operators/flac.py — fixed predictors, Rice residuals, CRC-8/
    CRC-16/MD5-verified frames; files are valid FLAC), decodes back, and
    is graded on (a) exact sample roundtrip, (b) compressing below raw
    PCM (measured 0.73-0.78x on this family), and (c) the decoded RMS
    matching the DuckDB closed form of the signal — exact int64
    sum-of-squares, one division, one sqrt, so the doubles hash
    identically. Completes the codec suite's fourth compression family
    (zlib, LZW, DCT+Huffman, LPC+Rice); MP3/H.264 remain the documented
    codec-library stubs (SURVEY §7)."""
    from hive_json_spark.operators.multimodal import flac_audio_features

    docs = load_table(spark, sf_dir, "documents")
    return flac_audio_features(docs, "doc_id")


@query(
    "q_audio_pitch",
    """
    WITH m AS (SELECT doc_id AS media_id,
                      CAST((doc_id % 10 + 1) * 200 AS BIGINT) AS ns
               FROM documents WHERE doc_id % 2 != 0),
         s AS (SELECT media_id, ns,
                      list_transform(range(ns),
                        i -> CAST((((media_id * 13 + i) % 256) - 128) * 256
                                  AS DOUBLE)) AS l
               FROM m),
         r AS (SELECT media_id, lag.lag,
                      CAST(list_dot_product(list_slice(l, 1, ns - lag.lag),
                                            list_slice(l, lag.lag + 1, ns))
                           AS BIGINT) AS r
               FROM s CROSS JOIN (SELECT unnest([64, 128, 192, 256, 320]) AS lag) lag
               WHERE lag.lag < ns),
         zc AS (SELECT media_id,
                       CAST(list_sum(list_transform(range(ns - 1),
                            i -> CASE WHEN l[i + 1] * l[i + 2] < 0
                                      THEN 1 ELSE 0 END)) AS BIGINT) AS zcr
                FROM s),
         best AS (SELECT media_id, lag, r,
                         ROW_NUMBER() OVER (PARTITION BY media_id
                                            ORDER BY r DESC, lag) AS rn
                  FROM r)
    SELECT m.media_id, m.ns AS n_samples,
           CAST(best.lag AS BIGINT) AS best_lag, best.r AS r_best, zc.zcr
    FROM m JOIN best ON best.media_id = m.media_id AND best.rn = 1
           JOIN zc ON zc.media_id = m.media_id
    """,
)
def q_audio_pitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSP on REAL decoded audio bytes: periodicity detection by integer
    autocorrelation over a candidate-lag grid, plus zero-crossing count.
    The synthetic WAVs are sawtooth-like with period 256, so clips long
    enough to cover lag 256 must elect it — and the oracle recomputes
    every dot product term-for-term from the closed-form samples, so a
    codec misread, an off-by-one in the lag slice, or a float-accumulated
    autocorr all break the hash. Exact int64 arithmetic on the Spark
    side; the oracle's list_dot_product accumulates the same integer
    products in doubles, which stays EXACT because every partial sum is
    < 2^53 (max |r| ~ 2e12) — the FFT-free formulation is what makes a
    cross-engine bit-match possible.
    """
    from hive_json_spark.operators.multimodal import audio_pitch_features

    docs = load_table(spark, sf_dir, "documents")
    return audio_pitch_features(synthetic_media_binary(docs))


@query(
    "q_frame_sample",
    """
    WITH media AS (
      SELECT doc_id AS media_id, (doc_id % 10 + 1) * 1500 AS duration_ms
      FROM documents WHERE doc_id % 3 = 2)
    SELECT media_id,
           CAST(unnest(range(0, greatest(duration_ms // 1000, 1))) * 1000 AS BIGINT)
             AS frame_ts_ms
    FROM media
    """,
)
def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    plan = frame_sample_plan(synthetic_media(docs), every_ms=1000)
    return plan.select("media_id", F.col("frame_ts_ms").cast("bigint").alias("frame_ts_ms"))


# --- vocabulary building -----------------------------------------------------

@query(
    "q_doc_novelty",
    """
    WITH sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(toks) - 2, 1) + 1),
               i -> coalesce(array_to_string(list_slice(toks, i, i + 2), ' '),
                             '')))) AS shingle
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(text, '\\s+'), t -> t != '')
                     AS toks
            FROM documents)),
    first_seen AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sh
                   GROUP BY shingle)
    SELECT sh.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           ROUND(CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS novelty
    FROM sh JOIN first_seen f ON sh.shingle = f.shingle
    GROUP BY sh.doc_id
    """,
)
def q_doc_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty score: the fraction of a doc's distinct
    3-word shingles whose FIRST occurrence (by ingest order = doc id) is
    this doc — the contribution-aware ranking a dedup-heavy pipeline
    uses to pick which near-duplicate to keep and to downweight
    boilerplate-heavy documents (novelty ~0 = the doc adds nothing the
    corpus hasn't seen).

    Scale shape: shingle ownership (min doc_id) comes from ONE window
    over ONE exploded shingle frame. The measured cost structure at
    sf0.1: the shingle *computation* (tokenize + slice + distinct, all
    JVM) is 3.3 s and every downstream alternative adds ≤0.7 s — an
    agg + join-back re-explodes the corpus and pays 7.4 s; splitting
    into two aggregation branches tokenizes twice (6.7 s); the window
    keeps a single pass (4.0 s, within 20% of the map-side floor). At
    100 TB the same logic holds: re-tokenizing is the dominant term, so
    the plan that scans text once wins; the per-doc ratio is exact
    integers with one closing division.
    """
    from hive_json_spark.functions.text import word_shingles

    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", F.explode(word_shingles("text", 3)).alias("shingle")
    )
    j = sh.withColumn(
        "first_doc", F.min("doc_id").over(Window.partitionBy("shingle"))
    )
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    ).cast("bigint")
    return j.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        novel.alias("n_novel"),
        F.round(novel.cast("double") / F.count("*"), 6).alias("novelty"),
    )


@query(
    "q_vocab_drift",
    """
    WITH tok AS (
      SELECT doc_id % 2 = 0 AS left_half,
             unnest(list_filter(string_split_regex(text, '\\s+'), t -> t != ''))
               AS tok
      FROM documents),
    cp AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c_p FROM tok
           WHERE left_half GROUP BY tok),
    cq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c_q FROM tok
           WHERE NOT left_half GROUP BY tok),
    u AS (SELECT COALESCE(cp.tok, cq.tok) AS tok,
                 COALESCE(c_p, 0) AS c_p, COALESCE(c_q, 0) AS c_q
          FROM cp FULL OUTER JOIN cq ON cp.tok = cq.tok),
    g AS (SELECT CAST(SUM(c_p) AS BIGINT) AS n_p,
                 CAST(SUM(c_q) AS BIGINT) AS n_q,
                 CAST(COUNT(*) AS BIGINT) AS v
          FROM u),
    t AS (SELECT u.tok, u.c_p, u.c_q,
                 (u.c_p + 1) / CAST(g.n_p + g.v AS DOUBLE) AS p,
                 (u.c_q + 1) / CAST(g.n_q + g.v AS DOUBLE) AS q
          FROM u CROSS JOIN g)
    SELECT tok, c_p, c_q, ROUND((p - q) * ln(p / q), 6) AS drift_term
    FROM t
    ORDER BY (p - q) * ln(p / q) DESC, tok
    LIMIT 10
    """,
)
def q_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary drift between two corpus halves (stand-ins for two
    crawl dumps): Laplace-smoothed per-term PSI contributions
    (p - q) * ln(p / q), top-10 most-drifted terms — the token-level
    monitor that catches a scraper change, language shift, or template
    leak between training-data snapshots before it reaches a model.

    Determinism: c/N/V are exact integers; p and q are single divisions
    of exact-int operands, and the (p - q) * ln(p / q) tree is mirrored
    verbatim in the oracle (the PSI precedent, q_distribution_drift) —
    no float SUM enters the result; ordering is on the identical double
    with the term as tiebreak, compiled to TakeOrderedAndProject.

    Scale shape (r8): ONE explode over ONE scan feeding ONE conditional
    groupBy(token) — c_p and c_q are CASE sums in the same aggregate, so
    the full-outer join of two per-half vocab frames (which cost a
    second tokenizing corpus pass) disappears; the zero-coalesce
    semantics are identical because a token seen in either half gets
    both counts in its one row. The vocab frame feeds two consumers
    (the 1-row scalar agg and the scoring projection), so it is
    scoped-persisted — vocabulary-sized, never corpus-sized.
    """
    from hive_json_spark.functions.caching import scoped_persist
    from hive_json_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        (F.col("doc_id") % 2 == 0).alias("left_half"),
        F.explode(tokens("text")).alias("tok"),
    )
    u = scoped_persist(
        tok.groupBy("tok").agg(
            F.sum(F.when(F.col("left_half"), 1).otherwise(0))
            .cast("bigint")
            .alias("c_p"),
            F.sum(F.when(~F.col("left_half"), 1).otherwise(0))
            .cast("bigint")
            .alias("c_q"),
        )
    )
    g = u.agg(
        F.sum("c_p").alias("n_p"), F.sum("c_q").alias("n_q"), F.count("*").alias("v")
    )
    p = (F.col("c_p") + 1) / (F.col("n_p") + F.col("v")).cast("double")
    q = (F.col("c_q") + 1) / (F.col("n_q") + F.col("v")).cast("double")
    drift = (p - q) * F.log(p / q)
    return (
        u.crossJoin(F.broadcast(g))
        .select("tok", "c_p", "c_q", drift.alias("_d"))
        .orderBy(F.desc("_d"), "tok")
        .limit(10)
        .select("tok", "c_p", "c_q", F.round("_d", 6).alias("drift_term"))
    )


@query(
    "q_vocab_topk",
    """
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
    FROM (SELECT unnest(list_filter(string_split_regex(text, '\\s+'), t -> t != '')) AS tok
          FROM documents)
    GROUP BY tok
    ORDER BY freq DESC, tok
    LIMIT 100
    """,
)
def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: explode → count → top-k. The explode's output
    never materializes (pipelined into the partial agg); the shuffle
    carries (token, partial count) — vocabulary-sized, not corpus-sized;
    top-k is TakeOrderedAndProject with the token as tiebreak."""
    from hive_json_spark.functions.text import tokens
    from hive_json_spark.operators.relational import top_k

    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("freq"))
    )
    return top_k(counts, [F.col("freq").desc(), F.col("tok")], 100)


# --- deterministic train/test split ------------------------------------------

@query(
    "q_train_test_split",
    """
    SELECT CASE WHEN doc_id % 10 < 8 THEN 'train' ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS n_chars
    FROM documents GROUP BY 1
    """,
)
def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split assignment from the stable id (never rand(): reruns, retries
    and engine changes must not reshuffle examples between train and test).
    One narrow projection + tiny agg."""
    docs = load_table(spark, sf_dir, "documents")
    split = F.when(F.col("doc_id") % 10 < 8, "train").otherwise("test")
    return docs.groupBy(split.alias("split")).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).cast("bigint").alias("n_chars"),
    )


# --- end-to-end cleaning pipeline composition --------------------------------

@query(
    "q_pipeline_e2e",
    """
    WITH survivors AS (
      SELECT doc_id, text, lang,
             ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM documents
      WHERE length(text) >= 100),
    clean AS (SELECT doc_id, text, lang FROM survivors WHERE rn = 1)
    SELECT lang,
           CASE WHEN doc_id % 10 < 8 THEN 'train' ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS n_chars
    FROM clean GROUP BY lang, split
    """,
)
def q_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed cleaning pipeline in one plan: length filter → exact
    dedup (first doc per content hash) → per-language train/test counts.
    Filter pushes to the scan; dedup is one shuffle on md5(text); the final
    agg reuses nothing but is tiny. The building blocks are the same
    operators graded individually (content hash dedup, split, profile)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") >= 100)
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    clean = (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    split = F.when(F.col("doc_id") % 10 < 8, "train").otherwise("test")
    return clean.groupBy("lang", split.alias("split")).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).cast("bigint").alias("n_chars"),
    )


# --- document chunking (training-window materialization) ---------------------

@query(
    "q_chunk_documents",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t != '') AS tk
      FROM documents),
    n AS (
      SELECT doc_id, tk,
             greatest(CAST(ceil((len(tk) - 64) / 48.0) AS INT) + 1, 1) AS n_chunks
      FROM toks)
    SELECT doc_id,
           CAST(unnest(range(0, n_chunks)) AS INT) AS chunk_idx,
           array_to_string(list_slice(tk, unnest(range(0, n_chunks)) * 48 + 1,
                                          unnest(range(0, n_chunks)) * 48 + 64), ' ')
             AS chunk_text
    FROM n
    """,
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (64-token windows, stride 48 → 16-token
    overlap) — the LLM-training materialization step. Pure JVM array ops:
    tokens once per doc, chunk windows via transform+slice, posexplode;
    output size is the only thing that grows, never shuffle width (chunking
    is a narrow map — at 100 TB it pipelines straight into the tokenizer
    or the sink with zero exchanges)."""
    from hive_json_spark.functions.text import tokens

    c, s = 64, 48
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    n_chunks = F.greatest(
        F.ceil((F.size(toks) - c) / float(s)).cast("int") + 1, F.lit(1)
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * s + 1, c)),
    )
    return docs.select(
        "doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk_text")
    ).select("doc_id", F.col("chunk_idx").cast("int").alias("chunk_idx"), "chunk_text")


# --- repetition quality signal (Gopher-style duplicate-3-gram ratio) ---------

@query(
    "q_repetition_ratio",
    """
    WITH t AS (SELECT doc_id,
                      list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS tk
               FROM documents),
    s AS (SELECT doc_id,
                 [array_to_string(tk[i+1:i+3], ' ')
                  for i in range(0, greatest(len(tk) - 3, 0) + 1)] AS sh
          FROM t)
    SELECT doc_id,
           ROUND(1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh), 6)
             AS dup3_ratio
    FROM s
    """,
)
def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-3-gram ratio per document — the repetition filter from
    published web-corpus quality rules (high ratio ⇒ boilerplate/spam).
    Arrow-batched kernel (see operators.textstats.repetition_ratio for why
    it beats the JVM higher-order-expression formulation)."""
    from hive_json_spark.operators.textstats import repetition_ratio

    docs = load_table(spark, sf_dir, "documents")
    return repetition_ratio(docs, "doc_id", "text")


# --- PII scrubbing (email redaction) -----------------------------------------

_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"


@query(
    "q_pii_scrub",
    """
    WITH aug AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0
                  THEN text || ' contact user' || doc_id || '@example.com or admin@test.org'
                  ELSE text END AS t
      FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                AS BIGINT) AS n_emails,
           md5(regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                              '<EMAIL>', 'g')) AS scrubbed_md5
    FROM aug
    """,
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Email redaction over the corpus (PII is synthesized deterministically
    onto every 5th doc since the test corpus has none). regexp runs
    JVM-side in codegen; the pattern is RE2-and-Java compatible so the
    oracle computes the identical redaction. Output is the count + a hash
    of the scrubbed text, which pins every byte of the replacement."""
    docs = load_table(spark, sf_dir, "documents")
    aug = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or admin@test.org"),
        ),
    ).otherwise(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(aug, F.lit(_EMAIL_RE), 0)).cast("bigint").alias("n_emails"),
        F.md5(F.regexp_replace(aug, _EMAIL_RE, "<EMAIL>")).alias("scrubbed_md5"),
    )


# --- near-dup clustering (connected components, iterative) -------------------

@query(
    "q_dedup_clusters",
    """
    WITH RECURSIVE pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM (SELECT doc_id, lang, source,
                   list_distinct(list_filter(string_split_regex(text, '\\s+'), t -> t != '')) AS tok FROM documents) a
      JOIN (SELECT doc_id, lang, source,
                   list_distinct(list_filter(string_split_regex(text, '\\s+'), t -> t != '')) AS tok FROM documents) b
        ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
            / len(list_distinct(list_concat(a.tok, b.tok))) >= 0.5),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(node, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON r.node = e.src)
    SELECT node AS doc_id, CAST(MIN(label) AS BIGINT) AS cluster_id
    FROM reach GROUP BY node
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → connected components → one cluster id per doc.
    Every edge lives inside a (lang, source) block, so components are
    block-local: ONE union-find pass per block closes them
    (operators.dedup.blocked_components — one shuffle of the sparse pair
    frame, zero iteration rounds). The generic cross-block graph keeps
    the iterative min-label propagation (dedup_clusters, pinned by its
    own unit tests); the oracle closes the same graph with a recursive
    CTE.

    Pair generation auto-dispatches on a block-size probe (the
    embedding-near-dup limit-probe pattern): (lang, source) has FIXED
    cardinality (~100 blocks), so block size — and the all-pairs
    generator's quadratic term — grows linearly with the corpus. Blocks
    ≤ 2048 rows (≤ ~2M candidate pairs per block; through sf1's 10×
    bench scale, measured 12× wall for 10× rows) take the blocked
    all-pairs kernel; larger corpora switch to the output-sensitive
    AllPairs/PPJoin prefix-filter join restricted to same-block pairs —
    the SAME exact pair set (integer-exact ≥ threshold test; at these
    token-set sizes the 4-dp rounding cannot straddle 0.5), without the
    quadratic term. The r5 sf1 scaling run is what exposed the
    quadratic: 10× data → 100× candidate pairs, survivable at sf1,
    a wall at sf100. Pair generation is the shared
    ``_blocked_jaccard_pairs`` dispatch (also used by
    q_ngram_jaccard_pairs)."""
    from hive_json_spark.operators.dedup import blocked_components

    docs = load_table(spark, sf_dir, "documents")
    return blocked_components(
        _blocked_jaccard_pairs(docs, 0.5), ["lang", "source"]
    )


# --- benchmark decontamination (n-gram overlap) ------------------------------

@query(
    "q_decontaminate",
    """
    WITH tok AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS tk
      FROM documents),
    g AS (
      SELECT doc_id, unnest(list_distinct([array_to_string(tk[i+1:i+5], ' ')
               for i in range(greatest(len(tk) - 4, 0))])) AS gram
      FROM tok)
    SELECT tr.doc_id AS train_doc,
           CAST(COUNT(DISTINCT tr.gram) AS BIGINT) AS shared_5grams
    FROM g tr JOIN g te ON tr.gram = te.gram
    WHERE tr.doc_id % 10 < 8 AND te.doc_id % 10 >= 8
    GROUP BY tr.doc_id
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag train-split documents sharing any
    verbatim 5-gram with the held-out (benchmark) split — the standard
    n-gram-overlap decontam pass from published LLM data pipelines
    (5-grams here because the synthetic corpus is short; production uses
    8-13).

    Scale shape: both sides explode to distinct (doc, gram) pairs — a
    narrow Arrow-batched map (operators.textstats.distinct_ngrams; the
    JVM transform+slice formulation is interpreted and ~10× slower) —
    then join on gram. The benchmark side is tiny in real pipelines (and
    20% here) → broadcast it; the train side never shuffles."""
    from hive_json_spark.operators.textstats import distinct_ngrams

    docs = load_table(spark, sf_dir, "documents")
    g = distinct_ngrams(docs, "doc_id", "text", 5)
    train = g.filter(F.col("doc_id") % 10 < 8)
    test = g.filter(F.col("doc_id") % 10 >= 8).select(F.col("gram").alias("t_gram")).distinct()
    hits = train.join(F.broadcast(test), F.col("gram") == F.col("t_gram"))
    return hits.groupBy(F.col("doc_id").alias("train_doc")).agg(
        F.countDistinct("gram").cast("bigint").alias("shared_5grams")
    )


@query(
    "q_duplicate_ngram_fraction",
    """
    WITH tok AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS tk
      FROM documents),
    g AS (
      SELECT doc_id, unnest(list_distinct([array_to_string(tk[i+1:i+5], ' ')
               for i in range(greatest(len(tk) - 4, 0))])) AS gram
      FROM tok),
    df AS (
      SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_docs FROM g GROUP BY gram)
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN df.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams,
           ROUND(SUM(CASE WHEN df.n_docs > 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
             AS dup_fraction
    FROM g JOIN df USING (gram)
    GROUP BY g.doc_id
    """,
)
def q_duplicate_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicate-n-gram fraction — the published corpus-
    quality signal (a doc whose 5-grams mostly occur in other docs is
    boilerplate or near-dup; pipelines drop above a threshold).

    Scale shape: distinct (doc, gram) pairs from the Arrow-batched
    ngram kernel; gram document-frequency is one groupBy(gram) with
    map-side combine; the flag joins back on gram (both sides already
    gram-partitioned — AQE reuses the exchange) and the per-doc ratio is
    one more key-partitioned agg. Every stage is partial-aggregable;
    nothing is quadratic. The ratio divides exact integers, so it is
    cross-engine deterministic unrounded; rounded at 6 for display."""
    from hive_json_spark.operators.textstats import distinct_ngrams

    docs = load_table(spark, sf_dir, "documents")
    g = distinct_ngrams(docs, "doc_id", "text", 5)
    # document frequency as a window over gram rather than agg + self-join:
    # one exchange on gram serves both the count and the flag (the join
    # formulation shuffles g a second time when AQE can't line the
    # exchanges up), then one exchange on doc_id for the per-doc ratio
    j = g.withColumn(
        "n_docs", F.count("*").over(Window.partitionBy("gram"))
    )
    dup = F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
    return j.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        dup.cast("bigint").alias("n_dup_grams"),
        F.round(dup * F.lit(1.0) / F.count("*"), 6).alias("dup_fraction"),
    )


@query(
    "q_boilerplate_grams",
    """
    WITH tok AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS tk
      FROM documents),
    g AS (
      SELECT doc_id, unnest(list_distinct([array_to_string(tk[i+1:i+5], ' ')
               for i in range(greatest(len(tk) - 4, 0))])) AS gram
      FROM tok)
    SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM g GROUP BY gram
    ORDER BY n_docs DESC, gram
    LIMIT 20
    """,
)
def q_boilerplate_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-duplicated verbatim 5-grams across the corpus — the
    boilerplate/template detector (cookie banners, license headers) that
    feeds rule-based cleaning. One groupBy(gram) then top-k via
    TakeOrderedAndProject (never a global sort); gram string tiebreak
    makes the cut deterministic."""
    from hive_json_spark.operators.relational import top_k
    from hive_json_spark.operators.textstats import distinct_ngrams

    docs = load_table(spark, sf_dir, "documents")
    g = distinct_ngrams(docs, "doc_id", "text", 5)
    counts = g.groupBy("gram").agg(F.count("*").cast("bigint").alias("n_docs"))
    return top_k(counts, [F.col("n_docs").desc(), F.col("gram")], 20)


@query(
    "q_filter_funnel",
    """
    WITH t AS (
      SELECT doc_id, n_chars, lang,
             len(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) AS n_tok,
             CAST(len(list_distinct(list_filter(string_split_regex(text, '\\s+'), x -> x != ''))) AS DOUBLE)
               / greatest(len(list_filter(string_split_regex(text, '\\s+'), x -> x != '')), 1) AS diversity
      FROM documents),
    flags AS (
      SELECT n_chars >= 100                         AS p1,
             n_chars >= 100 AND n_tok >= 20         AS p2,
             n_chars >= 100 AND n_tok >= 20 AND lang = 'en' AS p3,
             n_chars >= 100 AND n_tok >= 20 AND lang = 'en' AND diversity >= 0.3 AS p4
      FROM t)
    SELECT stage, n_pass, CAST(first_drop - n_pass AS BIGINT) AS n_dropped
    FROM (
      SELECT 'min_length' AS stage, 1 AS ord, CAST(SUM(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
             COUNT(*) AS first_drop FROM flags
      UNION ALL
      SELECT 'min_tokens', 2, CAST(SUM(CASE WHEN p2 THEN 1 ELSE 0 END) AS BIGINT),
             SUM(CASE WHEN p1 THEN 1 ELSE 0 END) FROM flags
      UNION ALL
      SELECT 'lang_en', 3, CAST(SUM(CASE WHEN p3 THEN 1 ELSE 0 END) AS BIGINT),
             SUM(CASE WHEN p2 THEN 1 ELSE 0 END) FROM flags
      UNION ALL
      SELECT 'diversity', 4, CAST(SUM(CASE WHEN p4 THEN 1 ELSE 0 END) AS BIGINT),
             SUM(CASE WHEN p3 THEN 1 ELSE 0 END) FROM flags)
    ORDER BY ord
    """,
)
def q_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cleaning-funnel report: documents surviving each filter rule applied
    in pipeline order (min length → min tokens → language → lexical
    diversity), with per-stage drop counts — the health dashboard every
    corpus-cleaning run publishes so a rule that suddenly eats the corpus
    is caught before training.

    Scale shape: ONE scan computes all stage predicates as columns, then a
    single 1-row conditional aggregate — stages come from CASE sums, not
    one scan per rule; no shuffle beyond the final tiny agg."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
    n_tok = F.size(toks)
    diversity = F.size(F.array_distinct(toks)).cast("double") / F.greatest(
        n_tok, F.lit(1)
    )
    p1 = F.col("n_chars") >= 100
    p2 = p1 & (n_tok >= 20)
    p3 = p2 & (F.col("lang") == "en")
    p4 = p3 & (diversity >= 0.3)
    cnt = lambda p: F.sum(F.when(p, 1).otherwise(0))  # noqa: E731
    agg = docs.agg(
        F.count("*").alias("total"),
        cnt(p1).alias("c1"), cnt(p2).alias("c2"),
        cnt(p3).alias("c3"), cnt(p4).alias("c4"),
    )
    # unpivot the single aggregate row with stack: a union of four
    # projections of `agg` would re-run the tokenizing scan once per
    # stage (4 corpus passes); stack keeps it one scan, one 1-row agg
    return (
        agg.select(
            F.expr(
                "stack(4, "
                "'min_length', 1, CAST(c1 AS BIGINT), CAST(total - c1 AS BIGINT), "
                "'min_tokens', 2, CAST(c2 AS BIGINT), CAST(c1 - c2 AS BIGINT), "
                "'lang_en',    3, CAST(c3 AS BIGINT), CAST(c2 - c3 AS BIGINT), "
                "'diversity',  4, CAST(c4 AS BIGINT), CAST(c3 - c4 AS BIGINT)"
                ") AS (stage, _ord, n_pass, n_dropped)"
            )
        )
        .orderBy("_ord")
        .drop("_ord")
    )

@query(
    "q_stratified_sample",
    """
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_sampled,
           CAST(SUM(n_chars) AS BIGINT) AS chars_sampled
    FROM documents
    WHERE (doc_id * 2654435761) % 4294967296 <
          CASE WHEN lang = 'en' THEN 2147483648 ELSE 858993459 END
    GROUP BY lang
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum sampling at different rates (50% of 'en', 20% of the
    rest) with a DETERMINISTIC multiplicative hash of the stable id —
    never rand(): retries, re-runs, and engine swaps must pick the same
    examples. (doc_id * 2654435761) % 2^32 is Knuth's multiplicative
    hash; the threshold is rate × 2^32. Pure int64 arithmetic, identical
    on any engine, no shuffle before the per-stratum agg."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)
    thresh = F.when(F.col("lang") == "en", F.lit(2147483648)).otherwise(F.lit(858993459))
    return (
        docs.filter(bucket < thresh)
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_sampled"),
            F.sum("n_chars").cast("bigint").alias("chars_sampled"),
        )
    )


# --- TF-IDF scoring / retrieval ----------------------------------------------

@query(
    "q_tfidf_topk",
    """
    WITH terms AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) AS term
      FROM documents),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS f
           FROM terms GROUP BY doc_id, term),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS len FROM terms GROUP BY doc_id),
    df AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS dfreq
           FROM terms GROUP BY term),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM documents)
    SELECT tf.doc_id,
           ROUND(SUM(CAST(ROUND(1000000 * ((tf.f / dl.len) * ln(n.total / df.dfreq)))
                          AS BIGINT)) / 1000000.0, 6) AS score
    FROM tf JOIN dl ON tf.doc_id = dl.doc_id
            JOIN df ON tf.term = df.term
            CROSS JOIN n
    WHERE tf.term IN ('vector', 'filter', 'merge')
    GROUP BY tf.doc_id
    ORDER BY score DESC, tf.doc_id
    LIMIT 20
    """,
)
def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF retrieval: score every document against a bag-of-words
    query (tf = term frequency / doc length, idf = ln(N / df)) and return
    the top 20. The classic sparse-retrieval baseline next to the dense
    (embedding) similarity queries.

    Scale shape (r7 shuffle-budget rewrite, same ledger as _bm25_scores):
    doc length is ``size(tokens(text))`` — a map-side projection riding
    into the postings groupBy as a per-doc constant — and the query-term
    filter sits BELOW the first shuffle, so the one postings exchange
    carries matching postings only; df over the filtered frame equals df
    of the query terms (the only ones the score reads). N is a scalar
    broadcast. 4 bounded exchanges; no corpus-sized shuffle, no persist.
    Top-k is TakeOrderedAndProject. Each tf*idf term is rounded to
    integer micro-units per row before the per-doc sum (SCALE.md rule),
    so neither summation order nor ln() ulp differences can flip the
    score or the ranking."""
    docs = load_table(spark, sf_dir, "documents")
    from hive_json_spark.functions.text import tokens

    query_terms = ["vector", "filter", "merge"]
    base = docs.select("doc_id", tokens("text").alias("toks"))
    n = base.agg(F.count("*").cast("double").alias("total"))
    # doc-level prefilter before the explode (see _bm25_scores note)
    qarr = F.array(*[F.lit(t) for t in query_terms])
    postings = base.filter(F.arrays_overlap("toks", qarr)).select(
        "doc_id",
        F.size("toks").cast("double").alias("len"),
        F.explode("toks").alias("term"),
    ).filter(F.col("term").isin(query_terms))
    tf = postings.groupBy("doc_id", "term").agg(
        F.count("*").cast("double").alias("f"),
        F.min("len").alias("len"),  # constant per doc_id
    )
    # df as a window count over the small filtered tf — a second groupBy
    # arm would re-expand (and re-scan) the postings subtree
    scored = tf.withColumn(
        "dfreq", F.count("*").over(Window.partitionBy("term")).cast("double")
    ).join(F.broadcast(n))
    term_units = F.round(
        F.lit(1000000)
        * ((F.col("f") / F.col("len")) * F.log(F.col("total") / F.col("dfreq")))
    ).cast("long")
    agg = scored.groupBy("doc_id").agg(
        F.round(F.sum(term_units) / F.lit(1000000.0), 6).alias("score")
    )
    from hive_json_spark.operators.relational import top_k

    return top_k(agg, [F.col("score").desc(), F.col("doc_id")], 20)


# --- incremental ingest dedup ------------------------------------------------

@query(
    "q_incremental_dedup",
    """
    WITH seen AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 2 = 0),
    batch AS (SELECT doc_id, md5(text) AS h, n_chars FROM documents WHERE doc_id % 2 = 1)
    SELECT b.doc_id, b.h AS content_md5, CAST(b.n_chars AS BIGINT) AS n_chars
    FROM batch b LEFT JOIN seen s ON b.h = s.h
    WHERE s.h IS NULL
    """,
)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: drop new-batch documents whose content
    hash already exists in the ingested corpus (even-ids stand in for
    "already ingested", odd-ids for the incoming batch). The daily-ingest
    companion to the batch dedup ops: an anti-join on content hash, so
    only (hash) ever moves for the seen side — at 100 TB the seen-hash
    table is a fraction of corpus bytes and the anti-join shuffles
    hash+id, never text. (A Bloom filter pre-pass is the declared
    at-scale refinement: build on seen hashes, filter the batch before
    the exact anti-join.)"""
    from hive_json_spark.operators.relational import anti_join

    docs = load_table(spark, sf_dir, "documents")
    seen = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select(F.md5("text").alias("seen_h"))
        .distinct()
    )
    batch = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", F.md5("text").alias("content_md5"), F.col("n_chars").cast("bigint")
    )
    return anti_join(batch, seen, F.col("content_md5") == F.col("seen_h"))


# --- cross-modal join (documents x embeddings) --------------------------------

@query(
    "q_text_embedding_join",
    """
    SELECT d.lang, e.label,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(sqrt(list_sum(list_transform(CAST(e.embedding AS DOUBLE[]),
                                                  x -> x*x)))), 6) AS avg_norm,
           CAST(SUM(d.n_chars) AS BIGINT) AS total_chars
    FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
    GROUP BY d.lang, e.label
    """,
)
def q_text_embedding_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal integration: join the text table to its embedding table
    on the shared stable id and aggregate per (lang, label) — the shape of
    every 'enrich documents with model outputs' pipeline step. The join
    key is the stable doc id on both sides, so at scale both tables
    bucket/partition on it and the join co-locates; the norm is the JVM
    aggregate expression (no Python)."""
    from hive_json_spark.functions.vectors import l2_norm

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", l2_norm("embedding").alias("norm")
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    j = emb.join(docs, emb.vec_id == docs.doc_id)
    return j.groupBy("lang", "label").agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.avg("norm"), 6).alias("avg_norm"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


# --- golden-record survivorship after near-dup clustering --------------------

@query(
    "q_survivorship",
    """
    WITH RECURSIVE pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM (SELECT doc_id, lang, source,
                   list_distinct(list_filter(string_split_regex(text, '\\s+'), t -> t != '')) AS tok FROM documents) a
      JOIN (SELECT doc_id, lang, source,
                   list_distinct(list_filter(string_split_regex(text, '\\s+'), t -> t != '')) AS tok FROM documents) b
        ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
            / len(list_distinct(list_concat(a.tok, b.tok))) >= 0.5),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(node, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON r.node = e.src),
    comp AS (SELECT node AS doc_id, CAST(MIN(label) AS BIGINT) AS cluster_id
             FROM reach GROUP BY node),
    everyone AS (
      SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id, d.n_chars
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
    ranked AS (
      SELECT cluster_id, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY cluster_id
                                ORDER BY n_chars DESC, doc_id) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_members
      FROM everyone)
    SELECT cluster_id, doc_id AS survivor_id, n_chars AS survivor_chars,
           n_members
    FROM ranked WHERE rn = 1
    """,
)
def q_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship: after near-dup clustering, elect ONE
    surviving document per cluster by a deterministic rule (most content
    = highest n_chars, ties to the smallest doc_id) — the master-data-
    management step that turns "these rows are the same thing" into "keep
    this one". Singletons (docs in no near-dup pair) survive as their own
    cluster via the left join + coalesce, so the output is a complete
    keep-list for the corpus.

    Scale shape: clustering is the block-local union-find of
    q_dedup_clusters (blocked_components — one pass, no rounds); the
    election is one row_number window and the member count rides the same
    cluster_id partitioning. Pair generation goes through
    ``_blocked_jaccard_pairs`` — the pair-volume-dispatching helper the
    other two blocked-jaccard queries use (the r6 Zipf census caught this
    query still calling the raw all-pairs kernel: 34 s at zipf-sf1 for
    the same 15.6M-pair quadratic the helper avoids; identical pair set).
    The oracle closes the identical graph with a recursive CTE and runs
    the identical window — both engines elect the same rows.
    """
    from hive_json_spark.operators.dedup import blocked_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = _blocked_jaccard_pairs(docs, 0.5)
    clusters = blocked_components(pairs, ["lang", "source"])
    everyone = (
        docs.select("doc_id", "n_chars")
        .join(clusters, "doc_id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col("doc_id")))
    )
    wp = Window.partitionBy("cluster_id")
    ranked = everyone.select(
        "cluster_id",
        "doc_id",
        "n_chars",
        F.row_number()
        .over(wp.orderBy(F.desc("n_chars"), "doc_id"))
        .alias("rn"),
        F.count("*").over(wp).alias("n_members"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "cluster_id",
        F.col("doc_id").alias("survivor_id"),
        F.col("n_chars").alias("survivor_chars"),
        "n_members",
    )


# --- int8 embedding quantization (reconstruction-error audit) ----------------

@query(
    "q_embedding_quantize",
    """
    WITH v AS (
      SELECT label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    q AS (
      SELECT label, e, list_min(e) AS lo,
             (list_max(e) - list_min(e)) / 255.0 AS scale
      FROM v),
    err AS (
      SELECT label, scale,
             CASE WHEN scale = 0 THEN 0.0
                  ELSE list_sum(list_transform(e,
                         x -> abs(x - (lo + round((x - lo) / scale) * scale))))
                       / len(e) END AS mae
      FROM q)
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(AVG(scale), 6) AS avg_scale,
           ROUND(AVG(mae), 8) AS avg_mae,
           ROUND(MAX(mae), 8) AS max_mae
    FROM err GROUP BY label
    """,
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 affine quantization audit: quantize every embedding per-vector
    (scale = range/255, zero point = min), reconstruct, and report the
    mean/max absolute reconstruction error per label — the memory-vs-
    recall trade every billion-vector ANN deployment measures before
    shipping 4x-smaller indexes.

    All math is JVM higher-order kernels (transform / aggregate lambdas
    in codegen) — no Python touches the vectors; the per-vector fold is
    a fixed left-to-right order so both engines produce bit-identical
    doubles before the (tolerance-rounded) averages. Constant vectors
    (scale 0) reconstruct exactly by definition.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.transform("embedding", lambda x: x.cast("double"))
    v = emb.select("label", e.alias("e"))
    lo = F.array_min("e")
    scale = (F.array_max("e") - F.array_min("e")) / F.lit(255.0)
    q = v.select("label", "e", lo.alias("lo"), scale.alias("scale"))
    recon_sum = F.aggregate(
        "e",
        F.lit(0.0),
        lambda acc, x: acc
        + F.abs(
            x
            - (
                F.col("lo")
                + F.round((x - F.col("lo")) / F.col("scale")) * F.col("scale")
            )
        ),
    )
    err = q.select(
        "label",
        "scale",
        F.when(F.col("scale") == 0, F.lit(0.0))
        .otherwise(recon_sum / F.size("e"))
        .alias("mae"),
    )
    return err.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.round(F.avg("scale"), 6).alias("avg_scale"),
        F.round(F.avg("mae"), 8).alias("avg_mae"),
        F.round(F.max("mae"), 8).alias("max_mae"),
    )


@query(
    "q_png_decode",
    """
    WITH m AS (SELECT doc_id AS media_id,
                      CAST((doc_id % 7 + 1) * 3 + 1 AS INT) AS w,
                      CAST((doc_id % 5 + 1) * 4 AS INT) AS h
               FROM documents),
    px AS (
      SELECT media_id, w, h,
             AVG((media_id * 23 + y + 2 * x) % 256) AS mean_c0,
             AVG((media_id * 24 + y + 2 * x) % 256) AS mean_c1,
             AVG((media_id * 25 + y + 2 * x) % 256) AS mean_c2
      FROM m,
           LATERAL (SELECT unnest(range(h)) AS y),
           LATERAL (SELECT unnest(range(w)) AS x)
      GROUP BY media_id, w, h)
    SELECT media_id, w AS width, h AS height,
           CAST(h * (1 + 3 * w) AS BIGINT) AS raw_len,
           mean_c0, mean_c1, mean_c2
    FROM px
    """,
)
def q_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A real COMPRESSED image format end to end with zero codec deps:
    synthetic RGB patterns are encoded as genuine PNGs (zlib-deflated
    IDAT; rows cycle through all five PNG filter types) and decoded back
    — chunk walk, inflate, full unfiltering — inside one Arrow kernel.
    The oracle recomputes the decoded-pixel means from the pattern's
    closed form, so a bug anywhere in the filter/unfilter pair, CRC-range
    framing, or row stride flips the hash. Pixel means are exact-integer
    sums divided once (identical doubles on both engines, same argument
    as q_media_decode). Upgrades the multimodal boundary: compressed
    formats are no longer NotImplementedError — PNG decodes for real;
    only codec-library formats (JPEG/MP3/H.264) remain stubs.
    """
    from hive_json_spark.operators.multimodal import synthetic_png_features

    docs = load_table(spark, sf_dir, "documents")
    return synthetic_png_features(docs)


@query(
    "q_dataset_card",
    """
    WITH t AS (
      SELECT lang, source, md5(text) AS h,
             CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x != ''))
                  AS BIGINT) AS n_tok,
             CAST(length(text) AS BIGINT) AS n_chr
      FROM documents),
    v AS (
      SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS vocab
      FROM (SELECT unnest(list_filter(string_split_regex(text, '\\s+'), x -> x != ''))
                     AS token
            FROM documents))
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(n_chr) AS BIGINT) AS n_chars,
           (SELECT vocab FROM v) AS vocab,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(COUNT(DISTINCT h) AS BIGINT) AS n_unique_docs,
           ROUND(1.0 - COUNT(DISTINCT h) * 1.0 / COUNT(*), 6) AS dup_fraction,
           ROUND(SUM(n_tok) * 1.0 / COUNT(*), 6) AS mean_tokens,
           ROUND(QUANTILE_CONT(n_tok, 0.5), 4) AS p50_tokens
    FROM t
    """,
)
def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row dataset card: the corpus-level summary a dataset release
    ships (docs/tokens/chars, vocabulary, language/source spread, exact
    duplicate rate, token-length center) — the roll-up of the per-doc
    quality surface into the number a data lead reads first.

    Scale shape: ONE scan computes every per-doc stat in codegen; the
    distinct counts are partial-aggregated (exact here because the card
    is the governed artifact; at 100 TB swap COUNT(DISTINCT) for
    approx_count_distinct / HLL sketches — the declared approximate
    path); the token-explode for vocabulary is its own scan-aggregate
    with a vocabulary-sized shuffle; ratios divide exact longs
    (order-free), and the median runs on integer token counts (exact
    percentile, the q_stats_agg pattern).
    """
    from hive_json_spark.functions.text import token_count, tokens

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "lang",
        "source",
        F.md5("text").alias("h"),
        token_count("text").alias("n_tok"),
        F.length("text").cast("bigint").alias("n_chr"),
    )
    vocab = docs.select(F.explode(tokens("text")).alias("token")).agg(
        F.count_distinct("token").cast("bigint").alias("vocab")
    )
    card = t.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        F.sum("n_chr").cast("bigint").alias("n_chars"),
        F.count_distinct("lang").cast("bigint").alias("n_langs"),
        F.count_distinct("source").cast("bigint").alias("n_sources"),
        F.count_distinct("h").cast("bigint").alias("n_unique_docs"),
        F.round(
            1.0 - F.count_distinct("h") * F.lit(1.0) / F.count("*"), 6
        ).alias("dup_fraction"),
        F.round(F.sum("n_tok") * F.lit(1.0) / F.count("*"), 6).alias("mean_tokens"),
        F.round(F.expr("percentile(n_tok, 0.5)"), 4).alias("p50_tokens"),
    )
    return card.crossJoin(F.broadcast(vocab)).select(
        "n_docs", "n_tokens", "n_chars", "vocab", "n_langs", "n_sources",
        "n_unique_docs", "dup_fraction", "mean_tokens", "p50_tokens",
    )


@query(
    "q_cross_dup_sources",
    """
    WITH toks AS (SELECT doc_id, source,
                         list_filter(string_split_regex(text, '\\s+'), t -> t != '') AS tk
                  FROM documents),
    wins AS (SELECT DISTINCT source,
                    array_to_string(tk[i + 1:i + 8], ' ') AS win
             FROM toks,
                  LATERAL (SELECT unnest(range(greatest(len(tk) - 7, 0))) AS i))
    SELECT a.source AS src_a, b.source AS src_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_windows
    FROM wins a JOIN wins b USING (win)
    WHERE a.source < b.source
    GROUP BY a.source, b.source
    """,
)
def q_cross_dup_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every source pair, how many
    distinct 8-token spans appear verbatim in BOTH — the overlap audit
    run before mixing crawl dumps (shared spans double-count content
    under any mixture weighting and leak eval text across splits; span
    overlap catches the partial-copy case exact-text hashing misses —
    this corpus has ZERO exact cross-source dup texts but thousands of
    shared spans).

    Scale shape (r10 rewrite, guide §2.3/§2.4): ONE exchange carries the
    window text. The old form shuffled the (source, window) frame three
    ways — a distinct exchange plus both sides of a window-keyed
    self-join (whose build side the planner BROADCAST: a corpus-derived
    frame on the driver, exactly the mis-sized-broadcast hazard the
    setsim rewrite removed). Now ``collect_set(source)`` dedups
    (window, source) map-side and co-locates each window's source set in
    a single exchange; per-window pairs unfold from the sorted set with
    array ops (fanout C(#sources,2), bounded by the source count, never
    the corpus), and only the tiny pair frame re-shuffles. Production
    swaps the window text for xxhash64 exactly as substring_dup_pairs
    documents, making the shuffle row 8 bytes + a small set."""
    from hive_json_spark.functions.text import tokens as _tokens
    from hive_json_spark.operators.util import ensure_parallelism

    # spread before the tokenize+window explode (r11): documents is one
    # row group at the bench SFs, so the map side of the collect_set
    # exchange ran as ONE task (1.07 s of a 1.6 s wall, per-job probe);
    # no-op exchange on many-row-group inputs
    docs = ensure_parallelism(
        load_table(spark, sf_dir, "documents").select("source", "text")
    )
    k = 8
    tk = _tokens("text")
    base = docs.select("source", tk.alias("_tk")).filter(F.size("_tk") >= k)
    wins = base.select(
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("_tk") - k),
                lambda i: F.array_join(F.slice("_tk", i + 1, k), " "),
            )
        ).alias("_win"),
    )
    srcs = (
        wins.groupBy("_win")
        .agg(F.array_sort(F.collect_set("source")).alias("_srcs"))
        .filter(F.size("_srcs") >= 2)
    )
    # unfold i<j pairs from the sorted per-window source set: sort order
    # makes src_a < src_b by construction, matching the join+filter form
    pair = F.explode(
        F.flatten(
            F.transform(
                F.col("_srcs"),
                lambda x, i: F.transform(
                    F.slice(F.col("_srcs"), i + 2, F.size(F.col("_srcs"))),
                    lambda y: F.struct(x.alias("src_a"), y.alias("src_b")),
                ),
            )
        )
    )
    return (
        srcs.select(pair.alias("_p"))
        .select("_p.src_a", "_p.src_b")
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_shared_windows"))
    )


@query(
    "q_tokenizer_fertility",
    """
    WITH t AS (
      SELECT source,
             CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x != ''))
                  AS BIGINT) AS n_ws,
             CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
                  AS BIGINT) AS n_bpe,
             CAST(length(text) AS BIGINT) AS n_chr
      FROM documents)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_ws) AS BIGINT) AS ws_tokens,
           CAST(SUM(n_bpe) AS BIGINT) AS bpe_tokens,
           ROUND(CAST(SUM(n_bpe) AS DOUBLE) / SUM(n_ws), 6) AS fertility,
           ROUND(CAST(SUM(n_chr) AS DOUBLE) / SUM(n_bpe), 6) AS chars_per_token
    FROM t GROUP BY source
    """,
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit per source: sub-word ("BPE-ish" regex)
    tokens per whitespace word and characters per sub-word token — the
    costing numbers that size a training run (token budget ≠ word count,
    and fertility drift between sources flags tokenizer mismatch).

    All three counts are exact integer sums inside codegen (split /
    regexp_extract_all / length); each ratio is ONE division of two
    exact longs, so the doubles are identical on any partitioning and
    any engine — no double accumulation anywhere."""
    from hive_json_spark.functions.text import (
        bpe_ish_token_count,
        char_count,
        token_count,
    )

    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count("text")).cast("bigint").alias("ws_tokens"),
        F.sum(bpe_ish_token_count("text")).cast("bigint").alias("bpe_tokens"),
        F.round(
            F.sum(bpe_ish_token_count("text")).cast("double")
            / F.sum(token_count("text")),
            6,
        ).alias("fertility"),
        F.round(
            F.sum(char_count("text")).cast("double")
            / F.sum(bpe_ish_token_count("text")),
            6,
        ).alias("chars_per_token"),
    )


# --- inverted index (postings lists) -----------------------------------------

@query(
    "q_inverted_index",
    """
    WITH p AS (
      SELECT tok, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id,
                   unnest(list_filter(string_split_regex(text, '\\s+'), t -> t != '')) AS tok
            FROM documents)
      GROUP BY tok, doc_id),
    r AS (
      SELECT tok, doc_id, tf,
             ROW_NUMBER() OVER (PARTITION BY tok ORDER BY doc_id) AS rn
      FROM p)
    SELECT tok,
           CAST(COUNT(*) AS BIGINT) AS df,
           CAST(SUM(tf) AS BIGINT) AS tf_total,
           array_to_string(list(doc_id ORDER BY doc_id) FILTER (WHERE rn <= 20), ',')
             AS postings_head
    FROM r
    GROUP BY tok
    ORDER BY df DESC, tok
    LIMIT 50
    """,
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index build: token -> (document frequency, total term
    frequency, head of the sorted postings list). The core physical
    structure behind sparse retrieval (and the precursor the TF-IDF/BM25
    queries conceptually read from); emitted here for the 50 highest-df
    tokens with postings truncated to the first 20 doc_ids.

    Scale shape: explode -> (tok, doc_id) partial-agg (the only
    corpus-sized shuffle), then ONE window partitioned by token ranks
    postings so the head is selected BEFORE any list materializes —
    collect_list only ever sees <=20 survivors per token, so a stopword
    with a billion postings costs streaming rank state, never a
    billion-element array in an aggregation buffer. df/tf_total aggregate
    the full postings frame alongside. Top-50 is TakeOrderedAndProject.
    The postings head is emitted as a comma-joined STRING (identical text
    in both engines) rather than an engine-native array."""
    from hive_json_spark.functions.text import tokens
    from hive_json_spark.operators.relational import top_k

    docs = load_table(spark, sf_dir, "documents")
    p = (
        docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .groupBy("tok", "doc_id")
        .agg(F.count("*").alias("tf"))
    )
    w = Window.partitionBy("tok").orderBy("doc_id")
    r = p.withColumn("rn", F.row_number().over(w))
    idx = r.groupBy("tok").agg(
        F.count("*").cast("bigint").alias("df"),
        F.sum("tf").cast("bigint").alias("tf_total"),
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(F.when(F.col("rn") <= 20, F.col("doc_id")))
                ),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("postings_head"),
    )
    return top_k(idx, [F.col("df").desc(), F.col("tok")], 50)


# --- BM25 ranking ------------------------------------------------------------

@query(
    "q_bm25_topk",
    """
    WITH terms AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) AS term
      FROM documents),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS f
           FROM terms GROUP BY doc_id, term),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS len FROM terms GROUP BY doc_id),
    df AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS dfreq
           FROM terms GROUP BY term),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM documents),
    a AS (SELECT CAST(SUM(len) AS DOUBLE) / COUNT(*) AS avgdl FROM dl)
    SELECT tf.doc_id,
           ROUND(SUM(CAST(ROUND(1000000 *
                   ln(1 + (n.total - df.dfreq + 0.5) / (df.dfreq + 0.5))
                   * (tf.f * 2.2)
                   / (tf.f + 1.2 * (0.25 + 0.75 * CAST(dl.len AS DOUBLE) / a.avgdl)))
                 AS BIGINT)) / 1000000.0, 6) AS score
    FROM tf JOIN dl ON tf.doc_id = dl.doc_id
            JOIN df ON tf.term = df.term
            CROSS JOIN n CROSS JOIN a
    WHERE tf.term IN ('vector', 'filter', 'merge')
    GROUP BY tf.doc_id
    ORDER BY score DESC, tf.doc_id
    LIMIT 20
    """,
)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 ranking (k1=1.2, b=0.75) of the corpus against a
    bag-of-words query — the standard sparse-retrieval scorer, one level
    up from the TF-IDF baseline: idf saturates (ln(1+(N-df+0.5)/(df+0.5)))
    and term frequency saturates at k1, normalized by document length
    against the corpus mean.

    Scale shape: identical postings plan to q_tfidf_topk — one explode,
    the (doc, term, freq) frame pinned and re-aggregated for dl/df, the
    query-term df slice broadcast back, scored frame proportional to
    matching postings only. avgdl is computed as an EXACT long token-count
    sum divided once (never AVG over doubles — summation order would leak
    into every score via the length normalizer); each BM25 term is rounded
    to integer micro-units per posting before the per-doc sum, so neither
    summation order nor ln() ulp differences can flip a score or the
    ranking (SCALE.md integer-unit rule)."""
    from hive_json_spark.operators.relational import top_k

    agg = _bm25_scores(spark, sf_dir, ["vector", "filter", "merge"])
    return top_k(agg, [F.col("score").desc(), F.col("doc_id")], 20)


def _bm25_scores(spark: SparkSession, sf_dir: str, query_terms: list) -> DataFrame:
    """(doc_id, score) BM25 frame shared by q_bm25_topk and q_rrf_fusion —
    integer-micro-unit per-posting rounding per the SCALE.md determinism
    rule (see q_bm25_topk docstring for the full plan notes).

    r7 shuffle-budget rewrite (PLANS.md exchange ledger): the old plan
    shuffled the FULL (doc, term, freq) postings frame once and the full
    term VOCABULARY again for df, then re-exchanged to join doc lengths
    back — 8 exchanges, two of them corpus-sized. Three identities remove
    all of that:

    - a document's length is ``size(tokens(text))`` — a map-side
      projection, so ``len`` rides INTO the postings groupBy as a constant
      per doc_id (``min`` picks it back up) and the dl arm + its join
      disappear;
    - BM25 only ever reads df for the QUERY terms, and df restricted to a
      term set equals df of the pre-filtered postings — so the filter
      moves below the first shuffle and even the postings exchange now
      carries matching postings only, never the corpus;
    - corpus count and avgdl are one global agg over the same base frame
      (sum of token counts / count), broadcast as a 1-row frame;
    - df over the filtered tf is a WINDOW count per term, not a separate
      groupBy arm — referencing tf twice would expand (and re-scan) the
      postings subtree, since exchange reuse does not fire across the
      agg difference.

    3 hash exchanges + 1 single-partition agg, every one bounded by
    query-match volume or constant-size; the two corpus-sized shuffles
    are gone. Same math, same oracle, hash-identical scores."""
    from hive_json_spark.functions.text import tokens

    k1, b = 1.2, 0.75
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", tokens("text").alias("toks"))
    stats = base.agg(
        F.count("*").cast("double").alias("total"),
        # avgdl averages over docs with >=1 token: the oracle's dl arm is
        # GROUP BY over exploded terms, so token-less docs contribute no
        # row to it (r7 fuzz catch — the corpus tables have no empty docs,
        # the random fuzz corpus does)
        (
            F.sum(F.size("toks")).cast("double")
            / F.count_if(F.size("toks") > 0)
        ).alias("avgdl"),
    )
    # doc-level prefilter BEFORE the explode: Catalyst cannot push the
    # term filter through Generate, so without this every token of every
    # document is exploded just to be discarded (measured 45 s at
    # zipf-sf10 where the query matches zero docs; arrays_overlap makes
    # non-matching docs exit at scan cost)
    qarr = F.array(*[F.lit(t) for t in query_terms])
    postings = base.filter(F.arrays_overlap("toks", qarr)).select(
        "doc_id",
        F.size("toks").alias("len"),
        F.explode("toks").alias("term"),
    ).filter(F.col("term").isin(query_terms))
    tf = postings.groupBy("doc_id", "term").agg(
        F.count("*").cast("double").alias("f"),
        F.min("len").alias("len"),  # constant per doc_id
    )
    scored = tf.withColumn(
        "dfreq", F.count("*").over(Window.partitionBy("term")).cast("double")
    ).join(F.broadcast(stats))
    idf = F.log(
        1 + (F.col("total") - F.col("dfreq") + 0.5) / (F.col("dfreq") + 0.5)
    )
    sat = (F.col("f") * (k1 + 1)) / (
        F.col("f")
        + k1 * (1 - b + b * F.col("len").cast("double") / F.col("avgdl"))
    )
    term_units = F.round(F.lit(1000000) * idf * sat).cast("long")
    return scored.groupBy("doc_id").agg(
        F.round(F.sum(term_units) / F.lit(1000000.0), 6).alias("score")
    )


# --- GIF decode (LZW) --------------------------------------------------------

@query(
    "q_gif_decode",
    """
    WITH m AS (SELECT doc_id AS media_id,
                      CAST((doc_id % 6 + 2) * 4 AS INT) AS w,
                      CAST((doc_id % 4 + 2) * 5 AS INT) AS h
               FROM documents),
    px AS (
      SELECT media_id, w, h,
             AVG(((media_id * 23 + 5 * y + x) * 3) % 256)      AS mean_c0,
             AVG(((media_id * 23 + 5 * y + x) * 4 + 11) % 256) AS mean_c1,
             AVG(((media_id * 23 + 5 * y + x) * 5 + 22) % 256) AS mean_c2
      FROM m,
           LATERAL (SELECT unnest(range(h)) AS y),
           LATERAL (SELECT unnest(range(w)) AS x)
      GROUP BY media_id, w, h)
    SELECT media_id, w AS width, h AS height,
           CAST(w * h AS BIGINT) AS n_pixels,
           mean_c0, mean_c1, mean_c2
    FROM px
    """,
)
def q_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A second real COMPRESSED image format end to end, exercising a
    different compression family than PNG's DEFLATE: synthetic
    indexed-color patterns are encoded as genuine GIF89a (variable-width
    9→12-bit LZW, LSB-first bit packing, 255-byte sub-blocks, global
    palette) and decoded back inside one Arrow kernel. The repetitive
    index pattern grows the LZW table past the 9→10-bit width switch —
    the classic encoder/decoder desync spot (the encoder must widen one
    code LATER than its own table state, because the decoder defines
    entries one code behind). The oracle recomputes the decoded-pixel
    means from the closed form — palette[(mid·23+5y+x)%256][c] collapses
    to ((mid·23+5y+x)·(3+c)+11c)%256 by modular arithmetic — so a bug in
    the width schedule, bit packing, cScSc case, sub-block framing, or
    palette lookup flips the hash. Means are exact-integer sums divided
    once (identical doubles in both engines, PNG-decode precedent)."""
    from hive_json_spark.operators.multimodal import synthetic_gif_features

    docs = load_table(spark, sf_dir, "documents")
    return synthetic_gif_features(docs)


# --- reciprocal-rank fusion (hybrid retrieval) -------------------------------

@query(
    "q_rrf_fusion",
    """
    WITH terms AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) AS term
      FROM documents),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS f
           FROM terms GROUP BY doc_id, term),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS len FROM terms GROUP BY doc_id),
    df AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS dfreq
           FROM terms GROUP BY term),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM documents),
    a AS (SELECT CAST(SUM(len) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
    bm AS (
      SELECT tf.doc_id,
             ROUND(SUM(CAST(ROUND(1000000 *
                     ln(1 + (n.total - df.dfreq + 0.5) / (df.dfreq + 0.5))
                     * (tf.f * 2.2)
                     / (tf.f + 1.2 * (0.25 + 0.75 * CAST(dl.len AS DOUBLE) / a.avgdl)))
                   AS BIGINT)) / 1000000.0, 6) AS score
      FROM tf JOIN dl ON tf.doc_id = dl.doc_id
              JOIN df ON tf.term = df.term
              CROSS JOIN n CROSS JOIN a
      WHERE tf.term IN ('vector', 'filter', 'merge')
      GROUP BY tf.doc_id),
    bmr AS (
      SELECT doc_id, r FROM (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS r
        FROM bm) WHERE r <= 50),
    qv AS (SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings WHERE vec_id = 0),
    cs AS (
      SELECT vec_id AS doc_id,
             ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv.q), 6) AS sim
      FROM embeddings CROSS JOIN qv WHERE vec_id != 0),
    vr AS (
      SELECT doc_id, r FROM (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) AS r
        FROM cs) WHERE r <= 50),
    fused AS (
      SELECT COALESCE(b.doc_id, v.doc_id) AS doc_id,
             ROUND(COALESCE(1.0/(60 + b.r), 0) + COALESCE(1.0/(60 + v.r), 0), 6)
               AS rrf_score,
             CAST(b.r AS BIGINT) AS bm25_rank,
             CAST(v.r AS BIGINT) AS vec_rank
      FROM bmr b FULL JOIN vr v ON b.doc_id = v.doc_id)
    SELECT doc_id, rrf_score, bm25_rank, vec_rank
    FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 20
    """,
)
def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of a lexical and a dense retriever — the
    standard hybrid-search combiner (Cormack et al. '09): BM25 top-50 for
    a bag-of-words query and cosine top-50 against a query embedding
    (vec_id 0) fuse as Σ 1/(60+rank), which rewards agreement without
    comparing incommensurable scores.

    Scale shape: both arms end in TakeOrderedAndProject top-50 (never a
    global sort); the rank row_numbers and the full-outer fuse run on two
    ≤50-row frames, so the single-partition windows are bounded by k, not
    the corpus. The fused score is a two-term sum of exactly-derived
    doubles (1/(60+r) from integer ranks) — IEEE addition of two terms is
    commutative, so no ordering hazard; ties break on doc_id."""
    from hive_json_spark.functions.vectors import cosine_similarity
    from hive_json_spark.operators.relational import top_k

    bm = _bm25_scores(spark, sf_dir, ["vector", "filter", "merge"])
    bm50 = top_k(bm, [F.col("score").desc(), F.col("doc_id")], 50)
    bmr = bm50.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("score").desc(), F.col("doc_id")))
        .alias("bm_r"),
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_vec"))
    cs = (
        emb.filter(F.col("vec_id") != 0)
        .join(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("v_doc"),
            F.round(cosine_similarity("embedding", "q_vec"), 6).alias("sim"),
        )
    )
    v50 = top_k(cs, [F.col("sim").desc(), F.col("v_doc")], 50)
    vr = v50.select(
        "v_doc",
        F.row_number()
        .over(Window.orderBy(F.col("sim").desc(), F.col("v_doc")))
        .alias("v_r"),
    )

    fused = bmr.join(vr, F.col("doc_id") == F.col("v_doc"), "full").select(
        F.coalesce("doc_id", "v_doc").alias("doc_id"),
        F.round(
            F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("bm_r")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("v_r")), F.lit(0.0)),
            6,
        ).alias("rrf_score"),
        F.col("bm_r").cast("bigint").alias("bm25_rank"),
        F.col("v_r").cast("bigint").alias("vec_rank"),
    )
    return top_k(fused, [F.col("rrf_score").desc(), F.col("doc_id")], 20)


# --- sorted-neighborhood linkage ---------------------------------------------

@query(
    "q_sorted_neighborhood",
    """
    WITH s AS (SELECT p_partkey AS id, p_name AS name FROM part),
    o AS (SELECT id, name,
            LEAD(id, 1) OVER w AS i1, LEAD(name, 1) OVER w AS m1,
            LEAD(id, 2) OVER w AS i2, LEAD(name, 2) OVER w AS m2,
            LEAD(id, 3) OVER w AS i3, LEAD(name, 3) OVER w AS m3,
            LEAD(id, 4) OVER w AS i4, LEAD(name, 4) OVER w AS m4,
            LEAD(id, 5) OVER w AS i5, LEAD(name, 5) OVER w AS m5
          FROM s WINDOW w AS (ORDER BY name, id)),
    pairs AS (
      SELECT id AS id_a, name AS na, i1 AS id_b, m1 AS nb, 1 AS g FROM o WHERE i1 IS NOT NULL
      UNION ALL SELECT id, name, i2, m2, 2 FROM o WHERE i2 IS NOT NULL
      UNION ALL SELECT id, name, i3, m3, 3 FROM o WHERE i3 IS NOT NULL
      UNION ALL SELECT id, name, i4, m4, 4 FROM o WHERE i4 IS NOT NULL
      UNION ALL SELECT id, name, i5, m5, 5 FROM o WHERE i5 IS NOT NULL)
    SELECT id_a, id_b, CAST(g AS INT) AS rank_gap,
           CAST(levenshtein(na, nb) AS INT) AS lev
    FROM pairs WHERE levenshtein(na, nb) <= 4
    """,
)
def q_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood record linkage on part names: every pair within
    5 positions of the sorted name order, kept when edit distance ≤ 4 —
    the sort-based blocking complement to q_fuzzy_name_match's
    equality-blocked join (typos that survive sorting but break hash
    blocks land here; production linkage unions both candidate sets).

    Runs through operators.dedup.sorted_neighborhood_pairs: two-phase
    exact global rank (per-first-letter-block row_number + driver-folded
    block offsets — the z-order rank mechanism) then a stripe equi-join,
    so the oracle's single-ordering LEAD cascade is reproduced without
    ever sorting the table into one partition. Verification uses the
    thresholded 3-arg levenshtein (bails early per pair; same kept set)."""
    from hive_json_spark.operators.dedup import sorted_neighborhood_pairs

    part = load_table(spark, sf_dir, "part")
    cand = sorted_neighborhood_pairs(part, "p_name", "p_partkey", window=5)
    return (
        cand.withColumn("lev", F.levenshtein("key_a", "key_b", 4).cast("int"))
        .filter(F.col("lev") >= 0)
        .select("id_a", "id_b", "rank_gap", "lev")
    )


# --- JPEG decode (DCT transform coding) --------------------------------------

@query(
    "q_jpeg_decode",
    """
    WITH m AS (SELECT doc_id AS media_id,
                      CAST(doc_id % 4 + 2 AS BIGINT) AS bw,
                      CAST(doc_id % 3 + 2 AS BIGINT) AS bh
               FROM documents),
    b AS (
      SELECT media_id, bw, bh,
             (media_id * 37 + y * 5 + x * 3) % 256 AS v
      FROM m,
           LATERAL (SELECT unnest(range(bh)) AS y),
           LATERAL (SELECT unnest(range(bw)) AS x)),
    s AS (SELECT media_id, MIN(bw) AS bw, MIN(bh) AS bh,
                 SUM(v) AS sv, MIN(v) AS mn, MAX(v) AS mx
          FROM b GROUP BY media_id)
    SELECT media_id,
           CAST(bw * 8 AS INT) AS width,
           CAST(bh * 8 AS INT) AS height,
           CAST(bw * bh * 64 AS BIGINT) AS n_pixels,
           CAST(sv * 64 AS DOUBLE) / (bw * bh * 64) AS mean_gray,
           CAST(sv * 64 AS BIGINT) AS px_sum,
           CAST(mn AS INT) AS px_min,
           CAST(mx AS INT) AS px_max
    FROM s
    """,
)
def q_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A third real COMPRESSED image format, completing the compression-
    family coverage: PNG = DEFLATE, GIF = dictionary LZW, JPEG = blockwise
    TRANSFORM coding (DCT → quantize → zigzag run-length → canonical
    Huffman with byte stuffing). Synthetic constant-block grayscale images
    are encoded as genuine baseline JFIF and decoded back inside one Arrow
    kernel; constant blocks make the lossy transform bit-exact (DC = 8·
    shift rounds exactly, AC float residuals quantize to 0), so the oracle
    recomputes width/height/sum/min/max/mean from the closed-form pattern
    and ANY defect in the DCT normalization, zigzag order, DC prediction,
    category/amplitude coding, in-stream Huffman tables, bit packing, or
    stuffing flips px_sum. The AC run-length path (not exercised by
    constant blocks) is pinned by the random-image roundtrip-reference
    test in tests/test_multimodal.py."""
    from hive_json_spark.operators.multimodal import synthetic_jpeg_features

    docs = load_table(spark, sf_dir, "documents")
    return synthetic_jpeg_features(docs)


# --- MMR diversified reranking -----------------------------------------------

MMR_K = 5
MMR_POOL = 50  # candidate pool: vec_id 1..MMR_POOL (vec 0 is the query)


def _mmr_oracle(k: int) -> str:
    """Unrolled greedy MMR (λ=0.5): step i picks argmax of
    2·rel_u − max_{s∈selected} sim_u over unselected candidates, all in
    integer micro-units with vec_id tiebreaks."""
    head = f"""
    WITH qv AS (SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings WHERE vec_id = 0),
    cands AS (
      SELECT vec_id,
             CAST(ROUND(1000000 * ROUND(list_cosine_similarity(
                  CAST(embedding AS DOUBLE[]), qv.q), 6)) AS BIGINT) AS rel_u
      FROM embeddings CROSS JOIN qv
      WHERE vec_id >= 1 AND vec_id <= {MMR_POOL}),
    sims AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             CAST(ROUND(1000000 * ROUND(list_cosine_similarity(
                  CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6))
                  AS BIGINT) AS sim_u
      FROM embeddings a JOIN embeddings b
        ON a.vec_id >= 1 AND a.vec_id <= {MMR_POOL}
       AND b.vec_id >= 1 AND b.vec_id <= {MMR_POOL}
       AND a.vec_id != b.vec_id),
    s1 AS (SELECT vec_id, 2 * rel_u AS score FROM cands
           ORDER BY score DESC, vec_id LIMIT 1)"""
    steps = []
    for i in range(2, k + 1):
        prev_union = " UNION ALL ".join(
            f"SELECT vec_id FROM s{j}" for j in range(1, i)
        )
        steps.append(f"""
    s{i} AS (
      SELECT c.vec_id, 2 * c.rel_u - MAX(m.sim_u) AS score
      FROM cands c JOIN sims m ON m.ia = c.vec_id
      WHERE m.ib IN ({prev_union})
        AND c.vec_id NOT IN ({prev_union})
      GROUP BY c.vec_id, c.rel_u
      ORDER BY score DESC, c.vec_id LIMIT 1)""")
    finals = " UNION ALL ".join(
        f"SELECT {i} AS mmr_rank, vec_id, ROUND(score / 2000000.0, 6) AS mmr_score FROM s{i}"
        for i in range(1, k + 1)
    )
    return head + "," + ",".join(steps) + f"""
    SELECT CAST(mmr_rank AS INT) AS mmr_rank, vec_id, mmr_score FROM ({finals})
    """


@query("q_mmr_rerank", _mmr_oracle(MMR_K))
def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance reranking (Carbonell & Goldstein '98):
    greedily pick k results maximizing λ·relevance − (1−λ)·max-similarity
    to the already-picked set (λ=0.5) — the diversity-aware final stage
    of a retrieval pipeline (RAG context assembly wants coverage, not
    five near-duplicates of the best hit).

    The greedy recurrence is inherently sequential in k, so the loop runs
    on the driver — but each step touches only the CANDIDATE POOL
    (top-50, k·|pool| rows total), never the corpus; pool selection is
    the distributed part (same TakeOrderedAndProject arm as q_rrf_fusion)
    and the pairwise sim matrix is one broadcast self-join of 50 rows.
    Determinism: rel and sims round to 6dp then scale to integer
    micro-units; every argmax is on integers with vec_id tiebreaks, so
    the unrolled-CTE oracle (same integer fold) matches exactly.

    r10 job-count trim (guide §1.2 'per-task work' → fixed cost): the
    k argmax steps used to run as k Spark ``.first()`` jobs over the
    ≤50-row checkpointed pool — ~2+k tiny-job round trips (260-390 ms
    each on this box) for integer comparisons over ≤2450 rows. The pool
    and sim matrix are HARD-bounded by MMR_POOL (never corpus-sized), so
    both collect in two bounded jobs — same class as the 14 documented
    bounded collects — and the identical integer recurrence folds in
    Python: every sim/rel unit crosses unchanged, every argmax compares
    the same integers with the same vec_id tiebreak. 12 jobs → 3."""
    from hive_json_spark.functions.vectors import cosine_similarity

    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_vec"))
    cand = (
        emb.filter((F.col("vec_id") >= 1) & (F.col("vec_id") <= MMR_POOL))
        .join(F.broadcast(qv))
        .select(
            "vec_id",
            "embedding",
            F.round(F.round(cosine_similarity("embedding", "q_vec"), 6) * 1_000_000)
            .cast("bigint")
            .alias("rel_u"),
        )
        .localCheckpoint()
    )
    b = cand.select(
        F.col("vec_id").alias("ib"), F.col("embedding").alias("emb_b")
    )
    sims = (
        cand.select(F.col("vec_id").alias("ia"), "embedding")
        .join(F.broadcast(b), F.col("ia") != F.col("ib"))
        .select(
            "ia",
            "ib",
            F.round(F.round(cosine_similarity("embedding", "emb_b"), 6) * 1_000_000)
            .cast("bigint")
            .alias("sim_u"),
        )
    )
    # bounded collects (≤MMR_POOL rel rows, ≤MMR_POOL² sim rows): the
    # units are already exact integers computed by the SAME Spark
    # expressions as before, so the driver-side greedy below replays the
    # exact argmax/tiebreak sequence the per-step Spark jobs ran
    rel = {int(r["vec_id"]): int(r["rel_u"]) for r in cand.select("vec_id", "rel_u").collect()}
    sim: dict[int, dict[int, int]] = {}
    for r in sims.collect():
        sim.setdefault(int(r["ia"]), {})[int(r["ib"])] = int(r["sim_u"])
    picked: list[tuple[int, int, int]] = []  # (rank, vec_id, score_units)
    for rank in range(1, MMR_K + 1):
        chosen = set(p[1] for p in picked)
        best: tuple[int, int] | None = None  # (score, vec_id), max score / min id
        for v, r_u in rel.items():
            if v in chosen:
                continue
            if picked:
                pens = [sim[v][p] for p in chosen if v in sim and p in sim[v]]
                if not pens:  # inner-join semantics: no sim row → not scored
                    continue
                score = 2 * r_u - max(pens)
            else:
                score = 2 * r_u
            if best is None or (score, -v) > (best[0], -best[1]):
                best = (score, v)
        if best is None:
            break
        picked.append((rank, best[1], best[0]))
    if not picked:
        return spark.createDataFrame([], "mmr_rank int, vec_id bigint, mmr_score double")
    return spark.createDataFrame(
        [(r, v, s / 2_000_000.0) for r, v, s in picked],
        "mmr_rank int, vec_id bigint, mmr_score double",
    ).select("mmr_rank", "vec_id", F.round("mmr_score", 6).alias("mmr_score"))
