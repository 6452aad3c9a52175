"""Behavioral tests for dedup/similarity/text/multimodal operators using
planted fixtures (known near-duplicates, known nearest neighbors)."""

import pytest

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs_with_dups(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    near = "the quick brown fox jumps over the lazy dog near the river bank yesterday"
    other = "completely different words about spark engines and parquet columnar files"
    rows = [(1, base), (2, near), (3, other), (4, base)]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_content_hash_dedup_exact(spark, docs_with_dups):
    from hive_json_spark.operators.dedup import content_hash_dedup

    out = content_hash_dedup(docs_with_dups, "text", "doc_id").collect()
    survivors = sorted(r["doc_id"] for r in out)
    assert survivors == [1, 2, 3]  # doc 4 deduped into doc 1


def test_minhash_finds_planted_near_dup(spark, docs_with_dups):
    from hive_json_spark.operators.dedup import minhash_dedup_pairs

    pairs = minhash_dedup_pairs(
        docs_with_dups, "doc_id", "text", threshold=0.5, bands=16, num_perm=64
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 4) in got          # exact dup always collides
    assert (1, 2) in got or (2, 4) in got  # planted near-dup found
    assert all(p not in got for p in [(1, 3), (2, 3)])  # unrelated doc never pairs
    # jaccard on the exact pair is 1.0
    exact = [r["jaccard"] for r in pairs if (r["id_a"], r["id_b"]) == (1, 4)]
    assert exact == [1.0]


def test_preshingled_paths_match_text_paths(spark, docs_with_dups):
    """``shingled_docs`` + ``shingles_col=`` must reproduce the text
    paths bit-for-bit: same MinHash pair set AND jaccards (signature +
    verify kernels consume the precomputed sets), same exact-truth pair
    set. This is the shared-shingle-frame API for multi-arm consumers
    (its use in q_dedup_method_eval was measured and rejected — see the
    query docstring — but the operator contract stays pinned)."""
    from hive_json_spark.operators.dedup import (
        minhash_dedup_pairs,
        shingle_jaccard_truth_pairs,
        shingled_docs,
    )

    sh = shingled_docs(docs_with_dups, "doc_id", "text", 3, keep_text=True)
    via_text = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in minhash_dedup_pairs(
            docs_with_dups, "doc_id", "text", threshold=0.5
        ).collect()
    )
    via_sh = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in minhash_dedup_pairs(
            sh, "doc_id", "text", threshold=0.5, shingles_col="shingles"
        ).collect()
    )
    assert via_text == via_sh and via_text
    t_text = sorted(
        (r["id_a"], r["id_b"])
        for r in shingle_jaccard_truth_pairs(
            docs_with_dups, "doc_id", "text", threshold=0.5
        ).collect()
    )
    t_sh = sorted(
        (r["id_a"], r["id_b"])
        for r in shingle_jaccard_truth_pairs(
            sh, "doc_id", "text", threshold=0.5, shingles_col="shingles"
        ).collect()
    )
    assert t_text == t_sh and t_text


def test_simhash_near_dup(spark, docs_with_dups):
    from hive_json_spark.operators.dedup import simhash_near_dup_pairs

    pairs = simhash_near_dup_pairs(docs_with_dups, "text", "doc_id", max_hamming=16).collect()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert got.get((1, 4)) == 0  # identical text → identical simhash
    assert (1, 2) in got  # one-word difference → small hamming


def test_ngram_jaccard_blocked(spark):
    from hive_json_spark.operators.dedup import ngram_jaccard_pairs

    rows = [
        (1, "a b c d", "s1", "en"),
        (2, "a b c e", "s1", "en"),
        (3, "a b c d", "s2", "en"),  # same text, different block → never paired
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, source string, lang string")
    pairs = ngram_jaccard_pairs(df, "doc_id", "text", ["lang", "source"], 0.5).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}
    assert pairs[0]["jaccard"] == 0.6  # |{a,b,c}|/|{a,b,c,d,e}|


def test_blocked_jaccard_dispatch_arms_identical(spark):
    """_blocked_jaccard_pairs' two arms — the all-pairs Arrow kernel
    (small Σ C(block,2)) and the block-prefixed AllPairs/PPJoin path —
    must emit the IDENTICAL (id_a, id_b, lang, source, jaccard) rows.
    The graded SFs all take the all-pairs arm, so without this pin a
    prefix-arm change (r11: tokens_col pass-through) would only be
    exercised by the opt-in -m scale suite."""
    import random

    from hive_json_spark.queries_pipeline import _blocked_jaccard_pairs

    rnd = random.Random(3)
    vocab = [f"w{i}" for i in range(12)]
    rows = []
    did = 0
    for lang in ("en", "de"):
        for source in ("s1", "s2"):
            for _ in range(12):
                toks = rnd.sample(vocab, rnd.randint(2, 8))
                rows.append((did, " ".join(toks), lang, source)); did += 1
                if rnd.random() < 0.5:  # near-dup in the same block
                    mut = list(toks)
                    if len(mut) > 1 and rnd.random() < 0.7:
                        mut.pop(rnd.randrange(len(mut)))
                    rows.append((did, " ".join(mut), lang, source)); did += 1
    docs = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string"
    )
    cols = ["id_a", "id_b", "lang", "source", "jaccard"]
    allpairs = sorted(
        tuple(r[c] for c in cols)
        for r in _blocked_jaccard_pairs(docs, 0.5).select(*cols).collect()
    )
    prefix = sorted(
        tuple(r[c] for c in cols)
        for r in _blocked_jaccard_pairs(docs, 0.5, max_allpairs_volume=0)
        .select(*cols)
        .collect()
    )
    assert allpairs == prefix and len(allpairs) > 0


def test_token_definition_unified_non_ascii(spark):
    """ONE token definition repo-wide: JVM tokens() (Java \\s = ASCII
    whitespace) and the kernels' py_tokens must produce identical token
    boundaries on Unicode-whitespace input — NBSP/thin-space stay INSIDE
    a token on both sides (retires the r4 streaming-vs-batch NBSP gap)."""
    from hive_json_spark.functions.text import py_tokens, tokens

    texts = [
        "a b c",          # NBSP inside a token
        "x y z",          # thin space inside a token
        "  lead trail  ",      # ASCII edges
        "tab\tsep\nline\rcr",  # the other ASCII \s chars
        "",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id bigint, text string"
    )
    jvm = {
        r["id"]: list(r["tk"])
        for r in df.select("id", tokens("text").alias("tk")).collect()
    }
    for i, t in enumerate(texts):
        assert jvm[i] == py_tokens(t), t
    assert py_tokens("a b c") == ["a b", "c"]


def test_jaccard_kernels_agree_on_unicode_ws(spark):
    """The Arrow verify kernel (py_tokens) and the JVM tokens() twin
    compute the same jaccard for a pair whose only multi-token runs are
    glued by NBSP — str.split() would have fragmented them."""
    from hive_json_spark.functions.text import tokens
    from hive_json_spark.operators.dedup import ngram_jaccard_pairs

    rows = [
        (1, "the cat sat on the mat", "en", "s"),
        (2, "the cat sat on the hat", "en", "s"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, lang string, source string")
    got = ngram_jaccard_pairs(df, "doc_id", "text", ["lang", "source"], 0.1).collect()
    assert len(got) == 1
    # JVM twin: distinct-token sets {the cat,sat,on,the,mat/hat}
    a = F.array_distinct(tokens(F.lit(rows[0][1])))
    b = F.array_distinct(tokens(F.lit(rows[1][1])))
    jvm = df.limit(1).select(
        (F.size(F.array_intersect(a, b))
         / F.size(F.array_union(a, b))).alias("j")
    ).collect()[0]["j"]
    assert got[0]["jaccard"] == round(jvm, 4) == 0.6667


def test_brute_force_topk_planted(spark):
    from hive_json_spark.operators.similarity import brute_force_topk

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),   # nearest to 0
        (2, [0.0, 1.0, 0.0, 0.0]),   # orthogonal
        (3, [-1.0, 0.0, 0.0, 0.0]),  # opposite
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = brute_force_topk(emb, emb.filter("vec_id = 0"), k=3).collect()
    ranked = [r["vec_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ranked == [1, 2, 3]


def test_lsh_recall_vs_bruteforce(spark, sf_dir):
    from hive_json_spark.operators.similarity import brute_force_topk, lsh_topk
    from hive_json_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    # plant a same-direction twin of each query (scaled ⇒ cosine exactly 1,
    # identical hyperplane signs ⇒ identical bucket): LSH MUST find these —
    # a deterministic recall floor, unlike near-uniform random neighbors
    planted = queries.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
        F.col("label"),
    )
    corpus = emb.unionByName(planted)
    exact = brute_force_topk(corpus, queries, k=5).collect()
    approx = lsh_topk(corpus, queries, k=5, n_planes=4, multiprobe=1).collect()
    got = {}
    for r in approx:
        got.setdefault(r["query_id"], set()).add(r["vec_id"])
    for q in (0, 1, 2):
        assert q + 100000 in got[q], f"planted twin of {q} missed"
    # and a loose sanity floor on genuine-neighbor overlap
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    hits = sum(1 for r in approx if r["vec_id"] in exact_sets.get(r["query_id"], set()))
    assert hits / len(approx) >= 0.2


def test_ivf_runs_and_ranks(spark, sf_dir):
    from hive_json_spark.operators.similarity import ivf_topk
    from hive_json_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    out = ivf_topk(emb, emb.filter(F.col("vec_id") < 2), k=3).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rows in by_q.items():
        ranks = sorted(r["rank"] for r in rows)
        assert ranks == list(range(1, len(rows) + 1))
        assert all(r["vec_id"] != q for r in rows)


def test_lang_id_markers(spark):
    from hive_json_spark.operators.textstats import lang_id

    rows = [
        (1, "the cat and the dog of the house"),
        (2, "der hund und die katze ist ein tier"),
        (3, "xyzzy plugh qwerty"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r["pred_lang"] for r in lang_id(df, "doc_id", "text").collect()}
    assert out[1] == "en"
    assert out[2] == "de"
    assert out[3] == "und"


def test_multimodal_fake_decode(spark):
    from hive_json_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_and_featurize,
        frame_sample_plan,
    )

    rows = [
        (1, b"imagebytes-aaaa", "image", "png", 32, 32, None),
        (2, b"imagebytes-aaaa", "image", "png", 32, 32, None),  # same content
        (3, b"other-bytes", "image", "jpg", 64, 64, None),
        (4, b"videobytes", "video", "mp4", 640, 480, 3500),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = decode_and_featurize(media, dim=16, fake=True).collect()
    by_id = {r["media_id"]: r for r in feats}
    assert len(by_id[1]["feature"]) == 16
    assert by_id[1]["feature"] == by_id[2]["feature"]  # deterministic kernel
    assert by_id[1]["feature"] != by_id[3]["feature"]
    assert by_id[1]["n_bytes"] == len(b"imagebytes-aaaa")

    plan = frame_sample_plan(media, every_ms=1000).collect()
    assert sorted(r["frame_ts_ms"] for r in plan) == [0, 1000, 2000]

    # real-codec path is explicitly stubbed
    import pytest as _pytest

    with _pytest.raises(Exception):
        decode_and_featurize(media, dim=16, fake=False).collect()


def test_embedding_near_dup_exact_and_lsh(spark, sf_dir):
    from hive_json_spark.operators.dedup import embedding_near_dup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(emb, threshold=0.4).collect()
    }
    assert exact, "threshold 0.4 should yield pairs on the test corpus"
    assert all(a < b for a, b in exact)
    lsh = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(emb, threshold=0.4, impl="lsh").collect()
    }
    # LSH prunes candidates: every returned pair is a true near-dup pair
    # (the score filter is exact), it just may miss some
    assert lsh <= exact


def test_embedding_near_dup_lsh_recall_floor(spark):
    # the graded q_embedding_near_dup auto-dispatches to the OR-amplified
    # LSH arm above 10k vectors (the sf1 sweep corpus), so its recall
    # against the exact-GEMM truth is pinned HERE, at sf0.1, where both
    # arms are cheap to run (r10, verdict ask #5). Deterministic: planes
    # are seeded, data is fixed — measured recall 0.484 (445/920 pairs at
    # threshold 0.4, the hardest regime: every true pair sits in
    # [0.4, 0.61), no planted high-sim duplicates). Floor leaves margin
    # for parameter retunes, not for regressions to single-table LSH
    # (which measured 0.03 here).
    from hive_json_spark.operators.dedup import embedding_near_dup_pairs

    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    exact = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(emb, threshold=0.4, impl="exact").collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(emb, threshold=0.4, impl="lsh").collect()
    }
    assert lsh <= exact
    assert len(lsh & exact) >= 0.35 * len(exact)


def test_embedding_near_dup_exact_refuses_oversized_corpus(spark, sf_dir):
    # the exact baseline materializes the corpus on the driver — it must
    # refuse (not OOM) when the corpus exceeds its declared bound
    import pytest as _pytest

    from hive_json_spark.operators.dedup import embedding_near_dup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with _pytest.raises(ValueError, match="max_exact_rows"):
        embedding_near_dup_pairs(emb, threshold=0.4, impl="exact", max_exact_rows=3)


def test_embedding_near_dup_auto_dispatches_to_lsh(spark, sf_dir):
    # the DEFAULT must be scale-safe: over the exact-GEMM guard the auto
    # path silently takes LSH (bucketed, no driver materialization) instead
    # of raising — the 100 TB call site needs no kwarg
    from hive_json_spark.operators.dedup import embedding_near_dup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    lsh = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(emb, threshold=0.4, impl="lsh").collect()
    }
    auto_over_guard = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(
            emb, threshold=0.4, max_exact_rows=3
        ).collect()
    }
    assert auto_over_guard == lsh  # identical plan → identical pairs
    exact = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(emb, threshold=0.4, impl="exact").collect()
    }
    auto_under_guard = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(emb, threshold=0.4).collect()
    }
    assert auto_under_guard == exact  # under the guard auto == exact


def test_salted_join_matches_plain_join(spark):
    from hive_json_spark.operators.relational import salted_join

    # 90% of left rows share one hot key
    left = spark.range(1000).selectExpr(
        "id", "CASE WHEN id % 10 = 0 THEN id % 7 ELSE 1 END AS k"
    )
    right = spark.range(7).selectExpr("id AS k", "id * 100 AS payload")
    plain = left.join(right, ["k"]).select("id", "k", "payload")
    salted = salted_join(left, right, ["k"]).select("id", "k", "payload")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_asof_join_semantics(spark):
    from hive_json_spark.operators.relational import asof_join

    left = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 20), ("a", 5, 50), ("b", 3, 30)],
        "k string, ts int, lv int",
    )
    right = spark.createDataFrame(
        [("a", 2, 200), ("a", 4, 400), ("b", 9, 900)], "k string, ts int, rv int"
    )
    out = {
        (r.k, r.ts): r.rv
        for r in asof_join(left, right, ["k"], "ts", "ts", ["rv"]).collect()
    }
    assert out[("a", 1)] is None        # before any right row
    assert out[("a", 2)] == 200         # tie is inclusive
    assert out[("a", 5)] == 400         # latest ≤ 5
    assert out[("b", 3)] is None        # right row is in the future


def test_range_join_matches_theta_join(spark):
    from hive_json_spark.operators.relational import range_join
    from pyspark.sql import functions as F

    pts = spark.range(200).select((F.col("id") * 0.37).alias("p"))
    rngs = spark.createDataFrame(
        [(0.0, 10.0, "low"), (10.0, 30.0, "mid"), (30.0, 80.0, "high"), (70.0, 75.0, "overlap")],
        "lo double, hi double, label string",
    )
    fast = range_join(pts, rngs, "p", "lo", "hi", bucket_width=10.0)
    slow = pts.join(rngs, (F.col("p") >= F.col("lo")) & (F.col("p") < F.col("hi")))
    assert sorted((r.p, r.label) for r in fast.collect()) == sorted(
        (r.p, r.label) for r in slow.collect()
    )


def test_register_engine_udfs_sql_surface(spark):
    from hive_json_spark.functions.udf import register_engine_udfs

    names = register_engine_udfs(spark)
    assert "classify_string" in names and "infer_json_type" in names
    row = spark.sql("""
        SELECT is_hex_binary('deadBEEF') AS a,
               is_hex_binary('00x0') AS b,
               classify_string('2016-01-05 12:34:56Z') AS c,
               token_count('  one two   three ') AS d,
               infer_json_type('{"a": 1, "b": [1.5]}') AS e
    """).collect()[0]
    assert row.a is True and row.b is False
    assert row.c == "timestamp"
    assert row.d == 3
    assert row.e == "struct<a:tinyint,b:list<decimal(2,1)>>"
    # the SQL scalar functions inline into the plan (no Python eval node)
    plan = spark.sql("SELECT classify_string('abc') AS c")._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dedup_clusters_multihop_chain(spark):
    from hive_json_spark.operators.dedup import dedup_clusters

    # chain 1-2-3-4-5 (diameter 4: needs several propagation rounds),
    # plus separate pair 10-11, plus triangle 20-21-22
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a bigint, id_b bigint",
    )
    got = {r.doc_id: r.cluster_id for r in dedup_clusters(pairs).collect()}
    assert {got[i] for i in (1, 2, 3, 4, 5)} == {1}
    assert {got[i] for i in (10, 11)} == {10}
    assert {got[i] for i in (20, 21, 22)} == {20}


def test_blocked_components_matches_iterative_on_random_graphs(spark):
    """blocked_components (per-block union-find, one pass) must produce
    IDENTICAL labels to dedup_clusters (generic min-label propagation) on
    block-local graphs — including long chains, triangles, and crossing
    id orders inside each block."""
    import random

    from hive_json_spark.operators.dedup import blocked_components, dedup_clusters

    for seed in range(5):
        rnd = random.Random(seed)
        rows = []
        for block in range(rnd.randint(1, 4)):
            nodes = rnd.sample(range(block * 1000, block * 1000 + 200), rnd.randint(2, 40))
            for _ in range(rnd.randint(1, 60)):
                a, b = rnd.sample(nodes, 2)
                rows.append((min(a, b), max(a, b), f"b{block}"))
        pairs = spark.createDataFrame(rows, "id_a bigint, id_b bigint, blk string")
        fast = {
            (r.doc_id, r.cluster_id)
            for r in blocked_components(pairs, ["blk"]).collect()
        }
        slow = {
            (r.doc_id, r.cluster_id)
            for r in dedup_clusters(pairs.select("id_a", "id_b")).collect()
        }
        assert fast == slow, f"seed={seed}"


def test_distinct_ngrams_kernel_matches_jvm_formulation(spark):
    """The Arrow n-gram kernel must agree exactly with the declarative
    JVM formulation (filter + sequence + transform + slice) it replaced
    for speed — including whitespace runs, short docs, and empty text."""
    from hive_json_spark.operators.textstats import distinct_ngrams

    texts = [
        (0, "a b c d e f g"),
        (1, "a a a a a a"),          # repeats collapse to one distinct gram
        (2, "one two"),              # shorter than n -> no grams
        (3, ""),                     # empty -> no grams
        (4, "x\t y\n z w v u t s"),  # mixed whitespace runs
        (5, "a b c a b c a b c d"),  # overlapping repeated windows
    ]
    df = spark.createDataFrame(texts, "doc_id bigint, text string")
    n = 3
    got = {
        (r.doc_id, r.gram) for r in distinct_ngrams(df, "doc_id", "text", n).collect()
    }

    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != F.lit(""))
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    grams = F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    )
    want = {
        (r.doc_id, r.gram)
        for r in df.filter(F.size(toks) >= n)
        .select("doc_id", F.explode(grams).alias("gram"))
        .collect()
    }
    assert got == want


def test_approx_sketches_track_exact_within_tolerance(spark, sf_dir):
    """SCALE.md declares approx_count_distinct / approx_percentile as the
    100 TB paths next to the exact oracle-checked aggregates. Pin that the
    sketches actually track the exact answers on real data (HLL++ default
    rsd is 5%; percentile accuracy set for 1%)."""
    from hive_json_spark.sources import load_table

    li = load_table(spark, sf_dir, "lineitem")
    row = li.agg(
        F.countDistinct("l_partkey").alias("exact_d"),
        F.approx_count_distinct("l_partkey").alias("approx_d"),
        F.expr("percentile(l_extendedprice, 0.9)").alias("exact_p90"),
        F.expr("approx_percentile(l_extendedprice, 0.9, 10000)").alias("approx_p90"),
    ).collect()[0]
    assert abs(row.approx_d - row.exact_d) / row.exact_d < 0.05
    assert abs(row.approx_p90 - row.exact_p90) / row.exact_p90 < 0.01


def test_bloom_semi_join_matches_plain_semi_join(spark, sf_dir):
    """bloom_semi_join's trailing exact join removes Bloom false positives,
    so the composed result must equal the plain left-semi join exactly —
    and the bloom-only pre-filter (exact=False) must be a superset that
    retains every true match."""
    from hive_json_spark.operators.relational import bloom_semi_join
    from hive_json_spark.sources import load_table

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)

    plain = {
        r.o_orderkey
        for r in orders.join(
            li.select(F.col("l_orderkey").alias("o_orderkey")).distinct(),
            "o_orderkey",
            "left_semi",
        ).collect()
    }
    exact = {
        r.o_orderkey
        for r in bloom_semi_join(
            orders, li, "o_orderkey", "l_orderkey", num_bits=1 << 17
        ).collect()
    }
    assert exact == plain

    superset = {
        r.o_orderkey
        for r in bloom_semi_join(
            orders, li, "o_orderkey", "l_orderkey", num_bits=1 << 17, exact=False
        ).collect()
    }
    assert plain <= superset


def test_bloom_prefilter_actually_prunes(spark):
    """With a tiny build side, the Bloom pre-filter must prune most of a
    disjoint probe side before the exact join (the whole point at scale):
    ≤5% false-positive leakage at 10 bits/key."""
    from hive_json_spark.operators.relational import bloom_semi_join

    left = spark.range(0, 20000).select(F.col("id").alias("k"))
    right = spark.range(0, 100).select((F.col("id") + 50000).alias("rk"))
    kept = bloom_semi_join(left, right, "k", "rk", num_bits=1 << 10, exact=False)
    n = kept.count()
    assert n < 1000, f"bloom kept {n} of 20000 disjoint keys"
    assert bloom_semi_join(left, right, "k", "rk", num_bits=1 << 10).count() == 0


def test_grouped_approx_quantiles_track_exact(spark, sf_dir):
    """q_approx_quantiles (rows-only for the driver) is pinned here: each
    grouped sketch quantile within 0.5% relative of the exact grouped
    percentile at accuracy=10000."""
    from hive_json_spark.sources import load_table

    li = load_table(spark, sf_dir, "lineitem")
    qs = [0.25, 0.5, 0.9, 0.99]
    approx = {
        r.l_returnflag: r.aq
        for r in li.groupBy("l_returnflag")
        .agg(F.percentile_approx("l_extendedprice", qs, 10000).alias("aq"))
        .collect()
    }
    exact = {
        r.l_returnflag: r.eq
        for r in li.groupBy("l_returnflag")
        .agg(F.expr(f"percentile(l_extendedprice, array({','.join(map(str, qs))}))").alias("eq"))
        .collect()
    }
    for flag, evals in exact.items():
        for a, e in zip(approx[flag], evals):
            assert abs(a - e) / e < 0.005, (flag, a, e)


def test_hll_sketch_union_tracks_exact(spark, sf_dir):
    """q_hll_sketch merges per-source DataSketches HLL sketches; the union
    estimate must track the exact distinct-text count within HLL(lgK=12)
    error (<5% at these cardinalities), and merging per-source sketches
    must land within 2% of one global sketch (the union gadget promotes
    HLL_4 state, so estimates are close but not bit-identical)."""
    from hive_json_spark.queries_training import q_hll_sketch
    from hive_json_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    exact = docs.select("text").distinct().count()
    row = q_hll_sketch(spark, sf_dir).collect()[0]
    assert row.exact_distinct_texts == exact
    assert row.est_within_5pct, "merged HLL estimate missed the 5% band"
    merged = docs.groupBy("source").agg(
        F.hll_sketch_agg(F.col("text"), F.lit(12)).alias("sk")
    ).agg(
        F.hll_sketch_estimate(F.hll_union_agg(F.col("sk"), F.lit(False)))
        .cast("bigint")
        .alias("est")
    ).collect()[0].est
    one_shot = docs.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg(F.col("text"), F.lit(12)))
        .cast("bigint")
        .alias("est")
    ).collect()[0].est
    assert abs(merged - one_shot) / max(one_shot, 1) < 0.02


def test_hll_intersect_tracks_exact_overlap(spark, sf_dir):
    """q_hll_intersect estimates pairwise user-set overlap between event
    types by inclusion-exclusion on merged sketches. Per pair, the
    estimate must land within 5% of the exact overlap plus the absolute
    slack inclusion-exclusion accumulates (3 estimates, each ±~1.6% at
    lgK=12 — use 5% of the union as the absolute floor)."""
    from hive_json_spark.queries_training import q_hll_intersect
    from hive_json_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    rows = q_hll_intersect(spark, sf_dir).collect()
    assert rows, "expected at least one event-type pair"
    users = {
        r.event_type: set(x.user_id for x in ev.filter(F.col("event_type") == r.event_type)
                          .select("user_id").distinct().collect())
        for r in ev.select("event_type").distinct().collect()
    }
    for r in rows:
        exact = len(users[r.type_a] & users[r.type_b])
        assert r.exact_intersect == exact, (r.type_a, r.type_b)
        assert r.exact_a == len(users[r.type_a])
        assert r.exact_union == len(users[r.type_a] | users[r.type_b])
        assert r.est_within_tol, (r.type_a, r.type_b, exact)


def test_ann_recall_harness_shape_and_bounds(spark, sf_dir):
    """q_ann_recall (r6 acceptance shape): one verdict row per method
    with the oracle-recomputable truth stats (n_queries / n_truth /
    positional checksum over the exact brute-force top-5) and the
    measured-recall floor met — the floors were measured with margin at
    all three grading scales, so a miss here is a real method
    regression."""
    from hive_json_spark.queries_pipeline import q_ann_recall

    rows = {r.method: r for r in q_ann_recall(spark, sf_dir).collect()}
    assert set(rows) == {"lsh_h4", "ivf"}
    for m, r in rows.items():
        assert r.n_queries == 5 and r.n_truth == 25, (m, r)
        assert r.floor_met, (m, r)
    # both methods grade against the SAME truth frame
    assert rows["ivf"].truth_checksum == rows["lsh_h4"].truth_checksum


def test_cms_never_undercounts_and_bounds_error(spark, sf_dir):
    """The CMS estimate must dominate the exact count for every probed key
    (structural property of count-min) and overcount by at most the
    classic e/width * stream_size bound with depth-4 confidence —
    deterministic here because the hash family is fixed."""
    import math

    from hive_json_spark.queries_scale import q_cms_topk
    from hive_json_spark.sources import load_table

    rows = q_cms_topk(spark, sf_dir).collect()
    assert rows
    n_stream = load_table(spark, sf_dir, "events").count()
    bound = math.e / 512 * n_stream
    for r in rows:
        assert r.cms_n >= r.exact_n, r
        assert r.overcount <= max(bound * 3, 10), (r, bound)


def test_pagerank_matches_numpy_power_iteration(spark, sf_dir):
    """q_pagerank_events (DataFrame loop) must equal the dense power
    iteration it distributes: build the same row-normalized transition
    matrix in numpy, run the same 3 damped iterations, compare per node."""
    import numpy as np

    from hive_json_spark.queries_training import PR_DAMP, PR_ITERS, q_pagerank_events
    from hive_json_spark.sources import load_table
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        ev.select(F.col("event_type").alias("u"), F.lead("event_type").over(w).alias("v"))
        .filter(F.col("v").isNotNull())
        .groupBy("u", "v")
        .count()
        .collect()
    )
    nodes = sorted({r.u for r in seq} | {r.v for r in seq})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    W = np.zeros((n, n))
    for r in seq:
        W[idx[r.u], idx[r.v]] = r["count"]
    P = W / W.sum(axis=1, keepdims=True)
    pr = np.full(n, 1.0 / n)
    for _ in range(PR_ITERS):
        pr = (1 - PR_DAMP) / n + PR_DAMP * (P.T @ pr)
    got = {r.node: r.pr for r in q_pagerank_events(spark, sf_dir).collect()}
    assert set(got) == set(nodes)
    for node in nodes:
        assert abs(got[node] - pr[idx[node]]) < 1e-5, (node, got[node], pr[idx[node]])


def test_kmeans_assign_is_true_argmin(spark, sf_dir):
    """The E-step assignment must be the literal numpy argmin of squared L2
    distance to the per-label mean for every vector (tiebreak: lowest label)."""
    import numpy as np

    from hive_json_spark.queries_training import q_kmeans_assign
    from hive_json_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings").collect()
    X = np.array([r.embedding for r in emb], dtype=np.float64)
    labels = np.array([r.label for r in emb])
    uniq = np.sort(np.unique(labels))
    C = np.stack([X[labels == l].mean(axis=0) for l in uniq])
    d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    want = {r.vec_id: uniq[int(i)] for r, i in zip(emb, d2.argmin(axis=1))}
    got = {r.vec_id: r.assigned for r in q_kmeans_assign(spark, sf_dir).collect()}
    assert got == want


def test_merge_changelog_semantics(spark):
    """MERGE routing table, pinned case by case: matched-U overwrites,
    matched-D drops, unmatched-U/I inserts, unmatched-D is a no-op,
    untouched base rows survive; with seq_col the last change per key
    wins within the changelog."""
    from hive_json_spark.operators.relational import merge_changelog

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], ["k", "v"]
    )
    changes = spark.createDataFrame(
        [
            (2, "U", "b2", 10),   # matched update
            (3, "D", None, 10),   # matched delete
            (5, "I", "e", 10),    # unmatched insert
            (6, "D", None, 10),   # unmatched delete: no-op
            (1, "U", "a-old", 10),
            (1, "U", "a-new", 20),  # same key, higher seq wins
        ],
        ["k", "op", "v", "seq"],
    )
    got = sorted(
        map(tuple, merge_changelog(base, changes, "k", seq_col="seq").collect())
    )
    assert got == [(1, "a-new"), (2, "b2"), (4, "d"), (5, "e")]


def test_merge_changelog_is_idempotent(spark):
    """Applying the same changelog twice yields the same snapshot —
    the property that makes checkpoint-replayed CDC batches safe."""
    from hive_json_spark.operators.relational import merge_changelog

    base = spark.createDataFrame([(1, 10.0), (2, 20.0)], ["k", "x"])
    chg = spark.createDataFrame(
        [(1, "U", 11.0), (2, "D", None), (3, "U", 30.0)], ["k", "op", "x"]
    )
    once = merge_changelog(base, chg, "k")
    twice = merge_changelog(once, chg, "k")
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_merge_changelog_rejects_unknown_op(spark):
    """Ops outside the declared vocabulary must fail the job — silently
    treating a 'T' truncate marker as a delete would drop the matched row."""
    import pytest as _pytest

    from hive_json_spark.operators.relational import merge_changelog

    base = spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string")
    chg = spark.createDataFrame([(1, "T", "x")], "k bigint, op string, v string")
    with _pytest.raises(Exception, match="unknown op"):
        merge_changelog(base, chg, "k").collect()


def test_baseline_codecs_reject_malformed_and_unsupported():
    import numpy as np
    import pytest as _pytest

    from hive_json_spark.operators.multimodal import (
        decode_bmp,
        decode_wav,
        encode_bmp,
        encode_wav,
    )

    with _pytest.raises(ValueError, match="BM"):
        decode_bmp(b"PNGnotabmp" + b"\x00" * 60)
    with _pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"OggSnotawav" + b"\x00" * 60)
    # 8-bit BMPs and stereo WAVs are outside the baseline codec's scope
    bad_bmp = bytearray(encode_bmp(np.zeros((4, 6, 3), dtype=np.uint8)))
    bad_bmp[28] = 8  # bpp field
    with _pytest.raises(NotImplementedError):
        decode_bmp(bytes(bad_bmp))
    bad_wav = bytearray(encode_wav(np.zeros(8, dtype="<i2")))
    bad_wav[22] = 2  # channel count field
    with _pytest.raises(NotImplementedError):
        decode_wav(bytes(bad_wav))


def test_decode_media_features_unsupported_format_is_explicit(spark):
    import pytest as _pytest

    from hive_json_spark.operators.multimodal import decode_media_features

    media = spark.createDataFrame(
        [(1, b"compressed-bytes", "image", "png")],
        "media_id bigint, content binary, media_type string, format string",
    )
    with _pytest.raises(Exception, match="baseline codec|NotImplemented"):
        decode_media_features(media).collect()


def test_setsim_impls_agree_and_salt_is_lossless(spark):
    """The three candidate schemes of the exact Jaccard join — prefix
    filtering, grid-salted prefix filtering, and the deletion-neighborhood
    (FastSS) subset-hash join — must produce the IDENTICAL pair set: all
    are lossless candidate generators over the same exact verifier. Seeded
    random corpus with planted near-identical pairs, template duplicates,
    empty and single-token docs."""
    import random

    from hive_json_spark.operators.dedup import prefix_filter_jaccard_pairs

    rnd = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    doc_id = 0
    for _ in range(40):
        n = rnd.randint(1, 20)
        toks = rnd.sample(vocab, n)
        rows.append((doc_id, " ".join(toks)))
        doc_id += 1
        if rnd.random() < 0.5:  # near-duplicate: drop/swap one token
            mut = list(toks)
            if len(mut) > 2 and rnd.random() < 0.5:
                mut.pop(rnd.randrange(len(mut)))
            else:
                mut[rnd.randrange(len(mut))] = rnd.choice(vocab)
            rows.append((doc_id, " ".join(mut)))
            doc_id += 1
        if rnd.random() < 0.3:  # exact duplicate (identical-set collapse)
            rows.append((doc_id, " ".join(toks)))
            doc_id += 1
    rows.append((doc_id, ""))  # empty doc
    rows.append((doc_id + 1, "w0"))  # single token
    rows.append((doc_id + 2, "w0"))  # duplicate single token
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    for t in (0.7, 0.9):
        ref = sorted(
            map(
                tuple,
                prefix_filter_jaccard_pairs(docs, "doc_id", "text", t).collect(),
            )
        )
        assert ref, "corpus should contain qualifying pairs"
        salted = sorted(
            map(
                tuple,
                prefix_filter_jaccard_pairs(
                    docs, "doc_id", "text", t, salt_grid=4
                ).collect(),
            )
        )
        assert salted == ref
        if t >= 0.9:  # deletion neighborhoods are bounded only for high t
            deletion = sorted(
                map(
                    tuple,
                    prefix_filter_jaccard_pairs(
                        docs, "doc_id", "text", t, impl="deletion", max_tokens=21
                    ).collect(),
                )
            )
            assert deletion == ref


def test_setsim_deletion_guards(spark):
    """The deletion impl refuses parameters whose neighborhoods explode
    (plan-time) and corpora that break the static size bound (run-time)."""
    import pytest as _pytest

    from hive_json_spark.operators.dedup import prefix_filter_jaccard_pairs

    docs = spark.createDataFrame([(1, "a b c")], "doc_id bigint, text string")
    with _pytest.raises(ValueError, match="impl='prefix'"):
        prefix_filter_jaccard_pairs(docs, "doc_id", "text", 0.5, impl="deletion")

    long_doc = " ".join(f"t{i}" for i in range(40))
    docs2 = spark.createDataFrame(
        [(1, long_doc), (2, long_doc + " extra")], "doc_id bigint, text string"
    )
    with _pytest.raises(Exception, match="max_tokens"):
        prefix_filter_jaccard_pairs(
            docs2, "doc_id", "text", 0.9, impl="deletion"
        ).collect()


# --- interval-overlap join vs naive inequality join --------------------------

def test_interval_overlap_join_matches_naive(spark):
    from hive_json_spark.operators.relational import interval_overlap_join

    # deterministic pseudo-random intervals, several per key, varied widths
    n = 400
    rows = [
        (
            i,
            i % 7,                              # key
            (i * 37) % 500,                     # start
            (i * 37) % 500 + 1 + (i * 13) % 90, # end (width 1..90)
        )
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "id bigint, k bigint, s long, e long")
    a = df.select(
        F.col("id").alias("id_a"), F.col("k").alias("k_a"),
        F.col("s").alias("s_a"), F.col("e").alias("e_a"),
    )
    b = df.select(
        F.col("id").alias("id_b"), F.col("k").alias("k_b"),
        F.col("s").alias("s_b"), F.col("e").alias("e_b"),
    )
    for chunk in (16, 64, 1000):  # narrower / near-median / wider than any interval
        got = (
            interval_overlap_join(
                a, b, "s_a", "e_a", "s_b", "e_b", chunk=chunk, keys=[("k_a", "k_b")]
            )
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .collect()
        )
        got_pairs = {(r["id_a"], r["id_b"]) for r in got}
        assert len(got) == len(got_pairs), f"chunk={chunk}: duplicate pairs emitted"
        naive = {
            (ia, ib)
            for ia, ka, sa, ea in rows
            for ib, kb, sb, eb in rows
            if ia < ib and ka == kb and sa < eb and sb < ea
        }
        assert got_pairs == naive, f"chunk={chunk}"


def test_interval_overlap_join_half_open_boundary(spark):
    from hive_json_spark.operators.relational import interval_overlap_join

    # [0,10) and [10,20) touch but do NOT overlap; [0,11) and [10,20) do
    left = spark.createDataFrame([(1, 0, 10), (2, 0, 11)], "id_a bigint, s_a long, e_a long")
    right = spark.createDataFrame([(9, 10, 20)], "id_b bigint, s_b long, e_b long")
    out = interval_overlap_join(left, right, "s_a", "e_a", "s_b", "e_b", chunk=10).collect()
    assert [(r["id_a"], r["id_b"]) for r in out] == [(2, 9)]


def test_interval_overlap_join_rejects_outer_and_empty_intervals(spark):
    from hive_json_spark.operators.relational import interval_overlap_join

    left = spark.createDataFrame([(1, 5, 5)], "id_a bigint, s_a long, e_a long")
    right = spark.createDataFrame([(9, 0, 10)], "id_b bigint, s_b long, e_b long")
    # an EMPTY interval [5,5) has empty intersection with everything
    out = interval_overlap_join(left, right, "s_a", "e_a", "s_b", "e_b", chunk=10).collect()
    assert out == []
    # the chunk-explode construction is only inner-correct: refuse outer
    with pytest.raises(ValueError, match="inner"):
        interval_overlap_join(
            left, right, "s_a", "e_a", "s_b", "e_b", chunk=10, how="left"
        )


# --- sorted-neighborhood pairs vs single-sort reference ----------------------

def test_substring_dup_hash_path_matches_text_path(spark, sf_dir):
    from hive_json_spark.operators.dedup import substring_dup_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    text = {
        (r.id_a, r.id_b): r.n_shared_windows
        for r in substring_dup_pairs(docs, hash_key=False).collect()
    }
    hashed = {
        (r.id_a, r.id_b): r.n_shared_windows
        for r in substring_dup_pairs(docs, hash_key=True).collect()
    }
    assert text == hashed and text  # identical pairs, non-empty
    # max_df discards boilerplate windows: pair counts can only shrink
    capped = {
        (r.id_a, r.id_b): r.n_shared_windows
        for r in substring_dup_pairs(docs, hash_key=True, max_df=2).collect()
    }
    assert set(capped) <= set(hashed)
    assert all(capped[p] <= hashed[p] for p in capped)


def test_substring_dup_short_docs_drop(spark):
    from hive_json_spark.operators.dedup import substring_dup_pairs

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "p q r s t u v w x"), (4, "p q r s t u v w x")],
        "doc_id bigint, text string",
    )
    out = {
        (r.id_a, r.id_b): r.n_shared_windows
        for r in substring_dup_pairs(docs, k=8).collect()
    }
    # docs 1/2 are identical but have <8 tokens: no k-window, no pair;
    # docs 3/4 share two 8-token windows (positions 0 and 1 of 9 tokens)
    assert out == {(3, 4): 2}


def test_pq_adc_beats_random_and_guards_query_side(spark, sf_dir):
    """PQ-ADC sanity: codes are valid, recall@5 is far above the random
    baseline (5/499 ≈ 0.01), identical re-runs are deterministic, and
    the query-side max_queries guard refuses unbounded driver tables."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from hive_json_spark.operators.similarity import pq_index, pq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    coded, books = pq_index(emb, n_subspaces=16, n_codes=64)
    row = coded.select("pq_codes").first()
    assert len(row.pq_codes) == 16
    assert all(0 <= c < 64 for c in row.pq_codes)
    assert books.shape == (16, 64, 4)

    q = emb.filter(F.col("vec_id") < 5)
    r1 = {
        (r.query_id, r.vec_id, r.adc_score)
        for r in pq_topk(emb, q, k=5, n_subspaces=16, n_codes=64).collect()
    }
    r2 = {
        (r.query_id, r.vec_id, r.adc_score)
        for r in pq_topk(emb, q, k=5, n_subspaces=16, n_codes=64).collect()
    }
    assert r1 == r2 and len(r1) == 25

    import __spark_entry__ as entry_mod

    verdicts = entry_mod.queries()["q_pq_recall"](spark, sf_dir).collect()
    assert len(verdicts) == 1
    v = verdicts[0]
    assert v.method == "pq_adc16x64" and v.n_queries == 5 and v.n_truth == 25
    assert v.floor_met  # mean recall >= 0.30 ≫ random 0.01

    with _pytest.raises(ValueError, match="max_queries"):
        pq_topk(emb, emb, k=5, max_queries=3)

    # empty QUERY side with a non-empty corpus: must return an empty
    # frame, not ValueError from np.concatenate([]) inside the kernel
    empty_q = emb.filter(F.col("vec_id") < 0)
    assert pq_topk(emb, empty_q, k=5, n_subspaces=16, n_codes=64).count() == 0

    # dim not divisible by n_subspaces: refuse loudly instead of silently
    # dropping the trailing dims from the ADC score
    with _pytest.raises(ValueError, match="divisible"):
        pq_index(emb, n_subspaces=7)


def test_dedup_method_eval_invariants(spark, sf_dir):
    """MinHash-LSH verifies candidates with the SAME exact shingle
    Jaccard the harness uses as truth, so its precision is exactly 1.0
    (a verified pair can never be a false positive); every method must
    find a non-empty pair set on the planted corpus; and the graded
    acceptance output must report every floor met."""
    import __spark_entry__ as entry_mod
    from hive_json_spark.queries_pipeline import _dedup_method_stats

    raw = {
        name: (n_pairs, n_truth, n_hit)
        for name, n_pairs, n_truth, n_hit in _dedup_method_stats(spark, sf_dir)
    }
    assert set(raw) == {"minhash_lsh", "simhash", "substring_w8", "winnow_k5w4"}
    mh_pairs, mh_truth, mh_hit = raw["minhash_lsh"]
    assert mh_hit == mh_pairs  # precision exactly 1.0
    assert all(n_pairs > 0 for n_pairs, _, _ in raw.values())
    assert all(0 <= n_hit <= n_pairs for n_pairs, _, n_hit in raw.values())

    graded = {
        r.method: r
        for r in entry_mod.queries()["q_dedup_method_eval"](
            spark, sf_dir
        ).collect()
    }
    assert set(graded) == set(raw)
    assert all(r.floors_met for r in graded.values())
    assert all(r.n_truth == raw[m][1] for m, r in graded.items())


def test_winnowing_guarantee_and_sparsification(spark):
    from hive_json_spark.operators.dedup import (
        winnow_dup_pairs,
        winnow_fingerprints,
    )

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens = w+k-1
    docs = spark.createDataFrame(
        [
            (1, f"{shared} one two three four five six"),
            (2, f"nine ten eleven twelve {shared} thirteen"),
            (3, "completely different words with no common run at all here"),
        ],
        "doc_id bigint, text string",
    )
    pairs = {
        (r.id_a, r.id_b) for r in winnow_dup_pairs(docs, k=5, w=4).collect()
    }
    # the winnowing guarantee: a shared verbatim run of >= w+k-1 tokens
    # MUST produce a shared fingerprint; doc 3 shares nothing
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)
    # sparsification: fingerprints per doc << full gram count
    fps = winnow_fingerprints(docs, k=5, w=4).groupBy("doc_id").count().collect()
    n_grams = {r.doc_id: len(r.text.split()) - 4 for r in docs.collect()}
    for r in fps:
        assert r["count"] < n_grams[r.doc_id]


def test_sorted_neighborhood_matches_single_sort(spark):
    from hive_json_spark.operators.dedup import sorted_neighborhood_pairs

    # keys engineered so blocks are very uneven (many 'a', few 'z'), with
    # duplicates to exercise the id tiebreak
    words = ["apple", "apricot", "avocado", "banana", "blueberry", "cherry", "zucchini"]
    rows = [(i, words[(i * i) % len(words)] + str(i % 3)) for i in range(60)]
    df = spark.createDataFrame(rows, "rid bigint, name string")
    for w in (1, 4, 9):
        got = {
            (r["id_a"], r["id_b"], r["rank_gap"])
            for r in sorted_neighborhood_pairs(df, "name", "rid", window=w).collect()
        }
        ordered = sorted(rows, key=lambda r: (r[1], r[0]))
        want = {
            (ordered[i][0], ordered[j][0], j - i)
            for i in range(len(ordered))
            for j in range(i + 1, min(i + w + 1, len(ordered)))
        }
        assert got == want, f"window={w}"


def test_sorted_neighborhood_high_cardinality_block(spark):
    """A maximal-cardinality block expression (the full key — every row
    its own block) must still produce the exact single-sort pair set:
    the prefix offsets are a distributed cumulative sum over the count
    frame, never a driver fold, so block cardinality is a plan-shape
    detail rather than a driver-memory bound (the r4-escalated collect
    shape, removed)."""
    from pyspark.sql import functions as F

    from hive_json_spark.operators.dedup import sorted_neighborhood_pairs

    rows = [(i, f"key{i % 37:02d}x{i:03d}") for i in range(120)]
    df = spark.createDataFrame(rows, "rid bigint, name string")
    got = {
        (r["id_a"], r["id_b"], r["rank_gap"])
        for r in sorted_neighborhood_pairs(
            df, "name", "rid", window=4, block=F.col("name")
        ).collect()
    }
    ordered = sorted(rows, key=lambda r: (r[1], r[0]))
    want = {
        (ordered[i][0], ordered[j][0], j - i)
        for i in range(len(ordered))
        for j in range(i + 1, min(i + 5, len(ordered)))
    }
    assert got == want


# --- Shapley attribution properties ------------------------------------------

def test_shapley_efficiency_property(spark, sf_dir):
    """Σφ_c must equal v(full coalition) − v(∅): total conversions with any
    touched channel minus conversions with none (the efficiency axiom) —
    an internal-consistency check independent of the DuckDB oracle."""
    from hive_json_spark.registry import QUERIES

    rows = QUERIES["q_shapley_attribution"](spark, sf_dir).collect()
    assert {r["channel"] for r in rows} == {"click", "error", "signup", "view"}
    total_scaled = sum(r["phi_scaled"] for r in rows)

    from pyspark.sql import functions as F
    from hive_json_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("conv"),
        F.max(F.when(F.col("event_type") != "purchase", 1).otherwise(0)).alias("touched"),
    )
    v_full = per_user.filter((F.col("conv") == 1)).count()  # any mask ⊆ full set
    v_empty = per_user.filter(
        (F.col("conv") == 1) & (F.col("touched") == 0)
    ).count()
    assert total_scaled == 24 * (v_full - v_empty)


# --- median2_from_counts vs expanded-sort reference --------------------------

def test_median2_from_counts_matches_expansion(spark):
    """Random (group, value, count) frames — including single-row groups,
    even/odd totals, duplicate and negative values, counts spanning
    buckets — must reproduce lo+hi of the expanded sorted multiset for
    several bucket widths (incl. width 1 and wider-than-domain)."""
    import random

    from hive_json_spark.operators.relational import median2_from_counts

    rng = random.Random(1234)
    for trial in range(5):
        rows = []
        expect = {}
        for g in range(6):
            n_vals = rng.randint(1, 12)
            vals = sorted(rng.sample(range(-500, 500), n_vals))
            counts = [rng.randint(1, 4) for _ in vals]
            rows += [(f"g{g}", v, c) for v, c in zip(vals, counts)]
            expanded = [v for v, c in zip(vals, counts) for _ in range(c)]
            n = len(expanded)
            expect[f"g{g}"] = expanded[(n + 1) // 2 - 1] + expanded[n // 2]
        df = spark.createDataFrame(rows, "grp string, v long, cnt long")
        for bw in (1, 7, 100, 10_000):
            got = {
                r["grp"]: r["med2"]
                for r in median2_from_counts(df, "grp", "v", "cnt", bucket_width=bw).collect()
            }
            assert got == expect, f"trial {trial} bw {bw}"


# --- nearest as-of join vs brute-force reference -----------------------------

def test_asof_nearest_matches_bruteforce(spark):
    import random

    from hive_json_spark.operators.relational import asof_nearest_join

    rng = random.Random(99)
    left_rows, right_rows = [], []
    for k in range(5):  # key 4 has no right rows at all
        for i in range(12):
            left_rows.append((k * 100 + i, k, rng.randint(0, 1000)))
        if k < 4:
            for j in range(rng.randint(1, 6)):
                right_rows.append((k, rng.randint(0, 1000), float(k * 10 + j)))
    # plant exact-tie and equidistant cases on key 0
    left_rows.append((9001, 0, 500))
    right_rows += [(0, 500, 111.0), (0, 490, 222.0), (0, 510, 333.0)]
    left = spark.createDataFrame(left_rows, "lid bigint, k bigint, t long").select(
        "lid", "k", F.timestamp_seconds("t").alias("lts")
    )
    right = (
        spark.createDataFrame(right_rows, "k bigint, t long, val double")
        .groupBy("k", "t")
        .agg(F.max("val").alias("val"))
        .select("k", F.timestamp_seconds("t").alias("rts"), "val")
    )
    got = {
        r["lid"]: (r["_near_ts"], r["val"])
        for r in asof_nearest_join(left, right, ["k"], "lts", "rts", ["val"]).collect()
    }
    rmap = {}
    for r in right.collect():
        rmap.setdefault(r["k"], []).append((r["rts"], r["val"]))
    for l in left.collect():
        cands = rmap.get(l["k"], [])
        if not cands:
            assert got[l["lid"]] == (None, None), l
            continue
        best = min(cands, key=lambda c: (abs((c[0] - l["lts"]).total_seconds()), c[0]))
        assert got[l["lid"]] == best, (l, best, got[l["lid"]])


# --- pretraining quality filters (r5) ----------------------------------------

def test_repetition_filter_hand_computed(spark, sf_dir):
    """Fractions match a hand count on constructed docs: a pathologically
    repetitive doc fails, a diverse one passes."""
    from hive_json_spark.registry import QUERIES as QQ
    import hive_json_spark.sources as src

    rows = {r.doc_id: r for r in QQ["q_repetition_filter"](spark, sf_dir).collect()}
    docs = {r.doc_id: r.text for r in src.load_table(spark, sf_dir, "documents").collect()}
    import collections

    for did, r in list(rows.items())[:40]:
        tk = docs[did].split()
        g2 = collections.Counter(" ".join(tk[i:i + 2]) for i in range(len(tk) - 1))
        g3 = collections.Counter(" ".join(tk[i:i + 3]) for i in range(len(tk) - 2))
        assert r.n_2grams == sum(g2.values())
        assert r.top_2gram_frac == max(g2.values()) / sum(g2.values())
        dup = sum(c for c in g3.values() if c >= 2)
        assert r.dup_3gram_frac == dup / sum(g3.values())
        assert r.keep == (r.top_2gram_frac <= 0.20 and r.dup_3gram_frac <= 0.15)


def test_pii_scan_planted_counts(spark, sf_dir):
    """Exactly the planted PII is found: docs ≡0 (mod 3) carry one email,
    ≡1 carry one phone + one IP, ≡2 are clean; redaction shortens
    exactly the found spans."""
    from hive_json_spark.registry import QUERIES as QQ

    rows = QQ["q_pii_scan"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        mod = r.doc_id % 3
        assert (r.n_emails, r.n_phones, r.n_ips) == {
            0: (1, 0, 0), 1: (0, 1, 1), 2: (0, 0, 0)
        }[mod], r.doc_id


def test_gopher_rules_hand_computed(spark, sf_dir):
    from hive_json_spark.registry import QUERIES as QQ
    import hive_json_spark.sources as src

    rows = {r.doc_id: r for r in QQ["q_gopher_rules"](spark, sf_dir).collect()}
    docs = {r.doc_id: r.text for r in src.load_table(spark, sf_dir, "documents").collect()}
    stops = {"the", "a", "of", "and"}
    n_fail = 0
    for did, r in rows.items():
        tk = docs[did].split()
        assert r.n_words == len(tk)
        assert r.mean_word_len == sum(map(len, tk)) / len(tk)
        assert r.stopword_frac == sum(t in stops for t in tk) / len(tk)
        assert r.keep == (r.words_ok and r.mwl_ok and r.stop_ok)
        n_fail += not r.keep
    # the rules must discriminate on this corpus (some docs < 20 words)
    assert 0 < n_fail < len(rows)


# --- edit_distance_pairs (FastSS char-deletion neighborhoods, r5) -------------

def test_edit_distance_pairs_matches_bruteforce(spark):
    """FastSS candidates + thresholded verify == the all-pairs predicate,
    on strings exercising substitution, insertion, deletion, transposition
    (lev 2), and blocks."""
    import itertools

    rows = [
        (1, "martha", "x"), (2, "marhta", "x"),   # transposition: lev 2
        (3, "martha", "y"),                        # same name, other block
        (4, "marta", "x"),                         # deletion: lev 1 of martha
        (5, "maratha", "x"),                       # insertion: lev 1
        (6, "smith", "x"), (7, "smyth", "x"),      # substitution: lev 1
        (8, "smithe", "x"),                        # insertion
        (9, "completely", "x"), (10, "different", "x"),
        (11, "", "x"), (12, "ab", "x"),            # empty vs short: lev 2
        (13, "", "x"),                             # empty pair: lev 0
    ]
    df = spark.createDataFrame(rows, "id int, name string, blk string")
    from hive_json_spark.operators.dedup import edit_distance_pairs

    got = {
        (r.id_a, r.id_b): r.lev
        for r in edit_distance_pairs(
            df, "id", "name", max_dist=2, block_cols=["blk"]
        ).collect()
    }

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a):
            cur = [i + 1]
            for j, cb in enumerate(b):
                cur.append(min(prev[j + 1] + 1, cur[j] + 1, prev[j] + (ca != cb)))
            prev = cur
        return prev[-1]

    want = {}
    for (i1, n1, b1), (i2, n2, b2) in itertools.combinations(rows, 2):
        if b1 == b2 and lev(n1, n2) <= 2:
            want[(min(i1, i2), max(i1, i2))] = lev(n1, n2)
    assert got == want


def test_edit_distance_pairs_max_len_guard(spark):
    import pytest
    from hive_json_spark.operators.dedup import edit_distance_pairs

    df = spark.createDataFrame([(1, "a" * 50), (2, "a" * 50)], "id int, name string")
    with pytest.raises(Exception) as ei:
        edit_distance_pairs(df, "id", "name", max_dist=2, max_len=40).collect()
    assert "max_len" in str(ei.value)
    with pytest.raises(ValueError):
        edit_distance_pairs(df, "id", "name", max_dist=3)


# --- grouped_value_ranks / grouped_exact_percentiles (r5) ---------------------

def _rank_testframe(spark):
    # deterministic values with heavy ties, negatives, and uneven groups
    rows = [
        (g, float(((i * 7919 + ord(g) * 131) % 23) - 5) * 0.5)
        for g in ("A", "B", "C")
        for i in range({"A": 217, "B": 31, "C": 1000}[g])
    ]
    return spark.createDataFrame(rows, "grp string, v double")


def test_grouped_value_ranks_matches_window(spark):
    """c / cum_before / n from the two-level decomposition equal the
    per-group window definitions on every (group, value)."""
    from pyspark.sql import Window, functions as F
    from hive_json_spark.operators.relational import grouped_value_ranks

    df = _rank_testframe(spark)
    got = {
        (r.grp, r.v): (r.c, r.cum_before, r.n)
        for r in grouped_value_ranks(df, "grp", "v", 2.0).collect()
    }
    want_rows = (
        df.groupBy("grp", "v")
        .agg(F.count("*").alias("c"))
        .select(
            "grp",
            "v",
            "c",
            (
                F.coalesce(
                    F.sum("c").over(
                        Window.partitionBy("grp")
                        .orderBy("v")
                        .rowsBetween(Window.unboundedPreceding, -1)
                    ),
                    F.lit(0),
                )
            ).alias("cum_before"),
            F.sum("c").over(Window.partitionBy("grp")).alias("n"),
        )
        .collect()
    )
    want = {(r.grp, r.v): (r.c, r.cum_before, r.n) for r in want_rows}
    assert got == want


def test_grouped_value_ranks_tie_safe_on_non_unique_input(spark):
    """count_col with a frame that is NOT (group, value)-unique: the
    RANGE-frame prefix sum must still report correct c / cum_before on
    every row (tied rows never counted as strictly smaller) — the rows
    are duplicated, not corrupted."""
    from hive_json_spark.operators.relational import grouped_value_ranks

    # value 5.0 appears as TWO rows (counts 2 and 3) in group A
    rows = [("A", 1.0, 4), ("A", 5.0, 2), ("A", 5.0, 3), ("A", 9.0, 1)]
    df = spark.createDataFrame(rows, "grp string, v double, cnt bigint")
    got = sorted(
        (r.grp, r.v, r.c, r.cum_before, r.n)
        for r in grouped_value_ranks(df, "grp", "v", 2.0, count_col="cnt").collect()
    )
    # c at v=5.0 is the TIED TOTAL 5 on both rows; cum_before counts only
    # the strictly-smaller v=1.0 rows (4); n is the group total 10
    assert got == [
        ("A", 1.0, 4, 0, 10),
        ("A", 5.0, 5, 4, 10),
        ("A", 5.0, 5, 4, 10),
        ("A", 9.0, 1, 9, 10),
    ]


def test_grouped_exact_percentiles_matches_percentile_agg(spark):
    """Distributed interpolated percentiles equal Spark's exact
    (buffering) percentile aggregate for every group and p, including
    tie-heavy and single-row groups."""
    from pyspark.sql import functions as F
    from hive_json_spark.operators.relational import grouped_exact_percentiles

    df = _rank_testframe(spark).union(
        spark.createDataFrame([("D", 42.0)], "grp string, v double")
    )
    ps = [0.0, 0.25, 0.5, 0.9, 1.0]
    got = {
        (r.grp, r.p): r.pct
        for r in grouped_exact_percentiles(df, "grp", "v", ps, 2.0).collect()
    }
    want_rows = df.groupBy("grp").agg(
        F.expr(f"percentile(v, array({','.join(map(str, ps))}))").alias("pcts")
    ).collect()
    for r in want_rows:
        for p, w in zip(ps, r.pcts):
            assert got[(r.grp, p)] == w, (r.grp, p, got[(r.grp, p)], w)


def test_setsim_deletion_matches_bruteforce_across_thresholds(spark):
    """Ground-truth pin for the r9 asymmetric L/S deletion budgets
    (operators/dedup._deletion_candidates): for random corpora and several
    thresholds — including values where the i_min = ceil(t(|x|+|y|)/(1+t))
    bounds land EXACTLY on integers (the ceil-boundary cases the 1e-9
    slack protects) — the deletion impl must equal a pure-Python
    brute-force over all pairs, pair-for-pair and value-for-value. A
    missing pair here means a budget was computed one too small; the
    prefix-equality test alone can't distinguish 'both impls wrong the
    same way' from correct."""
    import math
    import random

    from hive_json_spark.operators.dedup import prefix_filter_jaccard_pairs

    def brute(rows, t):
        toks = {i: frozenset(s.split()) for i, s in rows if s.split()}
        out = []
        ids = sorted(toks)
        for a in range(len(ids)):
            for b in range(a + 1, len(ids)):
                x, y = toks[ids[a]], toks[ids[b]]
                i = len(x & y)
                u = len(x | y)
                # float compare, NOT rational: the engine's verifier and
                # the DuckDB oracle both evaluate i >= t*u in IEEE double,
                # so the ground truth must use identical semantics
                if u and i >= t * u:
                    j = math.floor((2 * i * 10_000 + u) / (2 * u)) / 10_000.0
                    out.append((ids[a], ids[b], j))
        return sorted(out)

    for seed, t, max_tok in ((11, 0.8, 12), (11, 0.9, 20), (23, 0.95, 20), (23, 1.0, 12)):
        rnd = random.Random(seed)
        vocab = [f"w{i}" for i in range(18)]
        rows, did = [], 0
        for _ in range(30):
            n = rnd.randint(1, min(max_tok, 12))
            toks = rnd.sample(vocab, n)
            rows.append((did, " ".join(toks))); did += 1
            r = rnd.random()
            if r < 0.4:  # near-dup: drop one token (hits exact i_min edges)
                mut = list(toks)
                if len(mut) > 1:
                    mut.pop(rnd.randrange(len(mut)))
                rows.append((did, " ".join(mut))); did += 1
            elif r < 0.6:  # exact duplicate (collapse + intra path)
                rows.append((did, " ".join(toks))); did += 1
        docs = spark.createDataFrame(rows, "doc_id bigint, text string")
        got = sorted(
            map(
                tuple,
                prefix_filter_jaccard_pairs(
                    docs, "doc_id", "text", t, impl="deletion", max_tokens=max_tok
                ).collect(),
            )
        )
        want = brute(rows, t)
        assert got == want, (
            f"seed={seed} t={t}: deletion impl {len(got)} pairs vs "
            f"brute-force {len(want)}; diff={set(want) ^ set(got)}"
        )


def test_blocked_gemm_kernels_match_oneshot_reference(spark):
    """The r10 blocked/preallocated GEMM kernels must be bit-identical to
    the one-shot batch×corpus form they replaced: same rounded scores,
    same argmax tie order (first max = smallest id), same pair set.

    Runs each kernel twice: once at the production block sizes (the
    default dispatch) and once with SHRUNK blocks (row_chunk=64,
    col_block=128 on an 1100-row corpus) so that full column blocks, the
    column tail, row chunking, the cross-block strictly-greater argmax
    merge, and the S_full/S_tail buffer reuse are all actually exercised
    (r10's defaults made the corpus a single tail block, ADVICE r10)."""
    import numpy as np

    from hive_json_spark.operators.dedup import embedding_near_dup_pairs
    from hive_json_spark.operators.similarity import brute_force_top1_gemm

    rng = np.random.default_rng(7)
    n, dim = 1100, 16  # > shrunk row_chunk; 1100 = 8*128 + 76 tail
    M = rng.standard_normal((n, dim))
    # plant exact duplicates so rounded-score ties are actually exercised;
    # ids are a random permutation, so the duplicate group's sorted
    # positions scatter across (shrunk) column blocks and the tie must
    # survive the cross-block merge
    M[50] = M[40]
    M[51] = M[40]
    M[700] = M[40]
    M[900] = M[40]
    ids = rng.permutation(n).astype("int64")  # unsorted ids: searchsorted path
    emb = spark.createDataFrame(
        [(int(ids[i]), [float(x) for x in M[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    ).repartition(7)

    # one-shot reference, computed in numpy exactly as the old kernels did
    order = np.argsort(ids)
    bids, bm = ids[order], M[order].astype(np.float64)
    bm /= np.maximum(np.linalg.norm(bm, axis=1, keepdims=True), 1e-300)
    S = np.round(bm @ bm.T, 6)
    np.fill_diagonal(S, -np.inf)
    j = np.argmax(S, axis=1)
    ref_top1 = {
        int(bids[i]): (int(bids[j[i]]), float(S[i, j[i]])) for i in range(n)
    }
    thr = 0.7
    iu, ju = np.nonzero((S >= thr) & (bids[:, None] < bids[None, :]))
    ref_pairs = {
        (int(bids[a]), int(bids[b]), float(S[a, b])) for a, b in zip(iu, ju)
    }

    for blocks in ({}, {"row_chunk": 64, "col_block": 128}):
        got_top1 = {
            r["query_id"]: (r["vec_id"], r["cos_sim"])
            for r in brute_force_top1_gemm(emb, **blocks).collect()
        }
        assert got_top1 == ref_top1, f"top1 mismatch at {blocks or 'defaults'}"

        got_pairs = {
            (r["id_a"], r["id_b"], r["cos_sim"])
            for r in embedding_near_dup_pairs(emb, threshold=thr, **blocks).collect()
        }
        assert got_pairs == ref_pairs, f"pairs mismatch at {blocks or 'defaults'}"


def test_gemm_top1_excludes_every_duplicate_id_row(spark):
    """A corpus carrying DUPLICATE vec_ids must never return the query's
    own duplicate row as its top-1 (ADVICE r10: the single-position
    searchsorted mask excluded only the first equal-id corpus entry; the
    pre-r10 elementwise mask excluded them all). Two rows share id 5 with
    identical vectors; with only orthogonal other vectors, a buggy mask
    would return (5 -> 5, cos 1.0)."""
    import numpy as np

    from hive_json_spark.operators.similarity import brute_force_top1_gemm

    dim = 8
    base = np.eye(dim)
    rows = [
        (5, [float(x) for x in base[0]]),
        (5, [float(x) for x in base[0]]),  # duplicate id, identical vector
        (1, [float(x) for x in base[1]]),
        (2, [float(x) for x in base[0] * 0.9 + base[2] * 0.435889894354]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # tiny col_block so the duplicate run can straddle a block boundary
    got = {
        r["query_id"]: (r["vec_id"], r["cos_sim"])
        for r in brute_force_top1_gemm(emb, col_block=2).collect()
    }
    # id 5 appears twice -> two result rows keyed 5 collapse in the dict,
    # but BOTH must point at a non-5 neighbor; assert via full collect
    all_rows = brute_force_top1_gemm(emb, col_block=2).collect()
    for r in all_rows:
        if r["query_id"] == 5:
            assert r["vec_id"] != 5, f"self-duplicate returned: {r}"
    assert got[5][0] == 2  # the 0.9-aligned vector, not the dup of itself


def test_observation_fires_on_local_checkpoint(spark):
    """_set_similarity_pairs reads its dispatch probe and member-map count
    from Observations attached to its eager localCheckpoints (r11 — zero
    extra jobs vs the old .first()/.count() probes). This pins the Spark
    behavior those reads rely on: if an upgrade stopped CollectMetrics
    firing for checkpoint actions, obs.get would block forever inside the
    similarity queries — fail here with a timeout instead."""
    import threading

    from pyspark.sql import Observation

    obs = Observation()
    df = spark.range(50).observe(obs, F.count(F.lit(1)).alias("n"))
    df.localCheckpoint()
    got = {}
    t = threading.Thread(target=lambda: got.update(v=obs.get), daemon=True)
    t.start()
    t.join(timeout=60)
    assert got.get("v") == {"n": 50}
