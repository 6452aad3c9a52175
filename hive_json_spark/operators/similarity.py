"""Similarity search over embedding columns (``array<float>``).

- **Brute force** is the correctness baseline: queries broadcast against
  the corpus, cosine in double precision JVM-side, per-query top-k via a
  window rank. Linear scan, embarrassingly parallel — at 100 TB this is
  the fallback, not the default.
- **Random-hyperplane LSH** is the scale path: H fixed hyperplanes → an
  H-bit bucket per vector; queries only score their own bucket (plus
  multi-probe neighbors). Planes are seeded constants compiled into the
  plan — every executor derives identical buckets with no fit step.
- **IVF (inverted file)**: 16 centroids from a deterministic sample,
  vectors assigned to nearest centroid (the inverted list), queries probe
  the 4 nearest lists. The centroid table is tiny → broadcast; the
  corpus shuffles once at build, never at query time.
"""

from __future__ import annotations

from typing import Optional

import numpy as np

from hive_json_spark.operators.util import ensure_parallelism

from pyspark.sql import DataFrame, Window, functions as F

from hive_json_spark.functions.vectors import cosine_similarity, dot_product, l2_norm


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k per query. Returns (query_id, vec_id, cos_sim, rank).

    Rank key is (rounded sim desc, id) — a total order, so results are
    stable across partitionings and engines.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    scored = (
        ensure_parallelism(corpus.select(F.col(id_col), F.col(vec_col)))
        .join(F.broadcast(q), F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            F.round(cosine_similarity(F.col(vec_col), F.col("q_vec")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def brute_force_top1_gemm(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_corpus_rows: int = 1_000_000,
    row_chunk: int = 1024,
    col_block: int = 4096,
) -> DataFrame:
    """Exact top-1 cosine neighbor for EVERY corpus vector via broadcast
    GEMM — the all-to-all variant of brute_force_topk. The expression
    path scores |corpus|² pairs through interpreted higher-order
    functions; this kernel does the identical math as one float64 matrix
    product per Arrow batch (measured 11.5 s → ~1 s at 2000×64, sf0.1).

    Semantics match the expression path exactly: similarity rounded to 6
    before the argmax, ties broken toward the smallest id (the broadcast
    matrix is sorted by id and np.argmax takes the first maximum).
    Refuses corpora above ``max_corpus_rows`` (the broadcast bound) —
    past that, mutual-linkage pipelines swap in the LSH/IVF retrievers.

    The score matrix is computed in fixed-size blocks written into
    PREALLOCATED buffers (r10): the one-shot ``V @ bm.T`` form
    materializes batch×corpus transients (score + rounded copy + self
    mask ≈ 350 MB/worker at 20 k vectors), and numpy frees buffers that
    size straight back to the OS, so every execution re-faults the pages
    — measured 31 s median per task for a 1.6-GFLOP product when 32
    workers fault concurrently on this host, vs 0.27 s solo. Blocked
    buffers (≤ ~33 MB, reused across blocks) with in-place rounding and
    an O(batch) searchsorted self-exclusion cut the cold 20 k×20 k run
    from ~41 s to ~7 s wall and bound per-worker transient memory
    regardless of corpus size. The block argmax keeps the exact tie
    order: within a block np.argmax takes the first maximum, and the
    cross-block merge replaces only on STRICTLY greater, so the earliest
    (= smallest id) global maximum always wins — pinned bit-identical
    against the one-shot form in tests.

    Returns (query_id, vec_id, cos_sim).
    """
    probe = corpus.select(id_col).limit(max_corpus_rows + 1).count()
    if probe > max_corpus_rows:
        raise ValueError(
            f"brute_force_top1_gemm: corpus exceeds max_corpus_rows="
            f"{max_corpus_rows}; use the LSH/IVF retrievers for the "
            f"candidate set and verify exactly on candidates"
        )
    rows = corpus.select(id_col, vec_col).collect()
    spark = corpus.sparkSession
    if len(rows) < 2:
        return spark.createDataFrame(
            [], f"query_id bigint, {id_col} bigint, cos_sim double"
        )
    order = np.argsort(np.fromiter((r[0] for r in rows), dtype=np.int64))
    ids_all = np.fromiter((r[0] for r in rows), dtype=np.int64)[order]
    M = np.array([rows[i][1] for i in order], dtype=np.float64)
    M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-300)
    bcast = spark.sparkContext.broadcast((ids_all, M))

    import pandas as pd

    def kernel(batches):
        bids, bm = bcast.value
        n_corpus = bm.shape[0]
        S_full = np.empty((0, 0))  # reused full-block score buffer
        S_tail = np.empty((0, 0))  # reused tail-block buffer
        for pdf in batches:
            if not len(pdf):
                continue
            ida_all = pdf[id_col].to_numpy(dtype=np.int64)
            V_all = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            V_all /= np.maximum(
                np.linalg.norm(V_all, axis=1, keepdims=True), 1e-300
            )
            for r0 in range(0, len(V_all), row_chunk):
                V = V_all[r0 : r0 + row_chunk]
                ida = ida_all[r0 : r0 + row_chunk]
                nb = len(V)
                # self-exclusion positions: bids is sorted ascending, so
                # every corpus row with the query's own id lives in the
                # contiguous run [pos_l, pos_r) — mask the WHOLE run, not
                # just its first entry, so a corpus carrying duplicate ids
                # can never return the query's own duplicate as top-1
                # (matches the old elementwise ida == bids mask)
                pos_l = np.searchsorted(bids, ida, side="left")
                pos_r = np.searchsorted(bids, ida, side="right")
                best_v = np.full(nb, -np.inf)
                best_j = np.zeros(nb, dtype=np.int64)
                rows_ix = np.arange(nb)
                for c0 in range(0, n_corpus, col_block):
                    c1 = min(c0 + col_block, n_corpus)
                    if c1 - c0 == col_block:
                        if S_full.shape != (nb, col_block):
                            S_full = np.empty((nb, col_block))
                        S = S_full
                    else:
                        if S_tail.shape != (nb, c1 - c0):
                            S_tail = np.empty((nb, c1 - c0))
                        S = S_tail
                    np.dot(V, bm[c0:c1].T, out=S)
                    np.round(S, 6, out=S)
                    lo = np.maximum(pos_l, c0)
                    hi = np.minimum(pos_r, c1)
                    one = hi - lo == 1  # the unique-id common case
                    S[np.where(one)[0], lo[one] - c0] = -np.inf
                    for i in np.where(hi - lo > 1)[0]:  # duplicate ids
                        S[i, lo[i] - c0 : hi[i] - c0] = -np.inf
                    j = np.argmax(S, axis=1)  # first max = smallest id
                    v = S[rows_ix, j]
                    upd = v > best_v  # strict: earlier block keeps ties
                    best_j[upd] = j[upd] + c0
                    best_v[upd] = v[upd]
                yield pd.DataFrame(
                    {
                        "query_id": ida,
                        id_col: bids[best_j],
                        "cos_sim": best_v,
                    }
                )

    return (
        ensure_parallelism(corpus)
        .select(id_col, vec_col)
        .mapInPandas(kernel, f"query_id bigint, {id_col} bigint, cos_sim double")
    )


def pq_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_subspaces: int = 8,
    n_codes: int = 16,
):
    """Product quantization: split the (normalized) vector into
    ``n_subspaces`` contiguous sub-vectors and learn a ``n_codes``-entry
    k-means codebook per subspace (5 Lloyd iterations, seed 42) on a
    deterministic 256-row driver-side sample (the IVF training pattern —
    train tiny, assign distributed). Each vector compresses to
    ``n_subspaces`` uint8 codes: 64 float32 dims → 8 bytes, the 32×
    compression that makes billion-vector ANN memory feasible (Jégou,
    Douze & Schmid, TPAMI 2011).

    Returns (codes_df with an added ``pq_codes: array<int>`` column,
    codebooks ndarray [n_subspaces, n_codes, sub_dim]).
    """
    sample_rows = corpus.select(vec_col).orderBy(id_col).limit(256).collect()
    if not sample_rows:
        empty = corpus.withColumn("pq_codes", F.array().cast("array<int>"))
        return empty, np.zeros((0, 0, 0), dtype=np.float64)
    X = np.array([r[0] for r in sample_rows], dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    dim = X.shape[1]
    if dim % n_subspaces:
        raise ValueError(
            f"pq_index: dim={dim} is not divisible by n_subspaces="
            f"{n_subspaces}; trailing dims would be silently dropped from "
            f"the ADC score — pick n_subspaces dividing the dimension"
        )
    sub = dim // n_subspaces
    rng = np.random.RandomState(42)
    books = np.zeros((n_subspaces, n_codes, sub), dtype=np.float64)
    for s in range(n_subspaces):
        Xs = X[:, s * sub:(s + 1) * sub]
        k = min(n_codes, len(Xs))
        cents = Xs[rng.choice(len(Xs), size=k, replace=False)]
        for _ in range(5):
            d2 = ((Xs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for c in range(k):
                members = Xs[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books[s, :k] = cents

    bcast = corpus.sparkSession.sparkContext.broadcast(books)

    from pyspark.sql import types as T

    import pandas as pd

    out_schema = T.StructType(
        list(corpus.schema.fields)
        + [T.StructField("pq_codes", T.ArrayType(T.IntegerType()), False)]
    )

    def assign_kernel(batches):
        B = bcast.value
        ns, nc, sd = B.shape
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            V = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
            codes = np.empty((len(V), ns), dtype=np.int32)
            for s in range(ns):
                Vs = V[:, s * sd:(s + 1) * sd]
                d2 = ((Vs[:, None, :] - B[s][None, :, :]) ** 2).sum(axis=2)
                codes[:, s] = np.argmin(d2, axis=1)
            yield pdf.assign(pq_codes=[list(map(int, c)) for c in codes])

    coded = ensure_parallelism(corpus).mapInPandas(assign_kernel, out_schema)
    return coded, books


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_subspaces: int = 8,
    n_codes: int = 16,
    max_queries: int = 10_000,
) -> DataFrame:
    """PQ approximate top-k by asymmetric distance computation (ADC):
    each query builds an ``n_subspaces × n_codes`` inner-product table
    against the codebooks (driver-sized math), broadcast to the coded
    corpus, and every corpus vector scores as ``Σ_s table[s, code_s]`` —
    a table-lookup sum over 8 small ints instead of a 64-dim float dot.
    The compressed scan reads 8 bytes/vector: the memory-bandwidth shape
    that lets one executor scan 10⁹ codes/s at 100 TB scale.

    Approximation error comes only from quantization (recall measured in
    q_pq_recall); ranking is (rounded score desc, id) — total order.
    The per-query ADC tables are driver-built and broadcast (ns×nc
    doubles each — 1 KiB/query), so the query side is explicitly bounded
    by ``max_queries`` (the ivf_topk lesson: never an unbounded driver
    materialization); a table-sized query workload probe-assigns
    distributed instead. Returns (query_id, vec_id, adc_score, rank).
    """
    # collect the (bounded) query side FIRST: an empty query workload
    # short-circuits before pq_index samples the corpus, trains all
    # codebooks, runs the distributed assignment and broadcasts the
    # books — all of which would be wasted work (r4 advisory)
    q_rows = queries.select(id_col, vec_col).limit(max_queries + 1).collect()
    if not q_rows:
        return corpus.sparkSession.createDataFrame(
            [], f"query_id bigint, {id_col} bigint, adc_score double, rank bigint"
        )
    if len(q_rows) > max_queries:
        raise ValueError(
            f"pq_topk: query side exceeds max_queries={max_queries}; "
            f"broadcast ADC tables are per-query — batch the queries or "
            f"use the distributed probe-assignment pattern (ivf_topk)"
        )
    coded, books = pq_index(corpus, id_col, vec_col, n_subspaces, n_codes)
    if books.size == 0:
        return corpus.sparkSession.createDataFrame(
            [], f"query_id bigint, {id_col} bigint, adc_score double, rank bigint"
        )
    ns, nc, sd = books.shape
    tables = {}
    for r in q_rows:
        qv = np.asarray(r[1], dtype=np.float64)
        qv = qv / max(np.linalg.norm(qv), 1e-12)
        tables[int(r[0])] = np.stack(
            [books[s] @ qv[s * sd:(s + 1) * sd] for s in range(ns)]
        )
    bcast = corpus.sparkSession.sparkContext.broadcast(tables)

    import pandas as pd

    def score_kernel(batches):
        T_ = bcast.value
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack(
                [np.asarray(c, dtype=np.int64) for c in pdf["pq_codes"]]
            )
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            out_q, out_id, out_s = [], [], []
            for qid, tab in T_.items():
                scores = np.round(
                    tab[np.arange(ns)[None, :], codes].sum(axis=1), 6
                )
                keep = ids != qid
                out_q.append(np.full(keep.sum(), qid, dtype=np.int64))
                out_id.append(ids[keep])
                out_s.append(scores[keep])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    id_col: np.concatenate(out_id),
                    "adc_score": np.concatenate(out_s),
                }
            )

    scored = coded.select(id_col, "pq_codes").mapInPandas(
        score_kernel, f"query_id bigint, {id_col} bigint, adc_score double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_score").desc(), F.col(id_col)
    )
    return scored.withColumn("rank", F.row_number().over(w).cast("bigint")).filter(
        F.col("rank") <= k
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).astype(np.float64)


def lsh_bucket(vec_col, planes: np.ndarray):
    """Bit-pack sign(plane·v) into a bigint bucket id, all JVM-side."""
    bits = [
        F.when(
            F.aggregate(
                F.zip_with(
                    vec_col,
                    F.array(*[F.lit(float(x)) for x in plane]),
                    lambda a, b: a.cast("double") * b,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            > 0,
            F.lit(1 << i),
        ).otherwise(F.lit(0))
        for i, plane in enumerate(planes)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("bigint")


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 8,
    multiprobe: int = 1,
) -> DataFrame:
    """Approximate top-k over 64-dim vectors: score candidates in the
    query's bucket plus (with ``multiprobe=1``) every bucket one sign-flip
    away — the standard multi-probe trade: n_planes+1 probes per query
    buys back most of the recall lost to boundary splits, while the bucket
    join still replaces the full cross product.
    """
    planes = _hyperplanes(64, n_planes, 42)
    c = ensure_parallelism(corpus.select(id_col, vec_col)).withColumn(
        "bucket", lsh_bucket(F.col(vec_col), planes)
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")).withColumn(
        "bucket0", lsh_bucket(F.col("q_vec"), planes)
    )
    if multiprobe:
        probe_arr = F.array(
            F.col("bucket0"),
            *[F.col("bucket0").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)],
        )
    else:
        probe_arr = F.array(F.col("bucket0"))
    q = q.select("query_id", "q_vec", F.explode(probe_arr).alias("bucket"))
    scored = (
        c.join(F.broadcast(q), ["bucket"])
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            F.round(cosine_similarity(F.col(vec_col), F.col("q_vec")), 6).alias("cos_sim"),
        )
        .dropDuplicates(["query_id", id_col])
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w).cast("bigint")).filter(
        F.col("rank") <= k
    )


def ivf_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Build a tiny 16-list IVF: 5 Lloyd's iterations on a deterministic
    256-row driver-side sample (the 100 TB pattern: train on a sample,
    assign distributed).

    Returns (assigned_corpus_df, centroids ndarray [16, dim]).
    """
    sample_rows = (
        corpus.select(vec_col).orderBy(id_col).limit(256).collect()
    )
    if not sample_rows:  # empty corpus: no centroids to train, no rows to tag
        assigned = corpus.withColumn("centroid", F.lit(0).cast("int"))
        return assigned, np.zeros((0, 0), dtype=np.float64)
    X = np.array([r[0] for r in sample_rows], dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(42)
    cents = X[rng.choice(len(X), size=min(16, len(X)), replace=False)]
    for _ in range(5):
        assign = np.argmax(X @ cents.T, axis=1)
        for c in range(len(cents)):
            members = X[assign == c]
            if len(members):
                v = members.mean(axis=0)
                cents[c] = v / max(np.linalg.norm(v), 1e-12)

    # assignment is one narrow Arrow map with the centroid matrix broadcast:
    # a numpy GEMM + argmax per batch, not 16×dim literal expressions in the
    # plan (which cost both analysis time and interpreted per-element eval)
    from pyspark.sql import types as T

    import pandas as pd

    bcast = corpus.sparkSession.sparkContext.broadcast(cents)
    out_schema = T.StructType(
        list(corpus.schema.fields) + [T.StructField("centroid", T.IntegerType(), False)]
    )

    def assign_kernel(batches):
        C = bcast.value
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            yield pdf.assign(centroid=np.argmax(V @ C.T, axis=1).astype(np.int32))

    assigned = ensure_parallelism(corpus).mapInPandas(assign_kernel, out_schema)
    return assigned, cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """IVF-probed approximate top-k over 16 lists: each query scores only
    the 4 nearest inverted lists.

    Probe assignment runs DISTRIBUTED: the centroid matrix (16 × dim,
    driver-sized by construction) is broadcast and each query batch
    computes its 4 nearest lists as one GEMM + argsort inside an Arrow
    kernel — the query side is never materialized on the driver, so
    queries can be a full table, not just a handful of probes (round-2
    verdict fix).  The probe frame is then broadcast into the corpus join:
    at 4 rows per query that hint holds while the query side fits the
    broadcast budget; a table-sized query side degrades to a shuffle join
    on `centroid` automatically if the hint is dropped by AQE.
    """
    assigned, cents = ivf_index(corpus, id_col, vec_col)
    spark = corpus.sparkSession

    if cents.size == 0:  # empty corpus: no inverted lists to probe
        return spark.createDataFrame(
            [], f"query_id bigint, {id_col} bigint, cos_sim double, rank bigint"
        )

    import pandas as pd

    cent_bcast = spark.sparkContext.broadcast(cents)
    n_probe = min(4, len(cents))

    def probe_kernel(batches):
        C = cent_bcast.value
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            V = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
            # top-4 lists per query, one GEMM for the whole batch
            order = np.argsort(-(V @ C.T), axis=1)[:, :n_probe]
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "query_id": pdf[id_col].to_numpy().repeat(n_probe),
                    "q_vec": [list(map(float, v)) for v in pdf[vec_col] for _ in range(n_probe)],
                    "centroid": order.reshape(-1).astype(np.int32),
                }
            )

    q = (
        ensure_parallelism(queries.select(id_col, vec_col))
        .mapInPandas(probe_kernel, "query_id bigint, q_vec array<double>, centroid int")
    )
    scored = (
        assigned.join(F.broadcast(q), ["centroid"])
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            F.round(cosine_similarity(F.col(vec_col), F.col("q_vec")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w).cast("bigint")).filter(
        F.col("rank") <= k
    )
