"""Similarity search over embedding columns (array<float>).

Two paths, as a 100 TB pipeline needs both:

* ``brute_force_topk`` — exact cosine top-k. Queries are collected (they are
  few by definition) and broadcast as a numpy matrix; every corpus partition
  computes one vectorized matmul per Arrow batch inside ``mapInPandas``, then
  a per-query ``row_number`` window picks global top-k. Reading N corpus rows
  once is optimal for exact search; nothing is quadratic.
* ``lsh_topk`` — random-hyperplane (SimHash-for-vectors) bucketed search:
  sign-bit signature → banded buckets → candidates → exact cosine rerank.
  The scale path when queries are many: candidates ≪ corpus.
* ``cosine_neardup_pairs`` — corpus self-join for embedding near-duplicate
  pairs at a cosine threshold, via the same LSH bucketing.

Hyperplanes are seeded numpy Gaussians — deterministic across runs/retries.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _collect_queries(
    queries: DataFrame, id_col: str, vec_col: str, max_queries: int = 100_000
):
    # Driver-memory guard: the query set is broadcast whole, so an
    # oversized query table must fail fast with a route to the
    # distributed searchers, not OOM the driver.  The probe counts over
    # the id column only (the vectors never move for it) and caps at
    # max+1 rows; limiting the *fetch* instead would turn the collect
    # into CollectLimit's iterative partition scale-up — measured ~1s of
    # extra scan jobs on the bench query set.
    # The collect re-evaluates the query plan, so a non-deterministic
    # source (sample, rand, unordered limit) can pass the probe and then
    # return more rows; the length re-check after the collect backstops it.
    too_many = ValueError(
        f"query set exceeds max_queries={max_queries}; brute_force_topk "
        "collects all query vectors onto the driver. Use lsh_topk or "
        "ivf_topk for large query sets, or raise max_queries explicitly."
    )
    if queries.select(id_col).limit(max_queries + 1).count() > max_queries:
        raise too_many
    rows = queries.select(id_col, vec_col).collect()
    if len(rows) > max_queries:
        raise too_many
    qids = [r[id_col] for r in rows]
    Q = np.array([list(r[vec_col]) for r in rows], dtype=np.float64)
    return qids, Q


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    query_id_col: str | None = None,
    exclude_self: bool = True,
    max_queries: int = 100_000,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, cosine, rank)."""
    query_id_col = query_id_col or id_col
    qids, Q = _collect_queries(queries, query_id_col, vec_col, max_queries)
    if len(qids) == 0:
        raise ValueError("no query vectors")
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    spark = corpus.sparkSession
    bQ = spark.sparkContext.broadcast((qids, Qn))

    id_type = corpus.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("query_id", id_type),
            T.StructField("neighbor_id", id_type),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def fn(batches):
        import pandas as pd

        qids_l, Qn_l = bQ.value
        m = len(qids_l)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
            S = Qn_l @ Xn.T  # (m, batch)
            # keep only each query's local top-k from this batch
            kk = min(k + 1, S.shape[1])
            idx = np.argpartition(-S, kk - 1, axis=1)[:, :kk]
            qi = np.repeat(np.arange(m), kk)
            ni = idx.ravel()
            yield pd.DataFrame(
                {
                    "query_id": [qids_l[i] for i in qi],
                    "neighbor_id": pdf[id_col].to_numpy()[ni],
                    "cosine": S[qi, ni],
                }
            )

    local = corpus.select(id_col, vec_col).mapInPandas(fn, out_schema)
    if exclude_self:
        local = local.where(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def exact_cosine_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.5,
    num_blocks: int | None = None,
    block_rows: int = 20_000,
) -> DataFrame:
    """Exact self-join pairs (l_id < r_id, cosine ≥ threshold).

    Fully distributed block-grid matmul — nothing is collected to the driver:
    each vector hashes into one of B blocks; the B(B+1)/2 block pairs (i ≤ j)
    form a grid of cogrouped tasks, each computing one vectorized numpy matmul
    between two bounded blocks (≤ ``block_rows`` vectors per side). The O(n²)
    dot products are inherent to exactness; what this plan guarantees is that
    no single task or the driver ever holds more than two blocks, so it is
    safe at 10^8+ vectors (vs the previous driver-collect formulation).
    Replication is B copies per row — the standard exact-all-pairs tradeoff;
    tune ``block_rows`` (task size) or pass ``num_blocks`` directly.
    For approximate near-duplicates at corpus scale prefer
    ``cosine_neardup_pairs`` (LSH-bucketed, candidates ≪ n²)."""
    spark = corpus.sparkSession
    vecs = corpus.select(id_col, vec_col)
    if num_blocks is None:
        n = vecs.count()
        num_blocks = max(1, -(-n // block_rows))
    B = int(num_blocks)
    id_type = corpus.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("l_id", id_type),
            T.StructField("r_id", id_type),
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    blk = F.pmod(F.xxhash64(F.col(id_col)), F.lit(B)).cast("int")
    # left replica of block b serves grid cells (b, j) for j ≥ b;
    # right replica of block b serves cells (i, b) for i ≤ b — every
    # unordered block pair meets in exactly one cell. The right side's data
    # columns are renamed: a self-cogroup sharing attribute ids across sides
    # mis-prunes the right side's non-grouping columns under some actions.
    left = vecs.withColumn("_bi", blk).withColumn(
        "_bj", F.explode(F.sequence(F.col("_bi"), F.lit(B - 1)))
    )
    right = (
        vecs.select(F.col(id_col).alias("_r_id"), F.col(vec_col).alias("_r_vec"))
        .withColumn("_bj", F.pmod(F.xxhash64(F.col("_r_id")), F.lit(B)).cast("int"))
        .withColumn("_bi", F.explode(F.sequence(F.lit(0), F.col("_bj"))))
    )

    def fn(key, lpdf, rpdf):
        import pandas as pd

        if len(lpdf) == 0 or len(rpdf) == 0:
            return pd.DataFrame({"l_id": [], "r_id": [], "cosine": []})
        X = np.array([np.asarray(v, dtype=np.float64) for v in lpdf[vec_col]])
        Y = np.array([np.asarray(v, dtype=np.float64) for v in rpdf["_r_vec"]])
        Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        Yn = Y / np.maximum(np.linalg.norm(Y, axis=1, keepdims=True), 1e-12)
        S = Xn @ Yn.T
        li = lpdf[id_col].to_numpy()
        ri = rpdf["_r_id"].to_numpy()
        mask = S >= threshold
        if key[0] == key[1]:
            # diagonal cell: both sides are the same block — strict <
            # dedupes the mirrored copies and drops self-pairs
            mask &= li[:, None] < ri[None, :]
        xi, yi = np.nonzero(mask)
        a, b = li[xi], ri[yi]
        # off-diagonal cells see each unordered pair exactly once, in
        # arbitrary id order — normalize to l_id < r_id on output
        swap = a > b
        return pd.DataFrame(
            {
                "l_id": np.where(swap, b, a),
                "r_id": np.where(swap, a, b),
                "cosine": S[xi, yi],
            }
        )

    return (
        left.groupBy("_bi", "_bj")
        .cogroup(right.groupBy("_bi", "_bj"))
        .applyInPandas(fn, out_schema)
    )


def _hyperplanes(dim: int, nbits: int, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randn(nbits, dim)


def _add_signature(df: DataFrame, id_col: str, vec_col: str, planes: np.ndarray, bands: int):
    """mapInPandas: one matmul per batch → per-band bucket strings."""
    nbits = planes.shape[0]
    rpb = nbits // bands
    spark = df.sparkSession
    bP = spark.sparkContext.broadcast(planes)
    id_type = df.schema[id_col].dataType
    schema = T.StructType(
        [
            T.StructField("id", id_type),
            T.StructField("band", T.IntegerType()),
            T.StructField("bucket", T.StringType()),
        ]
    )

    def fn(batches):
        import pandas as pd

        P = bP.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            n = len(pdf)
            X = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            bits = (X @ P.T) > 0  # (n, nbits)
            ids = pdf[id_col].to_numpy()
            # fully vectorized bucket assembly: packbits per band, one
            # bytes→hex conversion for the whole matrix, fixed-width slicing
            # per row (no per-row numpy calls / .iloc)
            buckets: list[str] = []
            for bi in range(bands):
                keys = np.ascontiguousarray(
                    np.packbits(bits[:, bi * rpb : (bi + 1) * rpb], axis=1)
                )
                row_bytes = keys.shape[1]
                hx = keys.tobytes().hex()
                w = 2 * row_bytes
                buckets.extend(hx[i * w : (i + 1) * w] for i in range(n))
            yield pd.DataFrame(
                {
                    "id": np.tile(ids, bands),
                    "band": np.repeat(np.arange(bands, dtype=np.int32), n),
                    "bucket": buckets,
                }
            )

    return df.select(id_col, vec_col).mapInPandas(fn, schema)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nbits: int = 64,
    bands: int = 8,
    seed: int = 42,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate cosine top-k: bucket-join candidates, exact rerank."""
    dim = len(corpus.select(vec_col).first()[0])
    planes = _hyperplanes(dim, nbits, seed)
    c_sig = _add_signature(corpus, id_col, vec_col, planes, bands)
    q_sig = _add_signature(queries, id_col, vec_col, planes, bands).withColumnsRenamed(
        {"id": "query_id"}
    )
    cand = (
        q_sig.join(c_sig, ["band", "bucket"])
        .select("query_id", F.col("id").alias("neighbor_id"))
        .distinct()
    )
    if exclude_self:
        cand = cand.where(F.col("query_id") != F.col("neighbor_id"))
    c_vec = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
    q_vec = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"))
    scored = (
        cand.join(q_vec, "query_id")
        .join(c_vec, "neighbor_id")
        .withColumn(
            "cosine",
            F.aggregate(
                F.zip_with("_qv", "_cv", lambda a, b: a.cast("double") * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / (
                F.sqrt(F.aggregate(F.transform("_qv", lambda a: a.cast("double") * a), F.lit(0.0), lambda acc, x: acc + x))
                * F.sqrt(F.aggregate(F.transform("_cv", lambda a: a.cast("double") * a), F.lit(0.0), lambda acc, x: acc + x))
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_neardup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    nbits: int = 64,
    bands: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Self-join near-duplicate pairs (l_id < r_id, cosine ≥ threshold)."""
    dim = len(corpus.select(vec_col).first()[0])
    planes = _hyperplanes(dim, nbits, seed)
    sig = _add_signature(corpus, id_col, vec_col, planes, bands)
    a = sig.select(F.col("id").alias("l_id"), "band", "bucket")
    b = sig.select(F.col("id").alias("r_id"), "band", "bucket")
    cand = (
        a.join(b, ["band", "bucket"])
        .where(F.col("l_id") < F.col("r_id"))
        .select("l_id", "r_id")
        .distinct()
    )
    v = corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    dot = lambda u, w: F.aggregate(  # noqa: E731
        F.zip_with(u, w, lambda x, y: x.cast("double") * y), F.lit(0.0), lambda acc, x: acc + x
    )
    norm = lambda u: F.sqrt(  # noqa: E731
        F.aggregate(F.transform(u, lambda x: x.cast("double") * x), F.lit(0.0), lambda acc, x: acc + x)
    )
    return (
        cand.join(v.withColumnsRenamed({"_id": "l_id", "_v": "_lv"}), "l_id")
        .join(v.withColumnsRenamed({"_id": "r_id", "_v": "_rv"}), "r_id")
        .withColumn("cosine", dot("_lv", "_rv") / (norm("_lv") * norm("_rv")))
        .where(F.col("cosine") >= threshold)
        .select("l_id", "r_id", "cosine")
    )


def expr_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    query_id_col: str | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k with JVM sequential-fold expressions — the
    SQL-oracle-parity twin of ``brute_force_topk`` (whose numpy matmul uses
    blocked summation, bit-different from a sequential fold). Queries are
    broadcast and cross-joined against the corpus: use only when queries are
    few (the brute-force contract) or when cross-engine bit-exactness is the
    point; the dot product / norms here fold left-to-right in index order,
    exactly DuckDB's ``list_aggregate(list_transform(...), 'sum')``."""
    from .ivf import _dot_col, _norm_col

    query_id_col = query_id_col or id_col
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    )
    scored = c.crossJoin(F.broadcast(q))
    if exclude_self:
        scored = scored.where(F.col("query_id") != F.col("neighbor_id"))
    scored = scored.withColumn(
        "cosine",
        _dot_col(F.col("_qv"), F.col("_cv"))
        / (_norm_col(F.col("_qv")) * _norm_col(F.col("_cv"))),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= int(k))
        .select("query_id", "neighbor_id", "cosine", "rank")
    )
