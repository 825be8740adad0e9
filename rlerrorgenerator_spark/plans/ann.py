"""Similarity search over embedding columns (array<float>).

Every top-k plan routes candidate pairs, then hands them to one re-rank
(``_top_k``: exact cosine, ``row_number`` per query, ``rk <= k``):

- ``cosine_topk``: brute-force exact top-k — the correctness baseline
  (cross join, no routing).
- ``lsh_topk``: random-hyperplane (sign) LSH buckets shrink the
  candidate set to a bucket equi-join. Recall < 1 by construction;
  probe multiple hash tables to trade compute for recall.
- ``ivf_topk``: IVF routing — corpus rows are bucketed by nearest
  centroid, queries probe their ``n_probe`` nearest buckets. The
  centroids are trained (``centroids="kmeans"``, production) or fixed
  md5 signs (``centroids="md5"``, verification). This is the
  10^12-scale shape: the centroid count grows with the corpus.

LSH planes and md5 centroids come from one md5 sign stream
(``md5_signs``) and are dotted against floor(x·1e6) integer vectors
(``_int_dots``), so bucketing and routing are pure integer arithmetic
that DuckDB replays bit for bit.
"""

from __future__ import annotations

from functools import reduce

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    ))


def cosine(a, b) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _top_k(cand: DataFrame, k: int, round_to: int) -> DataFrame:
    """The re-rank every plan ends in: exact cosine per candidate
    ``(query_id, qv, neighbor_id, cv)`` row, then the top ``k`` per query
    ``(query_id, neighbor_id, cos, rk)`` with a deterministic tie-break
    on neighbor id. ``round_to`` makes the score stable across engines
    (float→double accumulation order)."""
    scored = cand.select(
        "query_id", "neighbor_id",
        F.round(cosine(F.col("qv"), F.col("cv")), round_to).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos", "rk")
    )


def cosine_topk(queries: DataFrame, corpus: DataFrame, k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding",
                round_to: int = 6) -> DataFrame:
    """Exact top-k neighbors per query (excluding self): (query_id,
    neighbor_id, cos, rk).

    The cross join is the honest O(nq·nc) baseline; Spark executes it as
    BroadcastNestedLoopJoin when one side is small."""
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    cand = q.crossJoin(c).where(F.col("query_id") != F.col("neighbor_id"))
    return _top_k(cand, k, round_to)


def cosine_neardup_pairs(df: DataFrame, threshold: float = 0.95,
                         id_col: str = "vec_id", vec_col: str = "embedding",
                         round_to: int = 6) -> DataFrame:
    """Embedding near-duplicate pairs (id_a < id_b, cos ≥ threshold)."""
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b",
                F.round(cosine(F.col("va"), F.col("vb")), round_to).alias("cos"))
        .where(F.col("cos") >= threshold)
    )


def md5_signs(tag: str, n: int, dim: int) -> list[list[int]]:
    """``n`` deterministic ±1 (Rademacher) vectors of length ``dim``:
    component d (1-based) of vector i is +1 iff the first hex digit of
    md5(``tag|i|d``) is even. DuckDB's ``md5()`` reproduces the signs bit
    for bit, so the LSH planes (tag ``lsh|<table>``) and the md5 IVF
    centroids (tag ``ivf``) are oracle-checkable in SQL. Sign-LSH with
    Rademacher projections has the same collision-probability guarantee
    as Gaussian planes (Charikar's SimHash argument needs only symmetric
    projections)."""
    import hashlib

    return [
        [1 if int(hashlib.md5(f"{tag}|{i}|{d}".encode())
                  .hexdigest()[0], 16) % 2 == 0 else -1
         for d in range(1, dim + 1)]
        for i in range(n)
    ]


def _quantize(vec) -> Column:
    """floor(x·1e6) per component as long — float32→double widening and
    floor are exact and identical in Spark and DuckDB, so every dot
    product against ±1 signs is pure integer arithmetic with NO
    accumulation-order float hazard across engines."""
    return F.transform(vec, lambda x: F.floor(x.cast("double") * F.lit(1000000.0)).cast("long"))


def _int_dots(vec, signs: list[list[int]]) -> list[Column]:
    """Integer dot <floor(v·1e6), s> of ``vec`` with each sign vector."""
    return [
        F.aggregate(
            F.zip_with(_quantize(vec), F.array(*[F.lit(x).cast("long") for x in s]),
                       lambda x, y: x * y),
            F.lit(0).cast("long"), lambda acc, v: acc + v,
        )
        for s in signs
    ]


def _bucket_join(queries: DataFrame, corpus: DataFrame, id_col: str,
                 vec_col: str, q_bucket: Column, c_bucket: Column) -> DataFrame:
    """Candidate pairs that share a bucket, self excluded:
    ``(query_id, qv, neighbor_id, cv)``."""
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
                       q_bucket.alias("bucket"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
                      c_bucket.alias("bucket"))
    return q.join(c, "bucket").where(F.col("query_id") != F.col("neighbor_id")) \
            .select("query_id", "qv", "neighbor_id", "cv")


def lsh_topk(queries: DataFrame, corpus: DataFrame, k: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding",
             n_planes: int = 8, n_tables: int = 2, dim: int = 64,
             round_to: int = 6) -> DataFrame:
    """Approximate top-k: candidates share a sign-LSH bucket (the sign
    bits of the ``n_planes`` integer plane dots, packed into a long) in
    ≥1 of ``n_tables`` tables, then the exact re-rank. Planes are
    ``md5_signs(f"lsh|{t}", n_planes, dim)``, so an independent engine
    can reproduce the exact candidate sets."""
    parts = []
    for t in range(n_tables):
        bucket = F.lit(0).cast("long")
        for i, dot in enumerate(_int_dots(F.col(vec_col),
                                          md5_signs(f"lsh|{t}", n_planes, dim))):
            bucket = bucket + F.shiftleft((dot > 0).cast("long"), i)
        parts.append(_bucket_join(queries, corpus, id_col, vec_col, bucket, bucket))
    cand = reduce(DataFrame.unionByName, parts)
    return _top_k(cand.dropDuplicates(["query_id", "neighbor_id"]), k, round_to)


def _sampled_kmeans(corpus: DataFrame, id_col: str, vec_col: str,
                    n_centroids: int, seed: int, sample_n: int = 2048,
                    iters: int = 8):
    """Deterministic Lloyd k-means over a seeded bounded sample (driver
    side, like MLlib's init step): returns an (n_centroids, dim) numpy
    matrix of L2-normalized centroids. The sample is top-k by seeded
    hash — partition-invariant — and capped, so the driver never holds
    more than ``sample_n`` vectors."""
    import numpy as np

    rows = (
        corpus.select(F.col(vec_col).alias("v"), F.col(id_col).alias("i"))
        .orderBy(F.xxhash64(F.lit(seed), F.col(id_col)))
        .limit(sample_n)
        .collect()
    )
    X = np.array([r["v"] for r in rows], dtype=np.float64)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=min(n_centroids, len(X)), replace=False)]
    for _ in range(iters):
        sims = X @ C.T
        assign = sims.argmax(axis=1)
        for c in range(len(C)):
            members = X[assign == c]
            if len(members):
                m = members.mean(axis=0)
                C[c] = m / max(np.linalg.norm(m), 1e-12)
    return C


def ivf_topk(queries: DataFrame, corpus: DataFrame, k: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding",
             n_centroids: int = 16, n_probe: int = 4,
             centroids: str = "kmeans", dim: int = 64,
             seed: int = 42, round_to: int = 6) -> DataFrame:
    """IVF-style approximate top-k: each corpus row gets the ``bucket``
    of its nearest centroid, each query explodes into its ``n_probe``
    nearest buckets, and the bucket equi-join feeds the exact re-rank
    (duplicate pairs dropped first). Per-query work is
    ~n_probe/n_centroids of the corpus.

    ``centroids="kmeans"`` (production): ``n_centroids`` sampled k-means
    centroids (``_sampled_kmeans``, seeded by ``seed``); assignment and
    probe order are ONE vectorized pandas-UDF matmul per batch — no
    per-row Python. At crawl scale these UDFs and the probe join are the
    only stages touching every row.

    ``centroids="md5"`` (verification): fixed ±1 centroids
    ``md5_signs("ivf", n_centroids, dim)``. All share norm √dim, so the
    argmax of the integer dot equals the argmax of cosine. Each centroid
    c gets the routing key ``dot·n + (n-1-c)``, one long that sorts by
    (dot DESC, c ASC): assignment is the max key and the probes are the
    top ``n_probe`` keys, integer arithmetic DuckDB replays bit for bit.
    It ignores ``seed``."""
    if centroids == "md5":
        n = n_centroids
        dots = _int_dots(F.col(vec_col), md5_signs("ivf", n, dim))
        keys = F.array(*[dot * n + (n - 1 - c) for c, dot in enumerate(dots)])

        def bucket_of(key) -> Column:
            # pmod, not %: dot (hence key) can be negative and both
            # engines' % follows the dividend sign
            return (F.lit(n - 1) - F.pmod(key, F.lit(n))).cast("int")

        assign = bucket_of(F.array_max(keys))
        probes = F.transform(F.slice(F.sort_array(keys, asc=False), 1, n_probe),
                             bucket_of)
    else:
        CT = _sampled_kmeans(corpus, id_col, vec_col, n_centroids, seed).T.copy()

        def sims(vs: pd.Series):
            import numpy as np

            X = np.array(vs.tolist(), dtype=np.float64)
            X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
            return X @ CT

        @F.pandas_udf("int")
        def assign_bucket(vs: pd.Series) -> pd.Series:
            return pd.Series(sims(vs).argmax(axis=1).astype("int32"))

        @F.pandas_udf("array<int>")
        def probe_buckets(vs: pd.Series) -> pd.Series:
            import numpy as np

            order = np.argsort(-sims(vs), axis=1)[:, :n_probe]
            return pd.Series([row.astype("int32").tolist() for row in order])

        assign, probes = assign_bucket(F.col(vec_col)), probe_buckets(F.col(vec_col))
    cand = _bucket_join(queries, corpus, id_col, vec_col, F.explode(probes), assign)
    return _top_k(cand.dropDuplicates(["query_id", "neighbor_id"]), k, round_to)
