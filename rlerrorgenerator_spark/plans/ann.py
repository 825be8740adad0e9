"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Dot products with built-in ``zip_with``/``aggregate`` (JVM; no Python);
  top-k per query via a rank window over the blocked cross join.
- ``lsh_topk``: the scale path — random-hyperplane (sign) LSH buckets
  shrink the candidate set; same scoring afterwards. Recall < 1 by
  construction; probe multiple hash tables to trade compute for recall.

At 10^12 × 10^12 this becomes IVF-style: cluster the corpus (k-means or
hash buckets), route queries to nprobe nearest buckets; the bucket join
below is exactly that shape with hash routing.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401  (pandas-UDF type hints resolve here)
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


def cosine_topk(queries: DataFrame, corpus: DataFrame, k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding",
                round_to: int = 6) -> DataFrame:
    """Exact top-k neighbors per query (excluding self): (query_id,
    neighbor_id, cos). Deterministic tie-break on neighbor id.

    The cross join is the honest O(nq·nc) baseline; Spark executes it as
    BroadcastNestedLoopJoin when one side is small. ``round_to`` makes the
    score stable across engines (float→double accumulation order).
    """
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    scored = (
        q.crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), round_to).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos", "rk")
    )


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


def rademacher_planes(table: int, n_planes: int, dim: int) -> list[list[int]]:
    """Deterministic ±1 (Rademacher) hyperplanes derived from md5 — the
    same cross-engine discipline as the MinHash md5-u64 trick: DuckDB's
    ``md5()`` reproduces these signs bit-identically, so the whole LSH
    bucketing is oracle-checkable in SQL. Sign-LSH with Rademacher
    projections has the same collision-probability guarantee as Gaussian
    planes (Charikar's SimHash argument needs only symmetric projections).
    """
    import hashlib

    return [
        [1 if int(hashlib.md5(f"lsh|{table}|{i}|{d}".encode())
                  .hexdigest()[0], 16) % 2 == 0 else -1
         for d in range(1, dim + 1)]
        for i in range(n_planes)
    ]


def _quantize(vec) -> Column:
    """floor(x·1e6) per component as long — float32→double widening and
    floor are exact and identical in Spark and DuckDB, so every dot
    product against ±1 planes is pure integer arithmetic with NO
    accumulation-order float hazard across engines."""
    return F.transform(vec, lambda x: F.floor(x.cast("double") * F.lit(1000000.0)).cast("long"))


def _sign_bucket(qvec, planes: list[list[int]]) -> Column:
    """Sign-LSH bucket id over a pre-quantized long vector: sign bits of
    the integer dot <floor(v·1e6), s_i> packed into a long."""
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        arr = F.array(*[F.lit(int(x)).cast("long") for x in p])
        dot = F.aggregate(
            F.zip_with(qvec, arr, lambda x, y: x * y),
            F.lit(0).cast("long"), lambda acc, v: acc + v,
        )
        bucket = bucket + F.shiftleft((dot > 0).cast("long"), i)
    return bucket


def lsh_topk(queries: DataFrame, corpus: DataFrame, k: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding",
             n_planes: int = 8, n_tables: int = 2, dim: int = 64,
             round_to: int = 6) -> DataFrame:
    """Approximate top-k: candidates share an LSH bucket in ≥1 of
    ``n_tables`` sign-LSH tables, then exact cosine + rank. Scale path for
    the brute-force baseline (bucket equi-join instead of cross join).
    Planes are md5-derived Rademacher (see ``rademacher_planes``) so an
    independent engine can reproduce the exact candidate sets."""
    cand = None
    for t in range(n_tables):
        planes = rademacher_planes(t, n_planes, dim)
        q = queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
            _sign_bucket(_quantize(F.col(vec_col)), planes).alias("bucket"),
        )
        c = corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
            _sign_bucket(_quantize(F.col(vec_col)), planes).alias("bucket"),
        )
        part = q.join(c, "bucket").where(F.col("query_id") != F.col("neighbor_id")) \
                .select("query_id", "qv", "neighbor_id", "cv")
        cand = part if cand is None else cand.unionByName(part)
    cand = cand.dropDuplicates(["query_id", "neighbor_id"])
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
             seed: int = 42, round_to: int = 6) -> DataFrame:
    """IVF-style approximate top-k: corpus rows are bucketed by nearest
    centroid (ONE vectorized pandas-UDF matmul per batch — no per-row
    Python), queries probe their ``n_probe`` nearest centroid buckets,
    then exact cosine + rank within the probed candidates. The bucket
    equi-join replaces the cross join: per-query work is
    ~n_probe/n_centroids of the corpus. This is the 10^12-scale routing
    shape (centroid count grows with corpus size; at crawl scale the
    assignment UDF and the probe join are the only stages touching every
    row)."""
    import pandas as pd

    C = _sampled_kmeans(corpus, id_col, vec_col, n_centroids, seed)
    CT = C.T.copy()

    @F.pandas_udf("int")
    def assign_bucket(vs: pd.Series) -> pd.Series:
        import numpy as np

        X = np.array(vs.tolist(), dtype=np.float64)
        X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        return pd.Series((X @ CT).argmax(axis=1).astype("int32"))

    @F.pandas_udf("array<int>")
    def probe_buckets(vs: pd.Series) -> pd.Series:
        import numpy as np

        X = np.array(vs.tolist(), dtype=np.float64)
        X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        order = np.argsort(-(X @ CT), axis=1)[:, :n_probe]
        return pd.Series([row.astype("int32").tolist() for row in order])

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
        assign_bucket(F.col(vec_col)).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        F.explode(probe_buckets(F.col(vec_col))).alias("bucket"),
    )
    scored = (
        q.join(c, "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                F.round(cosine(F.col("qv"), F.col("cv")), round_to).alias("cos"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos", "rk")
    )


def ivf_centroids(n_centroids: int, dim: int) -> list[list[int]]:
    """Deterministic ±1 (Rademacher) IVF centroids from the md5 stream
    ``ivf|c|d`` — the same cross-engine trick as ``rademacher_planes``:
    DuckDB reproduces the signs bit-identically, so bucket assignment
    and probe order become pure integer arithmetic an independent SQL
    engine can replay. All centroids share norm √dim, so argmax of the
    raw dot product equals argmax of cosine — no normalization needed."""
    import hashlib

    return [
        [1 if int(hashlib.md5(f"ivf|{c}|{d}".encode())
                  .hexdigest()[0], 16) % 2 == 0 else -1
         for d in range(1, dim + 1)]
        for c in range(n_centroids)
    ]


def _centroid_keys(qvec, cents: list[list[int]]) -> Column:
    """Array of routing keys, one per centroid: ``dot·K + (K-1-c)`` over
    the quantized integer vector — a single long that sorts by (dot
    DESC, centroid id ASC), making ties deterministic across engines."""
    n = len(cents)
    keys = []
    for c, p in enumerate(cents):
        arr = F.array(*[F.lit(int(x)).cast("long") for x in p])
        dot = F.aggregate(
            F.zip_with(qvec, arr, lambda x, y: x * y),
            F.lit(0).cast("long"), lambda acc, v: acc + v,
        )
        keys.append(dot * n + (n - 1 - c))
    return F.array(*keys)


def ivf_topk_verified(queries: DataFrame, corpus: DataFrame, k: int = 5,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      n_centroids: int = 8, n_probe: int = 5,
                      dim: int = 64, round_to: int = 6) -> DataFrame:
    """IVF top-k with ORACLE-CHECKABLE routing: md5-Rademacher fixed
    centroids (``ivf_centroids``) replace the trained k-means of
    ``ivf_topk``, so corpus bucket assignment (argmax key) and the
    query's ``n_probe`` probe list (top keys) are exact integer
    arithmetic DuckDB replays bit-identically — the same discipline as
    ``minhash_blocks(signature="md5")``. Same probe-join shape and
    exact-cosine re-rank as the production ``ivf_topk``; only the
    centroid source differs (fixed projections vs trained means)."""
    cents = ivf_centroids(n_centroids, dim)

    def keyed(df: DataFrame, out_id: str, out_vec: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out_id), F.col(vec_col).alias(out_vec),
            _centroid_keys(_quantize(F.col(vec_col)), cents).alias("keys"),
        )

    n = n_centroids

    def _bucket_of(key) -> Column:
        # centroid id from a routing key; pmod, not %: dot (hence key)
        # can be negative and both engines' % follows the dividend sign
        return (F.lit(n - 1) - F.pmod(key, F.lit(n))).cast("int")

    c = keyed(corpus, "neighbor_id", "cv").select(
        "neighbor_id", "cv",
        # assignment = centroid id embedded in the max key
        _bucket_of(F.array_max("keys")).alias("bucket"),
    )
    q = keyed(queries, "query_id", "qv").select(
        "query_id", "qv",
        F.explode(
            F.transform(
                F.slice(F.sort_array("keys", asc=False), 1, n_probe),
                _bucket_of,
            )
        ).alias("bucket"),
    )
    scored = (
        q.join(c, "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                F.round(cosine(F.col("qv"), F.col("cv")), round_to).alias("cos"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos", "rk")
    )
