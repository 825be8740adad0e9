"""Deduplication strategies for web-scale training-data pipelines.

Four tiers, cheapest first — exactly the menu a 100 TB corpus cleanup
runs, each as a DataFrame plan:

1. exact: hash-groupBy on a normalized fingerprint (md5). One shuffle,
   map-side partial agg.
2. n-gram Jaccard: word-k-shingles, inverted-index self-join on shingle,
   jaccard = |∩| / (|A|+|B|−|∩|). Selective shingles (k=5 words) keep the
   join sparse; hot shingles capped like hot blocks.
3. MinHash-LSH: signature bands → bucket self-join, on the md5 mode of
   the linkage signatures and band keys (linkage/blocking.py) so DuckDB
   can oracle it bit-for-bit.
4. SimHash: 64-bit sketch, hamming-distance pairs via band join.

Embedding near-dup (cosine) lives in plans/ann.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rlerrorgenerator_spark.functions.textops import (
    exploded_shingles, fingerprint, tokens)
from rlerrorgenerator_spark.linkage.blocking import band_keys, minhash_signature


def exact_dup_groups(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """(fingerprint, group_size, keep_id) for every duplicate group."""
    fp = df.select(F.col(id_col).alias("id"), fingerprint(text_col).alias("fp"))
    return (
        fp.groupBy("fp")
        .agg(F.count("*").alias("group_size"), F.min("id").alias("keep_id"))
        .where(F.col("group_size") > 1)
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative per fingerprint."""
    w_fp = fingerprint(text_col).alias("fp")
    keep = (
        df.select(F.col(id_col).alias("id"), w_fp)
        .groupBy("fp").agg(F.min("id").alias(id_col))
    )
    return df.join(keep.select(id_col), id_col, "left_semi")


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 5,
                        threshold: float = 0.8,
                        max_shingle_freq: int = 100) -> DataFrame:
    """Near-dup pairs (id_a < id_b, jaccard) over distinct word-k-shingles.

    Inverted-index join: explode shingles, self-join on shingle value,
    count intersections, then jaccard from per-doc shingle counts.
    ``max_shingle_freq`` drops boilerplate shingles (skew guard — at
    corpus scale a handful of shingles appear everywhere and would square
    the join).
    """
    sh = exploded_shingles(
        df.select(F.col(id_col).alias("id"), text_col), text_col, ["id"], k
    )
    hot = sh.groupBy("g").count().where(F.col("count") > max_shingle_freq).select("g")
    # NOT checkpointed: the exploded posting list is ~400 rows/doc — at
    # any scale, re-deriving it per consumer (narrow scan + explode) is
    # cheaper than materializing it (measured 2× slower cold when
    # checkpointed at sf0.1). Contrast minhash/simhash below, whose
    # per-doc sketch is expensive to compute and tiny to store.
    sh = sh.join(F.broadcast(hot), "g", "left_anti")
    counts = sh.groupBy("id").agg(F.count("*").alias("n"))
    a = sh.toDF("g", "id_a")
    b = sh.toDF("g", "id_b")
    inter = (
        a.join(b, "g")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("i"))
    )
    ca = counts.toDF("id_a", "na")
    cb = counts.toDF("id_b", "nb")
    return (
        inter.join(ca, "id_a").join(cb, "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("i").cast("double")
                    / (F.col("na") + F.col("nb") - F.col("i")).cast("double"), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_dup_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n_hashes: int = 12,
                      bands: int = 6, k: int = 5) -> DataFrame:
    """LSH banding over md5 MinHash signatures of word-k-shingles →
    candidate pairs (id_a<id_b, n_bands agreeing). bands × rows =
    n_hashes. Signatures and band keys are the md5 mode of the linkage
    MinHash (``linkage/blocking.py``); no hot-bucket cap."""
    sig = minhash_signature(df, text_col, id_col, n_hashes, k, signature="md5")
    # materialize band keys before the self-join: Catalyst does not reuse
    # the exchange across the two renamed sides, so without this the
    # whole upstream (scan + shingle + n_hashes md5-min aggs) runs TWICE.
    # At corpus scale this is the signatures table you'd persist anyway.
    out = band_keys(sig, "id", bands, signature="md5").localCheckpoint(eager=False)
    a = out.toDF("id_a", "band", "bkey")
    b2 = out.toDF("id_b", "band", "bkey")
    return (
        a.join(b2, ["band", "bkey"])
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_bands"))
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document as TWO unsigned 32-bit words
    ``(id, sim_lo, sim_hi)``: sign-sum of token-hash bits.

    JVM-side md5 token hashing + one Arrow-batched numpy UDF for the
    per-bit majority vote — zero shuffles. The md5-derived 32-bit halves
    (``('0x'||substr(md5(t),17,8))::BIGINT`` in DuckDB ==
    ``conv(substring(md5(t),17,8),16,10)`` here) make the sketch
    bit-identical cross-engine — the same oracle discipline as the md5
    MinHash signatures — and two 32-bit words avoid the sign-bit
    divergence a single int64 sketch would have at bit 63.
    """
    # md5 + hex→long stay JVM-side (one md5 per token — the oracle-parity
    # discipline); the per-bit ±1 sums run in ONE Arrow-batched numpy UDF.
    # The previous form — 64 Catalyst ``aggregate`` higher-order lambdas
    # per row — is interpreted per array element; the numpy bit-matrix sum
    # measured 2.4× faster (6.0s → 2.5s, 15k sf0.1 docs, 32 cores) with
    # bit-identical output. No explode, no 64-sum groupBy (whose per-task
    # agg maps were ~70MB at corpus scale): per-row work over bound
    # arrays, embarrassingly parallel at any partition count.
    md = F.transform(tokens(text_col), lambda t: F.md5(t))
    base = df.select(F.col(id_col).alias("id"), md.alias("__md"))
    base = base.select(
        "id",
        F.transform(F.col("__md"),
                    lambda m: F.conv(F.substring(m, 17, 8), 16, 10).cast("long")
                    ).alias("__hi"),
        F.transform(F.col("__md"),
                    lambda m: F.conv(F.substring(m, 25, 8), 16, 10).cast("long")
                    ).alias("__lo"),
    )

    @F.pandas_udf("struct<sim_lo: long, sim_hi: long>")
    def _sketch(lo: pd.Series, hi: pd.Series) -> pd.DataFrame:
        shifts = np.arange(32, dtype=np.int64)
        outs_lo, outs_hi = [], []
        for l_arr, h_arr in zip(lo, hi):
            out = []
            for arr in (l_arr, h_arr):
                a = np.asarray(arr, dtype=np.int64)
                # majority vote per bit: set bit i iff ones·2 > n
                ones = ((a[:, None] >> shifts) & 1).sum(axis=0)
                out.append(int((((ones * 2 > len(a)).astype(np.int64))
                                << shifts).sum()))
            outs_lo.append(out[0])
            outs_hi.append(out[1])
        return pd.DataFrame({"sim_lo": outs_lo, "sim_hi": outs_hi})

    return base.select("id", _sketch("__lo", "__hi").alias("__s")).select(
        "id", F.col("__s.sim_lo").alias("sim_lo"), F.col("__s.sim_hi").alias("sim_hi")
    )


def simhash_dup_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", max_hamming: int = 6) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming.

    Banding: split the 64-bit sketch into 8 × 8-bit bands; by pigeonhole
    any pair with hamming ≤ 7 (> the default 6) agrees on at least one
    band, so candidate generation has NO recall gap at the default; exact
    hamming then filters via bit_count(xor) per word. ``max_hamming > 7``
    would need narrower bands — asserted, not silently lossy.
    """
    assert max_hamming <= 7, "8x8-bit banding guarantees recall only for hamming<=7"
    sk = simhash(df, text_col, id_col)
    # 8 bands of 8 bits: bands 0-3 from sim_lo, 4-7 from sim_hi
    band_structs = F.array(*[
        F.struct(
            F.lit(j).alias("band"),
            F.shiftrightunsigned(
                F.col("sim_lo" if j < 4 else "sim_hi"), 8 * (j % 4)
            ).bitwiseAND(F.lit(255)).alias("bkey"),
        )
        for j in range(8)
    ])
    keyed = sk.select("id", "sim_lo", "sim_hi", F.explode(band_structs).alias("bk")).select(
        "id", "sim_lo", "sim_hi",
        F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey"),
    )
    # materialize the banded sketch before the self-join (no exchange
    # reuse across renamed sides — without this the scan + per-token md5
    # sketch UDF runs once per side). 8 rows × 4 small cols per doc.
    keyed = keyed.localCheckpoint(eager=False)
    a = keyed.toDF("id_a", "lo_a", "hi_a", "band", "bkey")
    b = keyed.toDF("id_b", "lo_b", "hi_b", "band", "bkey")
    # hamming is computed and filtered BEFORE the dedup shuffle: xor +
    # bit_count is a narrow codegen expression, and almost all band
    # collisions fail the hamming cut, so the distinct() shuffle carries
    # only the (rare) surviving near-dup pairs instead of every collision
    # with six 64-bit payload columns. Same result set — hamming is a
    # pure function of the pair, identical in every colliding band.
    return (
        a.join(b, ["band", "bkey"])
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "hamming",
            (F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
             + F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))).cast("long"),
        )
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )
