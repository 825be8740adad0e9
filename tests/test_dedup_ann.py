"""Dedup family + ANN + multimodal plumbing tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def corpus(spark):
    """Small corpus with a known exact dup, a near dup, and distinct docs."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base),
        (2, base),                                     # exact dup of 1
        (3, base.replace("delta", "deltx")),           # near dup of 1
        (4, "one two three four five six seven eight nine ten"),
        (5, "red orange yellow green blue indigo violet pink brown black"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(corpus):
    from rlerrorgenerator_spark.plans.dedup import exact_dedup, exact_dup_groups

    groups = exact_dup_groups(corpus).collect()
    assert len(groups) == 1
    assert groups[0].group_size == 2 and groups[0].keep_id == 1
    kept = sorted(r.doc_id for r in exact_dedup(corpus).collect())
    assert kept == [1, 3, 4, 5]


def test_ngram_jaccard_pairs(corpus):
    from rlerrorgenerator_spark.plans.dedup import ngram_jaccard_pairs

    pairs = {(r.id_a, r.id_b): r.jaccard
             for r in ngram_jaccard_pairs(corpus, k=3, threshold=0.3).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and 0.3 <= pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs and (4, 5) not in pairs


def test_minhash_pairs(corpus):
    from rlerrorgenerator_spark.plans.dedup import minhash_dup_pairs

    pairs = {(r.id_a, r.id_b): r.n_bands
             for r in minhash_dup_pairs(corpus, n_hashes=12, bands=6, k=3).collect()}
    assert pairs[(1, 2)] == 6  # identical docs agree on every band
    assert all(a < b for a, b in pairs)


def test_simhash_properties(spark, corpus):
    from rlerrorgenerator_spark.plans.dedup import simhash, simhash_dup_pairs

    sk = {r.id: (r.sim_lo, r.sim_hi) for r in simhash(corpus).collect()}
    assert sk[1] == sk[2]  # identical text → identical sketch
    for lo, hi in sk.values():  # 32-bit unsigned words
        assert 0 <= lo < 2**32 and 0 <= hi < 2**32
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in simhash_dup_pairs(corpus, max_hamming=7).collect()}
    assert pairs[(1, 2)] == 0
    if (1, 3) in pairs:
        assert pairs[(1, 3)] <= 7


def test_cosine_topk_exact(spark):
    from rlerrorgenerator_spark.plans.ann import cosine_topk

    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # closest to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.95, 0.05]),
        (4, [0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    top = cosine_topk(df.where(F.col("vec_id") == 0), df, k=2)
    rows = sorted((r.rk, r.neighbor_id) for r in top.collect())
    assert rows[0] == (1, 1)  # rank 1 neighbor is vec 1


def test_lsh_topk_recall(spark):
    """LSH candidates must recover most of the exact top-1 neighbors."""
    import numpy as np

    from rlerrorgenerator_spark.plans.ann import cosine_topk, lsh_topk

    rng = np.random.default_rng(3)
    base = rng.standard_normal((40, 16))
    rows = [(i, base[i].tolist()) for i in range(40)]
    # add 40 perturbed twins: vec_id 100+i ≈ vec i
    rows += [(100 + i, (base[i] + 0.05 * rng.standard_normal(16)).tolist())
             for i in range(40)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = df.where(F.col("vec_id") < 40)
    exact = {r.query_id: r.neighbor_id
             for r in cosine_topk(q, df, k=1).collect()}
    approx = {r.query_id: r.neighbor_id
              for r in lsh_topk(q, df, k=1, n_planes=6, n_tables=4, dim=16).collect()}
    hits = sum(1 for k, v in exact.items() if approx.get(k) == v)
    assert hits / len(exact) >= 0.8


def test_multimodal_plumbing(spark):
    from rlerrorgenerator_spark.functions.multimodal import (
        FEATURE_DIM,
        decode_image,
        extract_features,
        frame_sample_plan,
        synth_media,
    )

    media = synth_media(spark, n=30, seed=1)
    feats = extract_features(media)
    rows = feats.collect()
    assert len(rows) == 30
    for r in rows:
        assert len(r.feature) == FEATURE_DIM
        assert r.n_bytes > 0
        # real codecs ran for image/audio; video fell back to hash feature
        expect = {"image": "bmp", "audio": "wav", "video": "opaque"}[r.kind]
        assert r.codec == expect, (r.media_id, r.kind, r.codec)
    # determinism: same payload → same feature
    again = {r.media_id: r.feature for r in extract_features(media).collect()}
    for r in rows:
        assert again[r.media_id] == r.feature
    # frame sampling fan-out happens JVM-side
    frames = frame_sample_plan(media, every_ms=1000)
    assert frames.count() > media.where(F.col("kind") == "video").count()
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")


def test_multimodal_codecs_roundtrip():
    import numpy as np

    from rlerrorgenerator_spark.functions.multimodal import (
        decode_audio,
        decode_image,
        encode_bmp,
        encode_wav,
        image_feature,
        resize_image,
    )

    rng = np.random.default_rng(7)
    # BMP roundtrip, including a width that needs row padding (w*3 % 4 != 0)
    for w, h in ((10, 6), (7, 5), (16, 16)):
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        back = decode_image(encode_bmp(px))
        assert back.shape == (h, w, 3)
        assert (back == px).all()
    # WAV roundtrip
    samples = (np.sin(np.arange(4000) * 0.05) * 20000).astype(np.int16)
    got, rate = decode_audio(encode_wav(samples, rate=16000))
    assert rate == 16000 and (got == samples).all()
    # resize + feature shapes
    small = resize_image(px, 4, 4)
    assert small.shape == (4, 4, 3)
    assert image_feature(px).shape == (16,)
    with pytest.raises(NotImplementedError):
        decode_audio(b"ID3\x04rubbish")


def test_textops_langid(spark):
    from rlerrorgenerator_spark.functions.textops import langid

    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of a house"),
            (2, "der hund und die katze und das haus"),
            (3, "le chien et la maison les arbres des fleurs"),
            (4, "xyzzy plugh qwerty"),
        ],
        ["id", "text"],
    )
    out = {r.id: r.pred for r in df.select("id", langid("text").alias("pred")).collect()}
    assert out[1] == "en"
    assert out[2] == "de"
    assert out[3] == "fr"
    assert out[4] == "und"


def test_ivf_topk_clustered(spark):
    """IVF on clustered embeddings (the realistic case): >=0.9 recall@1
    probing fewer than 1/4 of the centroid buckets."""
    import numpy as np

    from rlerrorgenerator_spark.plans.ann import cosine_topk, ivf_topk

    rng = np.random.default_rng(11)
    centers = rng.standard_normal((8, 16)) * 4
    rows = []
    for i in range(320):
        c = centers[i % 8]
        rows.append((i, (c + rng.standard_normal(16) * 0.3).tolist()))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = df.where(F.col("vec_id") < 40)
    exact = {r.query_id: r.neighbor_id for r in cosine_topk(q, df, k=1).collect()}
    approx = {r.query_id: r.neighbor_id
              for r in ivf_topk(q, df, k=1, n_centroids=16, n_probe=3).collect()}
    hits = sum(1 for k2, v in exact.items() if approx.get(k2) == v)
    assert hits / len(exact) >= 0.9


def test_ivf_topk_verified_routing(spark):
    """The oracle-checkable IVF variant (md5-Rademacher fixed centroids,
    integer routing): deterministic across partitionings, and at
    n_probe == n_centroids (probe everything) it equals exact top-k —
    routing can only drop candidates, never change scoring."""
    import numpy as np

    from rlerrorgenerator_spark.plans.ann import cosine_topk, ivf_topk

    rng = np.random.default_rng(7)
    rows = [(i, rng.standard_normal(64).tolist()) for i in range(200)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = df.where(F.col("vec_id") < 30)
    exact = sorted(map(tuple, cosine_topk(q, df, k=3).collect()))
    full_probe = sorted(map(tuple, ivf_topk(
        q, df, k=3, centroids="md5", n_centroids=8, n_probe=8).collect()))
    assert full_probe == exact
    a = sorted(map(tuple, ivf_topk(
        q, df, k=3, centroids="md5", n_centroids=8, n_probe=5).collect()))
    b = sorted(map(tuple, ivf_topk(
        q.repartition(7), df.repartition(13), k=3, centroids="md5",
        n_centroids=8, n_probe=5).collect()))
    assert a == b


def test_winnow_fingerprints_guarantee(spark):
    """Winnowing (k=8, w=16): any shared substring of length >= w+k-1=23
    chars yields at least one shared fingerprint; disjoint-alphabet texts
    share none; and the Spark output matches a pure-Python reference."""
    import hashlib

    from pyspark.sql import functions as F

    from rlerrorgenerator_spark.functions.textops import with_winnow_fps

    shared = "the quick brown fox jumps over the lazy dog tonight"
    a = "prefix one " + shared + " suffix alpha"
    b = "completely different opening, " + shared + ", other close"
    c = "0123456789" * 9  # digits only — no 8-gram overlap with a or b
    df = spark.createDataFrame(
        [("a", a), ("b", b), ("c", c)], "doc_id string, text string")
    rows = {r["doc_id"]: set(r["fps"])
            for r in with_winnow_fps(df, "text", "fps", k=8, w=16).collect()}
    assert rows["a"] & rows["b"], "shared 23+ char substring must share a fp"
    assert not (rows["a"] & rows["c"])
    assert not (rows["b"] & rows["c"])

    def py_winnow(text, k=8, w=16):
        n = max(len(text) - k + 1, 1)
        hs = []
        for i in range(n):
            h = hashlib.md5(text[i:i + k].encode()).hexdigest()
            hs.append(str(int(h[16:32], 16)).zfill(20))
        m = max(len(hs) - w + 1, 1)
        return {min(hs[j:j + w]) for j in range(m)}

    for doc_id, text in (("a", a), ("b", b), ("c", c)):
        assert rows[doc_id] == py_winnow(text), doc_id


def test_token_count_bpe(spark):
    from pyspark.sql import functions as F

    from rlerrorgenerator_spark.functions.textops import token_count, token_count_bpe

    df = spark.createDataFrame(
        [("x", "hello, world! v2.0 has 3 bugs")], "id string, text string")
    r = df.select(
        token_count("text").alias("ws"),
        token_count_bpe("text").alias("bpe"),
    ).collect()[0]
    # ws: 6 space-split tokens; bpe: hello , world ! v 2 . 0 has 3 bugs = 11
    assert r["ws"] == 6
    assert r["bpe"] == 11


def test_repetition_features(spark):
    from rlerrorgenerator_spark.functions.textops import repetition_features

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),          # all-duplicate 2-grams
            (2, "a b c d e"),                    # all-distinct 2-grams
            (3, "x"),                            # single token edge case
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in repetition_features(df).collect()}
    # doc 1: 3 2-grams, 1 distinct -> dup frac 2/3; top token 4/4
    assert rows[1]["n_2grams"] == 3 and rows[1]["n_distinct_2grams"] == 1
    assert abs(rows[1]["dup_2gram_frac"] - 2 / 3) < 1e-6
    assert rows[1]["top_token_frac"] == 1.0
    # doc 2: no repetition at all
    assert rows[2]["dup_2gram_frac"] == 0.0
    assert abs(rows[2]["top_token_frac"] - 0.2) < 1e-6
    # doc 3: degenerate single token -> one pseudo-gram, no duplicates
    assert rows[3]["n_2grams"] == 1 and rows[3]["dup_2gram_frac"] == 0.0
