"""Unit tests for the vectorized Arrow hash kernels (functions/arrowhash.py)
and their wiring into the linkage fast path.

The kernels replace interpreted HOF expression chains (CodegenFallback)
in minhash blocking signatures and scoring shingle prep; these tests pin
the invariants the pipeline relies on: determinism, value-equality for
equal inputs, masking correctness at token boundaries, the 1-in-4
sampling contract, and the exact (verification) mode's agreement with
string-shingle set semantics.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from rlerrorgenerator_spark.functions.arrowhash import (
    _hash_tokens,
    _shingle_hashes,
    _token_hashes,
    minhash_from_text,
    sampled_shingles32,
)


def test_token_hash_boundaries():
    a = _hash_tokens(pa.array(["abc", "abcd", "abc"]))
    assert a[0] == a[2] and a[0] != a[1]
    # same token embedded in a different data buffer hashes identically
    # (no neighbor-byte leakage through the zero-tail gathers)
    b = _hash_tokens(pa.array(["zzzzzz", "abc"]))
    assert b[1] == a[0]
    # the suffix word separates equal-length shared-16-byte-prefix tokens
    # (URLs/hex ids — the systematic collision class ADVICE r4 flagged)
    c = _hash_tokens(pa.array(["x" * 16 + "AAAA", "x" * 16 + "BBBB",
                               "x" * 15 + "AAAA"]))
    assert c[0] != c[1] and c[0] != c[2] and c[1] != c[2]
    # remaining documented collision: same prefix-16, length AND tail-8,
    # differing only in middle bytes — statistical noise for word shingles
    d = _hash_tokens(pa.array(["x" * 16 + "A" + "y" * 8,
                               "x" * 16 + "B" + "y" * 8]))
    assert d[0] == d[1]
    # suffix overlapping the prefix on short tokens stays consistent
    e = _hash_tokens(pa.array(["abc", "abd", "ab"]))
    assert len(np.unique(e)) == 3


def test_token_hash_uniform():
    th = _hash_tokens(pa.array([f"tok{i}" for i in range(5000)]))
    assert len(np.unique(th)) == 5000
    # bits look balanced (weak uniformity check)
    bits = np.unpackbits(th.view(np.uint8))
    assert abs(bits.mean() - 0.5) < 0.01


def test_shingle_short_rows():
    th, n_tok = _token_hashes(pa.array(["a b", "a b c d e"]), lower=False,
                              pattern=" ", regex=False)
    sh, n_sh = _shingle_hashes(th, n_tok, k=4, seed=42)
    assert list(n_sh) == [1, 2]  # padded short row -> 1; 5 tokens -> 2


def test_minhash_properties():
    texts = pa.array(["the quick brown fox jumps over the lazy dog ok",
                      "the quick brown fox jumps over the lazy dog ok",
                      "entirely different words in this document here now",
                      ""])
    sig = minhash_from_text(texts, n_hashes=16, shingle_k=4, seed=1)
    assert sig.shape == (4, 16)
    assert (sig[0] == sig[1]).all()
    assert not (sig[0] == sig[2]).all()
    # deterministic across calls
    sig2 = minhash_from_text(texts, n_hashes=16, shingle_k=4, seed=1)
    assert (sig == sig2).all()
    # seed changes the family
    sig3 = minhash_from_text(texts, n_hashes=16, shingle_k=4, seed=2)
    assert not (sig[0] == sig3[0]).all()


def test_minhash_jaccard_estimate():
    base = [f"w{i}" for i in range(200)]
    mod = base.copy()
    mod[:40] = [f"x{i}" for i in range(40)]  # ~80% token overlap
    texts = pa.array([" ".join(base), " ".join(mod)])
    sig = minhash_from_text(texts, n_hashes=64, shingle_k=4, seed=1)
    est = (sig[0] == sig[1]).mean()
    # true 4-shingle jaccard of an 80%-token-overlap doc ~ (197-43*4..)/..
    # ≈ 0.52; the 64-hash estimate should land in a generous band
    assert 0.3 < est < 0.75


def test_sampled_shingles_contract():
    long_doc = " ".join(f"w{i}" for i in range(300))
    texts = pa.array([long_doc, "a b c"])
    lists, flags = sampled_shingles32(texts, shingle_k=4)
    assert lists.type == pa.list_(pa.int32())
    flags = flags.to_pylist()
    assert flags == [True, False]
    sampled = np.asarray(lists[0].as_py())
    # every shipped element obeys the h%4==0 filter (pmod semantics)
    assert (sampled % 4 == 0).all()
    # short doc ships its full (single-shingle) set
    assert len(lists[1]) == 1
    # ~1 in 4 kept
    assert 297 * 0.12 < len(sampled) < 297 * 0.45
    # default payload pinned: per row, the sorted-distinct high words of
    # the 64-bit shingle hashes, 1-in-4 filtered on sampled rows
    th, n_tok = _token_hashes(texts, lower=False, pattern=" ", regex=False)
    sh, n_sh = _shingle_hashes(th, n_tok, k=4, seed=42)
    hi = (sh.view(np.int64) >> 32).astype(np.int32)
    start = 0
    for row, n in enumerate(n_sh):
        want = np.unique(hi[start:start + n])
        if flags[row]:
            want = want[want % 4 == 0]
        assert lists[row].as_py() == want.tolist()
        start += n


def _string_shingles(text: str, k: int = 4) -> set[str]:
    """Word k-shingles as strings — the SQL oracles' definition
    ``w[i:i+k-1]`` for i in 1..greatest(len(w)-k+1, 1), w split on ' '."""
    w = text.split(" ")
    return {" ".join(w[i:i + k]) for i in range(max(len(w) - k + 1, 1))}


def test_exact_shingles_match_string_shingles():
    """exact=True ships full 64-bit sorted-distinct sets whose sizes and
    pairwise Jaccard equal the string 4-shingle sets' — what lets the
    exact_shingles oracles compare against an engine shingling strings."""
    rng = np.random.default_rng(7)
    vocab = [f"tok{i}" for i in range(12)]
    long_doc = " ".join(rng.choice(vocab, size=600))
    texts = [
        "",                                     # empty text
        "a", "a b", "a b c", "a  b", "a b ",    # < 4 tokens (incl. empties)
        "a b c d",
        "x y z w x y z w x y z w",              # repeated shingles
        "a b c d e", "b c d e a",
        long_doc,
        long_doc.replace("tok3", "tok4", 5),    # near-duplicate long doc
        "averyveryverylongtoken24 b c d",       # token at the 24-byte limit
    ]
    lists, flags = sampled_shingles32(pa.array(texts), shingle_k=4,
                                      exact=True)
    assert lists.type == pa.list_(pa.int64())
    assert not any(flags.to_pylist())
    sets = [np.asarray(v.as_py(), dtype=np.int64) for v in lists]
    ref = [_string_shingles(t) for t in texts]
    for got, want in zip(sets, ref):
        assert (np.diff(got) > 0).all()        # sorted distinct
        assert len(got) == len(want)
    for i in range(len(texts)):
        for j in range(len(texts)):
            inter = len(np.intersect1d(sets[i], sets[j]))
            assert inter == len(ref[i] & ref[j]), (texts[i][:20], texts[j][:20])
            # both sides deduped: |a ∪ b| = |a| + |b| − |a ∩ b|
            assert len(sets[i]) + len(sets[j]) - inter == len(ref[i] | ref[j])
