"""Vectorized Arrow/numpy hash kernels for the linkage hot path.

WHY THIS EXISTS (round-4 profiling): Spark's higher-order array
functions (``transform``/``filter``/``aggregate``) are CodegenFallback —
they evaluate their lambda through the INTERPRETED expression path, one
element at a time, boxing every value. A JFR recording of the 4-core
scaling leg showed ~35% of all execution samples inside that machinery
(``ArrayTransform.nullSafeEval`` 7.4%, ``HashExpression.eval`` 5.9%,
``Integer.valueOf`` 8.8%, interpreted row accessors ~7%), concentrated
in exactly two places:

- ``minhash_signature``: token-hash transform + shingle-window transform
  + n_hashes × (rehash + array_min) — ~18 interpreted passes per row;
- ``score_pairs``'s per-side shingle prep: token-hash transform +
  shingle transform + 32-bit truncate transform + sample filter.

These kernels do the same work as a handful of numpy passes over the
Arrow columnar buffers via ``mapInArrow`` — no per-element boxing, no
interpreted eval, and the Python workers parallelize per-core exactly
like JVM tasks. The hash is a fixed-width XXH64 specialization (one
8-byte lane), NOT bit-compatible with Spark's multi-arg ``xxhash64``;
that is fine because set-Jaccard and MinHash-recall semantics are
invariant to WHICH injective 64-bit hash is used. ``exact_shingles``
scoring runs this same kernel with ``exact=True`` (full sorted-distinct
64-bit sets), so its Jaccard equals the string-shingle Jaccard an
independent SQL engine re-derives. Only the md5-mode plans
(``minhash_blocks(signature="md5")``, the dedup plans) hash differently:
their oracles reproduce bucket KEYS, not just set semantics.

Determinism: pure per-row functions of the text bytes — identical
results at any partitioning/core count (the partition-invariance tests
cover the pipeline end-to-end).

Scale notes (100 TB): everything here is a narrow map — no shuffle, no
driver participation; memory per Arrow batch is bounded by slicing
batches to ``_ROWS_PER_SLICE`` rows inside the kernel regardless of the
session's ``maxRecordsPerBatch``.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

_U64 = np.uint64
P1 = _U64(0x9E3779B185EBCA87)
P2 = _U64(0xC2B2AE3D27D4EB4F)
P3 = _U64(0x165667B19E3779F9)
P4 = _U64(0x85EBCA77C2B2AE63)
P5 = _U64(0x27D4EB2F165667C5)

_TOKEN_PREFIX = 16          # bytes of each token that feed the hash
_ROWS_PER_SLICE = 2048      # kernel-internal batch slicing (memory bound)
# odd 64-bit multipliers for positional shingle mixing (splitmix64 stream)
_SHINGLE_MULT = [_U64(m) for m in
                 (0xBF58476D1CE4E5B9, 0x94D049BB133111EB,
                  0xD6E8FEB86659FD93, 0xA5A5A5A5A5A5A5A5 | 1,
                  0x2545F4914F6CDD1D, 0x9E6C63D0876A9A75)]


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    r = _U64(r)
    return (x << r) | (x >> (_U64(64) - r))


def _avalanche(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> _U64(33))
    h = h * P2
    h = h ^ (h >> _U64(29))
    h = h * P3
    h = h ^ (h >> _U64(32))
    return h


def _string_buffer_views(arr: pa.Array) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(starts, lens, data) views into a StringArray's buffers, offset-safe."""
    off = np.frombuffer(arr.buffers()[1], dtype=np.int32)[
        arr.offset: arr.offset + len(arr) + 1
    ].astype(np.int64)
    data_buf = arr.buffers()[2]
    data = (np.frombuffer(data_buf, dtype=np.uint8)
            if data_buf is not None else np.empty(0, dtype=np.uint8))
    return off[:-1], np.diff(off), data


def _hash_tokens(flat: pa.Array, seed: int = 42) -> np.ndarray:
    """uint64 hash per token: the two u64 words of a 16-byte zero-padded
    prefix, the last ≤8 bytes (suffix word) and the length, mixed
    multiplicatively and avalanched once. The suffix word exists for
    long-common-prefix corpora — URLs, hex ids, agglutinative words —
    where prefix+length alone would collide SYSTEMATICALLY (not just
    statistically) and inflate the sampled-shingle Jaccard; with it,
    colliding tokens must share prefix-16, length AND tail-8, which is
    back in statistical-noise territory for word shingles. Pass count is
    what matters: each numpy op is a full sweep over all tokens in the
    batch, so this is ~22 sweeps where a per-word xxh64 chain costs ~60."""
    m = len(flat)
    if m == 0:
        return np.empty(0, dtype=np.uint64)
    starts, lens, data = _string_buffer_views(flat)
    cap = np.minimum(lens, _TOKEN_PREFIX)
    # UNCONDITIONAL byte gathers against a zero-tailed copy of the data
    # buffer (no per-column boolean masking — that cost ~3× the gather),
    # then zero the bytes past each token's end at WORD granularity with
    # a 9-entry prefix-mask LUT.
    dp = np.concatenate([data, np.zeros(_TOKEN_PREFIX, dtype=np.uint8)])
    pad = np.empty((m, _TOKEN_PREFIX), dtype=np.uint8)
    for j in range(_TOKEN_PREFIX):
        pad[:, j] = dp[starts + j]
    words = pad.view(np.uint64)  # (m, 2), little-endian lanes
    lut = np.array([(1 << (8 * i)) - 1 if i < 8 else 0xFFFFFFFFFFFFFFFF
                    for i in range(9)], dtype=np.uint64)
    words[:, 0] &= lut[np.minimum(cap, 8)]
    words[:, 1] &= lut[np.maximum(np.minimum(cap - 8, 8), 0)]
    # suffix word: the last ≤8 bytes (overlaps the prefix for short
    # tokens — harmless for hashing; masked to the valid byte count)
    suf = np.empty((m, 8), dtype=np.uint8)
    suf_starts = starts + np.maximum(lens - 8, 0)
    for j in range(8):
        suf[:, j] = dp[suf_starts + j]
    sword = suf.view(np.uint64).ravel()
    sword &= lut[np.minimum(lens, 8)]
    with np.errstate(over="ignore"):
        h = words[:, 0] * P1
        h ^= _rotl(words[:, 1] * P2, 29)
        h ^= _rotl(sword * P4, 41)
        h ^= lens.astype(np.uint64) * P5
        h ^= _U64(seed) * P3
        return _avalanche(h)


def _tokenize(texts: pa.Array, *, lower: bool, pattern: str,
              regex: bool) -> pa.Array:
    if len(texts) == 0 or pa.types.is_null(texts.type):
        texts = pa.array([""] * len(texts), type=pa.string())
    texts = pc.fill_null(texts, "")
    if lower:
        texts = pc.utf8_lower(texts)
    if regex and pattern == r"\s+":
        # native whitespace-run splitter — ~10× the RE2 path's speed
        toks = pc.utf8_split_whitespace(texts)
    elif regex:
        toks = pc.split_pattern_regex(texts, pattern)
    else:
        toks = pc.split_pattern(texts, pattern)
    if isinstance(toks, pa.ChunkedArray):
        toks = toks.combine_chunks()
    return toks


def _token_hashes(texts: pa.Array, *, lower: bool, pattern: str,
                  regex: bool, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    """-> (flat token hashes uint64, per-row token counts int64)."""
    toks = _tokenize(texts, lower=lower, pattern=pattern, regex=regex)
    list_off = np.frombuffer(toks.buffers()[1], dtype=np.int32)[
        toks.offset: toks.offset + len(toks) + 1
    ].astype(np.int64)
    # toks.values spans the PARENT child buffer: rebase explicitly to the
    # window this (possibly sliced/offset) ListArray references so
    # len(flat) == Σ n_tok holds for any upstream kernel output, not just
    # zero-based arrays (a misaligned flat would silently scatter token
    # hashes across rows in _shingle_hashes)
    flat = toks.values.slice(int(list_off[0]),
                             int(list_off[-1] - list_off[0]))
    list_off = list_off - list_off[0]
    return _hash_tokens(flat, seed=seed), np.diff(list_off)


def _shingle_hashes(flat_th: np.ndarray, n_tok: np.ndarray,
                    k: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """k-gram hashes over consecutive token hashes.

    Rows with fewer than k tokens are zero-padded up to k so every row
    yields exactly one shingle of all its tokens — the string definition
    (k consecutive tokens, clipped at the end of the list); a token hash
    is 0 only by 2⁻⁶⁴ chance, so the pad cannot alias a real token.
    -> (flat shingle hashes uint64, per-row shingle counts int64)."""
    n = len(n_tok)
    if n == 0:
        return np.empty(0, np.uint64), np.empty(0, np.int64)
    n_tok2 = np.maximum(n_tok, k)
    off = np.concatenate(([0], np.cumsum(n_tok)))
    off2 = np.concatenate(([0], np.cumsum(n_tok2)))
    flat2 = np.zeros(off2[-1], dtype=np.uint64)
    # scatter original token hashes into the padded layout
    row_of = np.repeat(np.arange(n), n_tok)
    dest = np.arange(len(flat_th)) - off[row_of] + off2[row_of]
    flat2[dest] = flat_th
    n_sh = n_tok2 - k + 1
    sh_off = np.concatenate(([0], np.cumsum(n_sh)))
    intra = np.arange(sh_off[-1]) - np.repeat(sh_off[:-1], n_sh)
    ws = np.repeat(off2[:-1], n_sh) + intra
    with np.errstate(over="ignore"):
        # positional multiply-xor over the k token hashes (already
        # avalanched uniform), one final avalanche: ~3 sweeps per
        # position vs ~12 for a chained xxh64 round
        h = flat2[ws] * _SHINGLE_MULT[0]
        for j in range(1, k):
            h ^= flat2[ws + j] * _SHINGLE_MULT[j % len(_SHINGLE_MULT)]
        h ^= _U64(seed) * P4
        return _avalanche(h), n_sh


def minhash_from_text(texts: pa.Array, *, n_hashes: int, shingle_k: int,
                      seed: int) -> np.ndarray:
    """(n_rows, n_hashes) int64 MinHash signature matrix over word
    k-shingles of lower(text) split on whitespace runs."""
    flat_th, n_tok = _token_hashes(texts, lower=True, pattern=r"\s+",
                                   regex=True, seed=seed)
    flat_sh, n_sh = _shingle_hashes(flat_th, n_tok, shingle_k, seed)
    n = len(n_tok)
    out = np.empty((n, n_hashes), dtype=np.uint64)
    if n == 0:
        return out.view(np.int64)
    starts = np.concatenate(([0], np.cumsum(n_sh)))[:-1]
    with np.errstate(over="ignore"):
        # universal-hash family mh_i = min(h1 + i·h2): 2 sweeps of setup
        # + 2 sweeps per hash, instead of a full xxh64 re-hash per i
        h1 = flat_sh
        h2 = _avalanche(flat_sh ^ P5) | _U64(1)
        for i in range(n_hashes):
            out[:, i] = np.minimum.reduceat(h1 + _U64(i) * h2, starts)
    return out.view(np.int64)


def sampled_shingles32(texts: pa.Array, *, shingle_k: int = 4,
                       seed: int = 42, sample_threshold: int = 32,
                       exact: bool = False) -> tuple[pa.Array, pa.Array]:
    """Per-row (sorted-distinct shingle-hash list, use_sample flag) over
    word k-shingles of text split on single spaces — the scoring side's
    pair-shuffle payload.

    Default: 32-bit (high word) hashes as ``array<int>``. Rows with
    ≥ sample_threshold shingles ship the deterministic 1-in-4 subsample
    (h%4==0 over the truncated value, matching both sides); shorter rows
    ship the full 32-bit set (see features.py's boundary rationale).

    ``exact=True`` (verification mode): the full 64-bit hashes as
    ``array<bigint>``, never sampled (flag all false). Each row then has
    exactly as many values as distinct string shingles, and pair Jaccard
    equals the string-shingle Jaccard — up to 2⁻⁶⁴ collisions and the
    token hash's documented blind spot (tokens over 24 bytes that differ
    only in their middle bytes, see _hash_tokens)."""
    flat_th, n_tok = _token_hashes(texts, lower=False, pattern=" ",
                                   regex=False, seed=seed)
    flat_sh, n_sh = _shingle_hashes(flat_th, n_tok, shingle_k, seed)
    n = len(n_sh)
    if exact:
        h, out_type = flat_sh.view(np.int64), pa.int64()
        use_sample = np.zeros(n, dtype=bool)
    else:
        # arithmetic >> 32 of the signed view == Spark shiftright(h,32) cast int
        h, out_type = (flat_sh.view(np.int64) >> 32).astype(np.int32), pa.int32()
        use_sample = n_sh >= sample_threshold
    # SORTED-DISTINCT per row: downstream Jaccard treats the arrays as
    # sets anyway (array_intersect emits set semantics), and pre-deduped
    # sides let add_features compute |a∪b| as |a|+|b|−|a∩b| instead of a
    # second per-pair hash-set build (array_union). One lexsort here
    # replaces ~|pairs| OpenHashSet constructions in the scoring stage.
    row_id = np.repeat(np.arange(n), n_sh)
    order = np.lexsort((h, row_id))
    h = h[order]
    row_id = row_id[order]
    if len(h):
        first = np.ones(len(h), dtype=bool)
        first[1:] = (h[1:] != h[:-1]) | (row_id[1:] != row_id[:-1])
    else:
        first = np.zeros(0, dtype=bool)
    keep = first.copy()
    # h/row_id are in sorted order now — derive the per-element sample
    # mask from the sorted row_id, not the pre-sort repeat layout
    sampled_rows = use_sample[row_id] if len(row_id) else row_id.astype(bool)
    keep[sampled_rows] &= (h[sampled_rows] % 4) == 0
    kept_per_row = (np.bincount(row_id[keep], minlength=n)
                    if len(keep) else np.zeros(n, dtype=np.int64))
    out_off = np.concatenate(([0], np.cumsum(kept_per_row))).astype(np.int32)
    values = pa.array(h[keep], type=out_type)
    lists = pa.ListArray.from_arrays(pa.array(out_off, type=pa.int32()), values)
    return lists, pa.array(use_sample)


def _slices(batch: pa.RecordBatch):
    for s in range(0, batch.num_rows, _ROWS_PER_SLICE):
        yield batch.slice(s, min(_ROWS_PER_SLICE, batch.num_rows - s))


def minhash_signature_batches(batches, *, text_col: str, n_hashes: int,
                              shingle_k: int, seed: int):
    """mapInArrow kernel: input batches with (__id, text_col) → output
    (__id, mh_0..mh_{n-1})."""
    for batch in batches:
        for b in _slices(batch):
            sig = minhash_from_text(b.column(b.schema.get_field_index(text_col)),
                                    n_hashes=n_hashes,
                                    shingle_k=shingle_k, seed=seed)
            cols = [b.column(b.schema.get_field_index("__id"))]
            names = ["__id"]
            for i in range(n_hashes):
                cols.append(pa.array(sig[:, i], type=pa.int64()))
                names.append(f"mh_{i}")
            yield pa.RecordBatch.from_arrays(cols, names=names)


def sided_shingle_batches(batches, *, text_col: str, shingle_k: int,
                          exact: bool = False):
    """mapInArrow kernel: passes every input column through untouched and
    appends (__sh, __shs) computed from text_col by sampled_shingles32."""
    for batch in batches:
        for b in _slices(batch):
            lists, flags = sampled_shingles32(
                b.column(b.schema.get_field_index(text_col)),
                shingle_k=shingle_k, exact=exact)
            cols = list(b.columns) + [lists, flags]
            names = list(b.schema.names) + ["__sh", "__shs"]
            yield pa.RecordBatch.from_arrays(cols, names=names)
