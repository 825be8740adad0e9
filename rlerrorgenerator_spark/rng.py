"""Deterministic, partition-invariant randomness.

The reference relies on R's *global* RNG + sequential `sample()` calls
(seeds at `/root/reference/exta/workflow.R:6`,
`/root/reference/benchmarking/utils.R:317-320`), which is irreproducible
under any parallelism: results depend on row visit order. We replace that
with per-row seeded RNG keyed on ``hash64(seed | stage | row_key)`` so the
same (seed, stage, key) always yields the same draws regardless of
partition count, task order, or cluster size.

Two layers:

- JVM side: ``F.xxhash64(lit(token), col(key))`` for seeded ranking /
  Bernoulli selection — stays in whole-stage codegen.
- Python side (inside Arrow-batched pandas UDFs): ``blake2b``-derived
  64-bit streams feeding ``numpy.random.Generator`` per row.
"""

from __future__ import annotations

from hashlib import blake2b

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

_U64 = np.uint64
MAX_U64 = float(2**64)


def hash64_py(key: str, seed: int, stage: str) -> int:
    """Stable 64-bit hash of (seed, stage, key). Pure Python, no xxhash dep."""
    h = blake2b(f"{seed}|{stage}|{key}".encode("utf-8"), digest_size=8)
    return int.from_bytes(h.digest(), "big")


def hash64_series(keys: pd.Series, seed: int, stage: str) -> np.ndarray:
    """Vectorized-ish stable hash of a key series → uint64 array."""
    prefix = f"{seed}|{stage}|".encode("utf-8")
    out = np.empty(len(keys), dtype=_U64)
    for i, k in enumerate(keys.astype(str).to_numpy()):
        out[i] = int.from_bytes(
            blake2b(prefix + k.encode("utf-8"), digest_size=8).digest(), "big"
        )
    return out


def row_rng(key: str, seed: int, stage: str) -> np.random.Generator:
    """A numpy Generator seeded deterministically for one row."""
    return np.random.default_rng(hash64_py(key, seed, stage))


def uniform_series(keys: pd.Series, seed: int, stage: str) -> np.ndarray:
    """Deterministic U[0,1) per key — same value for same (key,seed,stage)."""
    return hash64_series(keys, seed, stage).astype(np.float64) / MAX_U64


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 mix over a uint64 array (wrapping mul/add).

    The scale-path seed derivation: the per-row base seed is computed
    JVM-side (``xxhash64(lit(token), key)`` — whole-stage codegen), the
    UDF only mixes it into independent draw streams. Replaces the round-1
    per-row ``blake2b`` + ``np.random.default_rng`` construction (~15-20µs
    per selected row, the dominant Python cost of the injection UDFs)."""
    x = np.asarray(x, dtype=_U64)
    with np.errstate(over="ignore"):
        z = x + _U64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> _U64(27))) * _U64(0x94D049BB133111EB)
        return z ^ (z >> _U64(31))


def draw_streams(seed64: np.ndarray, k: int = 3) -> list[np.ndarray]:
    """k independent uint64 draw streams from a per-row seed array."""
    out = []
    cur = np.asarray(seed64, dtype=_U64)
    for _ in range(k):
        cur = splitmix64(cur)
        out.append(cur)
    return out


def seed64_col(key_col: str | Column, seed: int, stage: str) -> Column:
    """JVM-side per-row 64-bit seed for pandas-UDF editors."""
    c = F.col(key_col) if isinstance(key_col, str) else key_col
    return F.xxhash64(F.lit(f"{seed}|{stage}|edit"), c)


def rank_col(key_col: str | Column, seed: int, stage: str) -> Column:
    """JVM-side deterministic pseudo-random ranking column.

    ``orderBy(rank_col(...)).limit(k)`` compiles to TakeOrderedAndProject —
    a distributed top-k with no global shuffle — giving exact-k seeded
    sampling that is independent of partitioning (SURVEY.md §4: replaces
    R's `sample(candidate_ids, n)` e.g. `R/2_edit_distance_errors.R:16-19`).
    """
    c = F.col(key_col) if isinstance(key_col, str) else key_col
    return F.xxhash64(F.lit(f"{seed}|{stage}"), c)


def bernoulli_col(key_col: str | Column, seed: int, stage: str, rate: float) -> Column:
    """JVM-side deterministic Bernoulli(rate) per row.

    The 10^12-scale path for "fraction of rows get an error": binomially
    equivalent to exact-k but requires no ranking at all (SURVEY.md §4
    custom component 3).
    """
    c = F.col(key_col) if isinstance(key_col, str) else key_col
    u = (F.pmod(F.xxhash64(F.lit(f"{seed}|{stage}"), c), F.lit(1_000_000_000)).cast("double")
         / F.lit(1_000_000_000.0))
    return u < F.lit(float(rate))


# --------------------------------------------------------------- md5 mode
#
# Cross-engine seeded randomness: every draw is the low 64 bits of
# ``md5(token || key)``, computable bit-identically in Spark
# (``conv(substring(md5(..),17,16),16,10)``), DuckDB
# (``('0x'||substring(md5(..),17,16))::UBIGINT``) and Python
# (``hashlib.md5``). The same trick that made ``dup_minhash``
# oracle-checkable (linkage/blocking.py::minhash_signature, md5 mode)
# applied to the §2.A error transforms: a transform run with
# ``rng='md5'`` is a deterministic
# function a DuckDB oracle can reproduce END TO END — selection, draw
# positions, replacement chars (see rlerrorgenerator_spark/oracle_er.py).
#
# The default ``rng='xxhash'`` path (above) is untouched: xxhash64 stays
# the 100 TB hot path (one JVM hash vs md5's full digest), md5 mode is
# the correctness-harness path.

XXHASH_RNG = "xxhash"
MD5_RNG = "md5"

_U64_DECIMAL = "decimal(20,0)"


def draw_token(seed: int, stage: str, purpose: str) -> str:
    """The shared Spark/DuckDB/Python token prefix for one draw stream."""
    return f"{seed}|{stage}|{purpose}|"


def _as_col(key_col: str | Column) -> Column:
    return F.col(key_col) if isinstance(key_col, str) else key_col


def md5_u64_str(token: str, key_col: str | Column) -> Column:
    """u64 draw as its exact DECIMAL STRING (Arrow-safe UDF transport)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(token), _as_col(key_col).cast("string"))),
                    17, 16),
        16, 10,
    )


def md5_u64(token: str, key_col: str | Column) -> Column:
    """u64 draw as decimal(20,0) — exact integer arithmetic JVM-side."""
    return md5_u64_str(token, key_col).cast(_U64_DECIMAL)


def md5_mod(token: str, key_col: str | Column, mod: int) -> Column:
    """``u64 % mod`` as int — uniform over [0, mod)."""
    return F.pmod(md5_u64(token, key_col), F.lit(mod)).cast("int")


def bern_threshold(rate: float) -> int:
    """Exact integer threshold for ``u64 < rate * 2^64`` — computed ONCE
    in Python and embedded as a literal on both engines, so the boundary
    is bit-identical (no float rounding divergence)."""
    return min(int(rate * 2.0**64), 2**64 - 1)


def md5_bernoulli(token: str, key_col: str | Column, rate: float) -> Column:
    return md5_u64(token, key_col) < F.lit(str(bern_threshold(rate))).cast(_U64_DECIMAL)


def seeded_bernoulli(key_col: str | Column, seed: int, stage: str, rate: float,
                     rng: str = XXHASH_RNG) -> Column:
    """Dispatch: xxhash64 Bernoulli (hot path) or md5 Bernoulli (oracle
    path). Token conventions differ by design — the xxhash path keeps its
    original token so existing outputs are byte-stable."""
    if rng == MD5_RNG:
        return md5_bernoulli(draw_token(seed, stage, "sel"), key_col, rate)
    return bernoulli_col(key_col, seed, stage, rate)
