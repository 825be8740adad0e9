"""Edit-distance error transforms: indel, repl, tpose.

Reference semantics (`/root/reference/R/2_edit_distance_errors.R`):

- ``indel`` (`:5-93`): with p=0.5 insert a random charset char at a uniform
  position, else delete a uniform position; only non-empty values eligible.
- ``repl`` (`:99-180`): replace one uniform position with a *different*
  random charset char (rejection loop). Our extension (north star):
  ``charset='keyboard'|'ocr'`` replaces via a confusion map of the char at
  the chosen position.
- ``tpose`` (`:182-276`): swap two adjacent differing chars at a random
  eligible position; rows need >1 distinct char (`tpose_eligible`,
  `:182-192`).

All three share one shape: seeded per-row string surgery on one column
(an ``EditStep``) inside Arrow-batched pandas UDFs (the scalar R cores
`indel.default`/`repl.default`/`tpose.base` are row-at-a-time `map_chr`
loops — the slow path we never take). Determinism: each row's draws are
keyed on (seed, stage, rid), so the result is independent of partitioning.

``apply_edit_steps`` runs a list of steps as ONE pandas UDF. The JVM
computes everything that does not depend on the value (selection flags,
per-row seeds or md5 draws); the kernel tests each step's eligibility on
the value left by the previous steps and applies the edit in step order.
One UDF per step would cost one Python round-trip per step: Catalyst
cannot merge UDFs whose inputs read an earlier UDF's output. Bernoulli
path: a whole run of consecutive editor rows in ``mess_data`` is one
call. Exact-k path: per step, JVM eligibility picks the seeded top-k
rows, and that flag drives a one-step call.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, replace
from functools import partial, reduce
from operator import or_

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rlerrorgenerator_spark.operators.base import (
    KEY,
    LINEAGE_ARRAY_COL,
    lineage_entry,
    register,
    select_rows,
    split_across_cols,
)
from rlerrorgenerator_spark.operators.charsets import CHARSETS, CONFUSION_MAPS
from rlerrorgenerator_spark.rng import (
    MD5_RNG,
    XXHASH_RNG,
    draw_streams,
    draw_token,
    md5_u64_str,
    seed64_col,
    seeded_bernoulli,
)


@dataclass(frozen=True)
class EditStep:
    """One editor applied to one column under one stage token.

    ``edit`` maps (three u64 draws, value) to the new value. ``eligible``
    (Python, in the kernel) and ``eligible_col`` (JVM, exact-k selection)
    are the same predicate on a non-null value."""

    col: str
    error: str
    stage: str
    ts: int
    seed: int
    rate: float | None
    rng: str
    edit: Callable[[tuple[int, int, int], str], str]
    eligible: Callable[[str], bool]
    eligible_col: Callable[[str], Column]


def _resolve_charset(charset: str) -> tuple[str | None, dict[str, str] | None]:
    if charset in CONFUSION_MAPS:
        return None, CONFUSION_MAPS[charset]
    return CHARSETS.get(charset, charset), None


def _seed_series_to_u64(seed64: pd.Series):
    return seed64.to_numpy(dtype="int64", na_value=0).view("uint64")


def _step_draws(step: EditStep) -> list[Column]:
    """The JVM-side draw inputs of one step: the per-row seed, or (md5
    mode) the three u64 draws as DECIMAL STRINGS (rng.md5_u64_str — the
    cross-engine draw a DuckDB oracle reproduces bit-identically)."""
    if step.rng == MD5_RNG:
        return [md5_u64_str(draw_token(step.seed, step.stage, f"d{i}"), KEY)
                for i in range(3)]
    return [seed64_col(KEY, step.seed, step.stage)]


def _edit_kernel(steps: list[EditStep], cols: list[str]):
    """One pandas UDF applying ``steps`` in order. Inputs: the value of
    each column in ``cols``, then per step its selection flag and draws.
    Output: struct ``a{k}`` = step k's result where step k was selected
    (flag set and eligible on the current value), else NULL."""
    fields = ", ".join(f"a{k}: string" for k in range(len(steps)))

    @F.pandas_udf(f"struct<{fields}>")
    def kernel(*series: pd.Series) -> pd.DataFrame:
        vals = {c: s.to_numpy(dtype=object, copy=True)
                for c, s in zip(cols, series)}
        inputs = iter(series[len(cols):])
        out = {}
        for k, step in enumerate(steps):
            idx = np.flatnonzero(next(inputs).to_numpy(dtype=bool, na_value=False))
            if step.rng == MD5_RNG:
                u = [[int(x) for x in next(inputs).to_numpy()[idx]] for _ in range(3)]
            else:
                u = draw_streams(_seed_series_to_u64(next(inputs))[idx], 3)
            v = vals[step.col]
            after = np.full(len(v), None, dtype=object)
            for i, a, b, c in zip(idx, *u):
                s = v[i]
                if s is None or not step.eligible(s):
                    continue
                v[i] = after[i] = step.edit((int(a), int(b), int(c)), s)
            out[f"a{k}"] = after
        return pd.DataFrame(out)

    return kernel


def apply_edit_steps(df: DataFrame, steps: list[EditStep],
                     flags: list[Column] | None = None) -> DataFrame:
    """Apply ``steps`` in order in one Arrow pass.

    Step k edits the rows where ``flags[k]`` is set (default: its
    hash-Bernoulli selection) and its editor is eligible on the current
    value. A column's value crosses to Python only on rows where some
    step on it has its flag set, so the exchange carries ~rate×bytes, not
    table bytes. The JVM rebuilds each step's ``before`` (the latest
    earlier result on its column, else the input) and each column's final
    value from the per-step results. Lineage entries follow step order and
    are appended to the accumulated-lineage column."""
    if not steps:
        return df
    cols = list(dict.fromkeys(s.col for s in steps))
    if flags is None:
        flags = [seeded_bernoulli(KEY, s.seed, s.stage, s.rate, s.rng) for s in steps]
    gated = [F.when(reduce(or_, [f for s, f in zip(steps, flags) if s.col == c]),
                    F.col(c)) for c in cols]
    inputs = [x for s, f in zip(steps, flags) for x in [f, *_step_draws(s)]]
    tmp = df.withColumn("__edits", _edit_kernel(steps, cols)(*gated, *inputs))
    current = {c: [F.col(c)] for c in cols}  # latest result first
    entries = []
    for k, s in enumerate(steps):
        after = F.col(f"__edits.a{k}")
        entries.append(F.when(after.isNotNull(), lineage_entry(
            s.col, s.error, F.coalesce(*current[s.col]), after, s.ts)))
        current[s.col].insert(0, after)
    exprs = {c: F.coalesce(*current[c]) for c in cols}
    exprs[LINEAGE_ARRAY_COL] = F.concat(
        F.col(LINEAGE_ARRAY_COL), F.array_compact(F.array(*entries)))
    return tmp.select(*[exprs.get(c, F.col(c)).alias(c) for c in df.columns])


def _run_editor(df: DataFrame, steps: list[EditStep], n_errors: int,
                exact: bool) -> DataFrame:
    """A registered editor's body: one fused pass (Bernoulli), or per step
    a seeded top-k on JVM eligibility flagging a one-step pass. Exact-k
    draws are the per-row seed streams whatever ``rng`` says."""
    if not exact:
        return apply_edit_steps(df, steps)
    per_col = split_across_cols(n_errors, len(steps))
    for s in steps:
        df, sel = select_rows(df, s.eligible_col(s.col), per_col, s.seed,
                              s.stage, True, s.rate)
        df = apply_edit_steps(df, [replace(s, rng=XXHASH_RNG)], [sel]) \
            .drop("__sel")
    return df


def _indel_one(u, s: str, charset: str) -> str:
    # p=0.5 insert vs delete (`R/2_edit_distance_errors.R:66-93`); a
    # 1-char string always gets an insert (delete would empty it — the
    # reference guards eligibility on non-empty only, we keep len>=1).
    # ``u`` = three independent 64-bit draws (see _edit_kernel).
    u0, u1, u2 = u
    do_insert = (u0 & 1 == 0) or len(s) <= 1
    if do_insert:
        pos = u1 % (len(s) + 1)
        ch = charset[u2 % len(charset)]
        return s[:pos] + ch + s[pos:]
    pos = u1 % len(s)
    return s[:pos] + s[pos + 1:]


def _repl_one(u, s: str, charset: str | None, confusion: dict[str, str] | None) -> str:
    if not s:
        return s
    u0, u1, u2 = u
    if confusion is not None:
        # keyboard/OCR variant: only positions with a mapped char eligible.
        positions = [i for i, c in enumerate(s) if c in confusion]
        if not positions:
            return s
        pos = positions[u0 % len(positions)]
        cands = confusion[s[pos]]
        ch = cands[u1 % len(cands)]
        return s[:pos] + ch + s[pos + 1:]
    pos = u0 % len(s)
    # replacement must differ (`R/2_edit:171-178`): pick an index, and if
    # it lands on the current char step to another one — uniform over the
    # remaining charset, no rejection loop
    idx = u1 % len(charset)
    if charset[idx] == s[pos]:
        idx = (idx + 1 + u2 % (len(charset) - 1)) % len(charset)
        if charset[idx] == s[pos]:  # duplicate chars in custom charsets
            for step in range(1, len(charset)):
                j = (idx + step) % len(charset)
                if charset[j] != s[pos]:
                    idx = j
                    break
            else:
                return s
    return s[:pos] + charset[idx] + s[pos + 1:]


def _tpose_one(u, s: str) -> str:
    # positions where adjacent chars differ (`R/2_edit:244-276`)
    positions = [i for i in range(len(s) - 1) if s[i] != s[i + 1]]
    if not positions:
        return s
    pos = positions[u[0] % len(positions)]
    return s[:pos] + s[pos + 1] + s[pos] + s[pos + 2:]


def _non_empty(s: str) -> bool:
    return len(s) > 0


def _non_empty_col(col: str) -> Column:
    return F.col(col).isNotNull() & (F.length(col) > 0)


def _has_confusable(confusion: dict[str, str], s: str) -> bool:
    return any(c in confusion for c in s)


def _has_confusable_col(confusion: dict[str, str], col: str) -> Column:
    pat = "[" + "".join(sorted(set(confusion))).replace("\\", "\\\\").replace("]", "\\]") + "]"
    return _non_empty_col(col) & F.col(col).rlike(pat)


def _tpose_eligible(s: str) -> bool:
    # tpose_eligible (`R/2_edit:182-192`): >1 distinct character
    return len(s) > 1 and s != s[0] * len(s)


def _tpose_eligible_col(col: str) -> Column:
    # JVM form: length>1 AND the string differs from its first char repeated
    return (
        F.col(col).isNotNull()
        & (F.length(col) > 1)
        & (F.col(col) != F.expr(f"repeat(substring({col}, 1, 1), length({col}))"))
    )


def indel_steps(col_names: list[str], *, seed: int, stage: str, ts: int,
                rate: float | None = None, charset: str = "letters",
                rng: str = XXHASH_RNG) -> list[EditStep]:
    cs, _ = _resolve_charset(charset)
    return [EditStep(col, "indel", f"{stage}|indel|{col}", ts, seed, rate, rng,
                     partial(_indel_one, charset=cs), _non_empty, _non_empty_col)
            for col in col_names]


def repl_steps(col_names: list[str], *, seed: int, stage: str, ts: int,
               rate: float | None = None, charset: str = "letters",
               rng: str = XXHASH_RNG) -> list[EditStep]:
    cs, confusion = _resolve_charset(charset)
    name = "repl" if confusion is None else f"repl_{charset}"
    edit = partial(_repl_one, charset=cs, confusion=confusion)
    if confusion is None:
        eligible, eligible_col = _non_empty, _non_empty_col
    else:
        # only rows containing a confusable char are eligible
        eligible = partial(_has_confusable, confusion)
        eligible_col = partial(_has_confusable_col, confusion)
    return [EditStep(col, name, f"{stage}|repl|{col}", ts, seed, rate, rng,
                     edit, eligible, eligible_col)
            for col in col_names]


def tpose_steps(col_names: list[str], *, seed: int, stage: str, ts: int,
                rate: float | None = None, rng: str = XXHASH_RNG) -> list[EditStep]:
    return [EditStep(col, "tpose", f"{stage}|tpose|{col}", ts, seed, rate, rng,
                     _tpose_one, _tpose_eligible, _tpose_eligible_col)
            for col in col_names]


# error name -> step builder; ``mess_data`` fuses runs of these rows
EDIT_STEPS: dict[str, Callable[..., list[EditStep]]] = {
    "indel": indel_steps,
    "repl": repl_steps,
    "tpose": tpose_steps,
}


@register("indel")
def indel(df: DataFrame, lineage: DataFrame, n_errors: int, col_names: list[str],
          *, seed: int, stage: str, ts: int, charset: str = "letters",
          exact: bool = True, rate: float | None = None, rng: str = XXHASH_RNG):
    """Insert-or-delete one char (`R/2_edit_distance_errors.R:5-93`)."""
    steps = indel_steps(col_names, seed=seed, stage=stage, ts=ts, rate=rate,
                        charset=charset, rng=rng)
    return _run_editor(df, steps, n_errors, exact)


@register("repl")
def repl(df: DataFrame, lineage: DataFrame, n_errors: int, col_names: list[str],
         *, seed: int, stage: str, ts: int, charset: str = "letters",
         exact: bool = True, rate: float | None = None, rng: str = XXHASH_RNG):
    """Replace one char with a different one (`R/2_edit:99-180`); with
    ``charset='keyboard'|'ocr'`` replacement follows a confusion map."""
    steps = repl_steps(col_names, seed=seed, stage=stage, ts=ts, rate=rate,
                       charset=charset, rng=rng)
    return _run_editor(df, steps, n_errors, exact)


@register("tpose")
def tpose(df: DataFrame, lineage: DataFrame, n_errors: int, col_names: list[str],
          *, seed: int, stage: str, ts: int, exact: bool = True,
          rate: float | None = None, rng: str = XXHASH_RNG):
    """Transpose two adjacent differing chars (`R/2_edit:199-276`)."""
    steps = tpose_steps(col_names, seed=seed, stage=stage, ts=ts, rate=rate, rng=rng)
    return _run_editor(df, steps, n_errors, exact)
