"""Lookup-substitution transforms: nickname family, suffixes, married names.

Reference: `/root/reference/R/3_nicknames_errors.R` (nickname/proper-name
substitution via the `names_lookup`/`nick_real_lookup` dims) and
`R/6_file_based_errors.R:1-37` (married_name_change via `lnames_all`).

Spark design: the lookup dims are small → ``F.broadcast`` joins; the
per-key "pick one alternate" (`group_by(lookup_name) %>% sample_n(1)`,
`R/3_nicknames_errors.R:18-20`) is a seeded row_number window over the
lookup itself (tiny); substitution is a joined column — all JVM-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rlerrorgenerator_spark.operators.base import (
    KEY,
    apply_cell_edit,
    register,
    select_rows,
    split_across_cols,
)
from rlerrorgenerator_spark.rng import MD5_RNG, draw_token, md5_mod, md5_u64


def _pick_one_alternate(lookup: DataFrame, seed: int, stage: str,
                        rng: str = "xxhash") -> DataFrame:
    """One deterministic alternate per lookup_name
    (`R/3_nicknames_errors.R:18-20` sample_n(1) per group)."""
    if rng == MD5_RNG:
        order = md5_u64(draw_token(seed, stage, "alt"), F.col("lookup_alternate"))
    else:
        order = F.xxhash64(F.lit(f"{seed}|{stage}"), F.col("lookup_alternate"))
    w = Window.partitionBy("lookup_name").orderBy(order)
    return (
        lookup.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("lookup_name", "lookup_alternate")
    )


def _lookup_substitute(df, n_errors, col_names, lookup, *, seed, stage, ts,
                       error_name, exact=True, rate=None, rng="xxhash"):
    per_col = split_across_cols(n_errors, len(col_names))
    for col in col_names:
        st = f"{stage}|{error_name}|{col}"
        pick = _pick_one_alternate(lookup, seed, st, rng)
        tmp = df.join(
            F.broadcast(pick), df[col] == pick["lookup_name"], "left"
        ).drop("lookup_name").withColumnRenamed("lookup_alternate", "__alt")
        eligible = F.col("__alt").isNotNull() & (F.col("__alt") != F.col(col))
        tmp, sel = select_rows(tmp, eligible, per_col, seed, st, exact, rate, rng=rng)
        tmp = apply_cell_edit(tmp, col, sel, F.col("__alt"), error_name, ts)
        df = tmp.drop("__alt")
    return df


@register("real_to_nicknames")
def real_to_nicknames(df: DataFrame, lineage: DataFrame, n_errors: int,
                      col_names: list[str], *, seed: int, stage: str, ts: int,
                      lookup: DataFrame, exact: bool = True, rate: float | None = None,
                      rng: str = "xxhash"):
    """Proper name → nickname (`R/3_nicknames_errors.R:1-52`);
    ``lookup`` has (lookup_name, lookup_alternate, lookup_type)."""
    lk = lookup.where(F.col("lookup_type") == "to_nick")
    return _lookup_substitute(df, n_errors, col_names, lk, seed=seed, stage=stage,
                              ts=ts, error_name="real_to_nicknames", exact=exact,
                              rate=rate, rng=rng)


@register("nick_to_realnames")
def nick_to_realnames(df, lineage, n_errors, col_names, *, seed, stage, ts,
                      lookup, exact=True, rate=None, rng="xxhash"):
    """Nickname → proper name (`R/3_nicknames_errors.R:55-106`)."""
    lk = lookup.where(F.col("lookup_type") == "to_proper")
    return _lookup_substitute(df, n_errors, col_names, lk, seed=seed, stage=stage,
                              ts=ts, error_name="nick_to_realnames", exact=exact,
                              rate=rate, rng=rng)


@register("invert_real_and_nicknames")
def invert_real_and_nicknames(df, lineage, n_errors, col_names, *, seed, stage,
                              ts, lookup, exact=True, rate=None, rng="xxhash"):
    """Symmetric substitution against a (key, lookup) table
    (`R/3_nicknames_errors.R:109-159`); works either direction."""
    sym = lookup.select(
        F.col("key").alias("lookup_name"), F.col("lookup").alias("lookup_alternate")
    ).unionByName(
        lookup.select(
            F.col("lookup").alias("lookup_name"), F.col("key").alias("lookup_alternate")
        )
    )
    return _lookup_substitute(df, n_errors, col_names, sym, seed=seed, stage=stage,
                              ts=ts, error_name="invert_real_and_nicknames",
                              exact=exact, rate=rate, rng=rng)


DEFAULT_SUFFIXES = ["jr", "iii", "ii", "sr", "iv", "i", "v"]
DEFAULT_SUFFIX_WEIGHTS = [300, 40, 40, 40, 10, 10, 10]  # `R/3_nicknames:232-236`


@register("add_name_suffix")
def add_name_suffix(df: DataFrame, lineage: DataFrame, n_errors: int,
                    col_names: list[str], *, seed: int, stage: str, ts: int,
                    sex: str | None = None, sex_value: str = "m",
                    suffix_list: list[str] | None = None,
                    suffix_weights: list[float] | None = None,
                    exact: bool = True, rate: float | None = None,
                    rng: str = "xxhash"):
    """Append a weighted-random suffix to the (last-)name column
    (`R/3_nicknames_errors.R:221-257`; male rows only when ``sex`` given).

    The weighted choice is JVM-side: a seeded uniform mapped through the
    cumulative weights with chained ``when`` — no Python.
    """
    suffixes = suffix_list or DEFAULT_SUFFIXES
    weights = suffix_weights or DEFAULT_SUFFIX_WEIGHTS
    total = float(sum(weights))
    cum = []
    acc = 0.0
    for wgt in weights:
        acc += wgt / total
        cum.append(acc)

    per_col = split_across_cols(n_errors, len(col_names))
    for col in col_names:
        st = f"{stage}|suffix|{col}"
        eligible = F.col(col).isNotNull()
        if sex is not None:
            eligible = eligible & (F.col(sex) == sex_value)
        df, sel = select_rows(df, eligible, per_col, seed, st, exact, rate, rng=rng)
        if rng == MD5_RNG:
            # exact-integer weighted pick over cumulative int weights —
            # reproducible in DuckDB with the same modulus (oracle_er)
            int_total = int(sum(weights))
            v = md5_mod(draw_token(seed, st, "suffix"), KEY, int_total)
            bounds, accw = [], 0
            for wgt in weights[:-1]:
                accw += int(wgt)
                bounds.append(accw)
            pick = F.lit(suffixes[-1])
            for sfx, bound in reversed(list(zip(suffixes[:-1], bounds))):
                pick = F.when(v < bound, F.lit(sfx)).otherwise(pick)
        else:
            u = (F.pmod(F.xxhash64(F.lit(st), F.col(KEY)), F.lit(10**9)).cast("double")
                 / F.lit(1e9))
            pick = F.lit(suffixes[-1])
            for sfx, bound in reversed(list(zip(suffixes[:-1], cum[:-1]))):
                pick = F.when(u < bound, F.lit(sfx)).otherwise(pick)
        new = F.concat_ws(" ", F.col(col), pick)
        df = apply_cell_edit(df, col, sel, new, "add_name_suffix", ts)
    return df


@register("married_name_change")
def married_name_change(df: DataFrame, lineage: DataFrame, n_errors: int,
                        col_names: list[str], *, seed: int, stage: str, ts: int,
                        surnames: DataFrame, sex: str | None = None,
                        sex_value: str = "f", age: str | None = None,
                        exact: bool = True, rate: float | None = None,
                        rng: str = "xxhash"):
    """Replace (last-)name with a uniform draw from a surname dim
    (`R/6_file_based_errors.R:1-37`: female rows, age>20 when given).

    ``surnames`` is a 1-column (name) DataFrame (~88k rows in the
    reference's `lnames_all`): indexed once, then joined on a seeded
    per-row index — broadcastable, no Python.
    """
    idx = surnames.select(
        F.col(surnames.columns[0]).alias("__sname"),
        (F.row_number().over(Window.orderBy(surnames.columns[0])) - 1).alias("__sidx"),
    )
    n_names = idx.count()
    per_col = split_across_cols(n_errors, len(col_names))
    for col in col_names:
        st = f"{stage}|married|{col}"
        eligible = F.col(col).isNotNull()
        if sex is not None:
            eligible = eligible & (F.col(sex) == sex_value)
        if age is not None:
            eligible = eligible & (F.col(age) > 20)
        df, sel = select_rows(df, eligible, per_col, seed, st, exact, rate, rng=rng)
        sidx = (md5_mod(draw_token(seed, st, "sidx"), KEY, n_names)
                if rng == MD5_RNG
                else F.pmod(F.xxhash64(F.lit(st), F.col(KEY)), F.lit(n_names)).cast("int"))
        tmp = df.withColumn("__sidx", sidx) \
                .join(F.broadcast(idx), "__sidx", "left").drop("__sidx")
        tmp = apply_cell_edit(tmp, col, sel, F.col("__sname"),
                              "married_name_change", ts)
        df = tmp.drop("__sname")
    return df
