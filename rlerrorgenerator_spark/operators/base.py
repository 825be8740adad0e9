"""Shared machinery for error-injection transforms.

Reference semantics being reproduced (SURVEY.md §2.A "common driver
semantics", `/root/reference/R/1_error.R:48-109`):

- resolve ``n_errors`` from a fraction or absolute count;
- sample candidate rows *without replacement* among eligible rows;
- mutate the cell;
- append lineage rows ``(rid, field, error, before, after, ts)``
  (`/root/reference/R/1_error.R:30-36` ``update_error_record``).

Scale design: candidate sampling is a distributed seeded top-k
(``orderBy(xxhash64).limit(k)`` → TakeOrderedAndProject, no global
shuffle), or hash-Bernoulli for the 10^12-row path. Either way the
selection reaches the edit as a boolean column, and the edit appends its
lineage to the in-row ``__lineage`` array in the same projection. The
mutation itself is a built-in column expression or an Arrow-batched
pandas UDF (``edit.apply_edit_steps``).
"""

from __future__ import annotations

import functools
import math
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rlerrorgenerator_spark.rng import rank_col, seeded_bernoulli

KEY = "rid"

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("rid", T.StringType(), False),
        T.StructField("field", T.StringType(), False),
        T.StructField("error", T.StringType(), False),
        T.StructField("before", T.StringType(), True),
        T.StructField("after", T.StringType(), True),
        T.StructField("ts", T.LongType(), False),
    ]
)

# Accumulated-lineage column: instead of one lazy lineage DataFrame
# branch per stage — each re-running every pandas-UDF stage since the
# last checkpoint when finally materialized (quadratic re-execution; the
# round-1 inject-stage scaling killer) — the dirty table carries its own
# lineage as an array<struct> column appended in the SAME projection as
# the edit. One pass computes dirty AND lineage; the driver explodes the
# column once, before the row-generating ops.
LINEAGE_ARRAY_COL = "__lineage"
LINEAGE_ENTRY_TYPE = (
    "array<struct<field:string,error:string,before:string,after:string,ts:bigint>>"
)


def lineage_entry(col: str, error: str, before: Column, after: Column, ts: int) -> Column:
    return F.struct(
        F.lit(col).alias("field"),
        F.lit(error).alias("error"),
        before.cast("string").alias("before"),
        after.cast("string").alias("after"),
        F.lit(ts).cast("long").alias("ts"),
    )


def empty_lineage_col() -> Column:
    return F.expr("array()").cast(LINEAGE_ENTRY_TYPE)


def explode_lineage(df: DataFrame) -> DataFrame:
    """Accumulated-lineage array column → lineage table rows."""
    return df.select(
        F.col(KEY).alias("rid"), F.explode(LINEAGE_ARRAY_COL).alias("e")
    ).select("rid", "e.field", "e.error", "e.before", "e.after", "e.ts")


def with_lineage_col(df: DataFrame, lineage: DataFrame | None) -> DataFrame:
    """Lineage table rows → accumulated-lineage array column on ``df``."""
    if lineage is None:
        return df.withColumn(LINEAGE_ARRAY_COL, empty_lineage_col())
    prior = lineage.groupBy(F.col("rid").alias(KEY)).agg(
        F.collect_list(F.struct("field", "error", "before", "after", "ts"))
        .cast(LINEAGE_ENTRY_TYPE).alias(LINEAGE_ARRAY_COL))
    return df.join(prior, KEY, "left").select(
        *df.columns,
        F.coalesce(LINEAGE_ARRAY_COL, empty_lineage_col()).alias(LINEAGE_ARRAY_COL))


# Row-generating transforms: they append rows, read the finished lineage
# table and return their lineage rows explicitly. ``mess_data`` runs them
# after every cell transform.
ROW_OPS = {"add_duplicates", "add_near_duplicates", "twins_generate"}

# name -> transform fn; mirrors the reference's by-name dynamic dispatch
# from the error-table config (`/root/reference/R/1_error.R:95-100`).
REGISTRY: dict[str, Callable] = {}


def _cell_transform(fn):
    """A cell transform edits ``df`` in place and appends its lineage to
    ``__lineage``; this wrapper gives it the public contract
    ``(df, lineage, ...) → (df', new_lineage_rows)``. On a table that
    carries ``__lineage`` (inside ``mess_data``) the new rows stay in the
    column and ``None`` is returned. Otherwise (a standalone call) the
    column is seeded from ``lineage``, and the result comes back without
    it, plus the appended entries as lineage rows."""
    @functools.wraps(fn)
    def run(df: DataFrame, lineage: DataFrame | None, *args, **kwargs):
        if LINEAGE_ARRAY_COL in df.columns:
            return fn(df, lineage, *args, **kwargs), None
        seeded = with_lineage_col(df, lineage) \
            .withColumn("__n0", F.size(LINEAGE_ARRAY_COL))
        out = fn(seeded, lineage, *args, **kwargs)
        appended = out.withColumn(LINEAGE_ARRAY_COL, F.filter(
            LINEAGE_ARRAY_COL, lambda e, i: i >= F.col("__n0")))
        return out.drop(LINEAGE_ARRAY_COL, "__n0"), explode_lineage(appended)

    return run


def register(name: str):
    def deco(fn):
        if name not in ROW_OPS:
            fn = _cell_transform(fn)
        REGISTRY[name] = fn
        fn.__transform_name__ = name
        return fn
    return deco


def empty_lineage(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], LINEAGE_SCHEMA)


def resolve_n_errors(amount: float, n_rows: int) -> int:
    """`ceiling(amount*n)` if amount<1 else int(amount)
    (`/root/reference/R/1_error.R:78-80`)."""
    return math.ceil(amount * n_rows) if amount < 1 else int(amount)


def split_across_cols(n_errors: int, n_cols: int) -> int:
    """`floor(n_errors / p)` per column
    (`/root/reference/R/2_edit_distance_errors.R:6-8`)."""
    return max(n_errors // n_cols, 0) if n_cols else 0


def choose_ids(
    df: DataFrame,
    eligible: Column,
    k: int,
    seed: int,
    stage: str,
    exact: bool = True,
    rate: float | None = None,
    rng: str = "xxhash",
) -> DataFrame:
    """Seeded sample of ``k`` eligible row keys, without replacement.

    exact=True  → distributed top-k on a deterministic hash rank
                  (test-scale & "exactly k" semantics of the reference).
    exact=False → hash-threshold Bernoulli(rate): no ranking, the
                  10^12-row path (binomially equivalent; SURVEY.md §4).
    ``rng='md5'`` (Bernoulli only) makes the selection reproducible in a
    DuckDB oracle (rng.py md5 mode).
    """
    cand = df.where(eligible).select(KEY)
    if exact:
        return cand.orderBy(rank_col(KEY, seed, stage)).limit(int(k))
    assert rate is not None
    return cand.where(seeded_bernoulli(KEY, seed, stage, rate, rng))


def select_rows(
    df: DataFrame,
    eligible: Column,
    k: int,
    seed: int,
    stage: str,
    exact: bool = True,
    rate: float | None = None,
    rng: str = "xxhash",
) -> tuple[DataFrame, Column]:
    """Row selection for a transform, as a boolean COLUMN over the
    returned table.

    Bernoulli (``exact=False``): eligible ∧ hash-Bernoulli, a plain
    predicate (same set as ``choose_ids(exact=False)``); the table is
    returned unchanged. Exact-k: the seeded top-k key set of
    ``choose_ids`` is left-joined onto the table as the ``__sel`` flag.
    Either way ``apply_cell_edit`` runs the edit as one projection."""
    if not exact:
        assert rate is not None
        return df, eligible & seeded_bernoulli(KEY, seed, stage, rate, rng)
    return flag_keys(df, choose_ids(df, eligible, k, seed, stage, True, rate))


def flag_keys(df: DataFrame, keys: DataFrame, on: str = KEY
              ) -> tuple[DataFrame, Column]:
    """Left-join a key set onto ``df`` as the ``__sel`` flag column."""
    flags = keys.select(on, F.lit(True).alias("__sel"))
    return (df.join(flags, on, "left").select(*df.columns, "__sel"),
            F.coalesce(F.col("__sel"), F.lit(False)))


def apply_cell_edit(
    df: DataFrame,
    col: str,
    selected: Column,
    new_value: Column,
    error: str,
    ts: int,
    lineage_after: Column | None = None,
) -> DataFrame:
    """Overwrite ``col`` with ``new_value`` on selected rows and append
    each edit's lineage entry to ``__lineage``, in one narrow projection:
    ``__sel`` flag, ``__after`` value, conditional overwrite. Zero joins,
    zero jobs; consecutive transforms fuse into one codegen stage.
    ``selected`` comes from ``select_rows``; ``new_value`` may reference
    ``__sel`` and is evaluated on every row, so it must be total. The
    pandas-UDF editors do not come through here: they test eligibility on
    the value inside one UDF (``edit.apply_edit_steps``).

    ``lineage_after`` overrides the recorded ``after`` value (e.g.
    ``make_missing`` records ``""`` per the reference convention).
    """
    tmp = df.withColumn("__sel", selected).withColumn("__after", new_value)
    after_rec = lineage_after if lineage_after is not None else F.col("__after")
    entry = lineage_entry(col, error, F.col(col), after_rec, ts)
    out = tmp.withColumn(
        LINEAGE_ARRAY_COL,
        F.when(F.col("__sel"),
               F.array_append(F.col(LINEAGE_ARRAY_COL), entry))
        .otherwise(F.col(LINEAGE_ARRAY_COL)),
    )
    return out.withColumn(
        col, F.when(F.col("__sel"), F.col("__after")).otherwise(F.col(col))
    ).drop("__sel", "__after")
