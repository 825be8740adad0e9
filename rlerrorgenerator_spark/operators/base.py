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
shuffle), or hash-Bernoulli for the 10^12-row path; the mutation itself is
either a built-in column expression or an Arrow-batched pandas UDF (one
per run of consecutive editors on the Bernoulli path).
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rlerrorgenerator_spark.rng import bernoulli_col, rank_col, seeded_bernoulli

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

# Accumulated-lineage column (Bernoulli scale path): instead of one lazy
# lineage DataFrame branch per stage — each re-running every pandas-UDF
# stage since the last checkpoint when finally materialized (quadratic
# re-execution; the round-1 inject-stage scaling killer) — the dirty
# table carries its own lineage as an array<struct> column appended in
# the SAME projection as the edit. One pass computes dirty AND lineage;
# the driver explodes the column once at the end.
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


def explode_lineage(df: DataFrame) -> DataFrame:
    """Accumulated-lineage array column → lineage table rows."""
    return df.select(
        F.col(KEY).alias("rid"), F.explode(LINEAGE_ARRAY_COL).alias("e")
    ).select("rid", "e.field", "e.error", "e.before", "e.after", "e.ts")


def union_lineage(dfs: list) -> DataFrame | None:
    """Union explicit lineage branches, ignoring accumulate-mode Nones."""
    real = [d for d in dfs if d is not None]
    if not real:
        return None
    out = real[0]
    for d in real[1:]:
        out = out.unionByName(d)
    return out

# name -> transform fn; mirrors the reference's by-name dynamic dispatch
# from the error-table config (`/root/reference/R/1_error.R:95-100`).
REGISTRY: dict[str, Callable] = {}


def register(name: str):
    def deco(fn):
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
) -> DataFrame | Column:
    """Row selection for a transform: either a key DataFrame (exact-k via
    seeded top-k) or — the scale path — a plain boolean COLUMN predicate
    (eligible ∧ hash-Bernoulli). The predicate form lets ``apply_cell_edit``
    run the entire stage as one narrow projection: no joins, no per-stage
    job, whole chains of transforms fuse into a single codegen stage.
    Same selected set as ``choose_ids(exact=False)`` (same hash)."""
    if exact:
        return choose_ids(df, eligible, k, seed, stage, True, rate)
    assert rate is not None
    return eligible & seeded_bernoulli(KEY, seed, stage, rate, rng)


def apply_cell_edit(
    df: DataFrame,
    col: str,
    selected: DataFrame | Column,
    new_value: Column,
    error: str,
    ts: int,
    lineage_after: Column | None = None,
) -> tuple[DataFrame, DataFrame | None]:
    """Overwrite ``col`` with ``new_value`` on selected rows; emit lineage.

    Two selection forms:

    - ``selected`` is a COLUMN predicate (Bernoulli scale path): the edit
      is one narrow projection — ``__sel`` flag, ``__after`` value,
      conditional overwrite. Zero joins, zero jobs; consecutive transforms
      fuse into one codegen stage. ``new_value`` may reference ``__sel``.
      The pandas-UDF editors do not come through here on this path: they
      test eligibility on the value inside one fused UDF
      (``edit.apply_edit_steps``).
    - ``selected`` is a key DataFrame (exact-k path): ``new_value`` is
      evaluated ONLY over the semi-joined selected rows, then the k-row
      edit set joins back (broadcast under the session threshold/AQE).

    Lineage: when ``df`` carries the accumulated-lineage array column
    (Bernoulli path; see ``LINEAGE_ARRAY_COL``), the entry is appended in
    the SAME projection and the returned lineage DataFrame is ``None``;
    otherwise an explicit lineage DataFrame is returned.
    ``lineage_after`` overrides the recorded ``after`` value (e.g.
    ``make_missing`` records ``""`` per the reference convention).
    """
    accumulate = LINEAGE_ARRAY_COL in df.columns

    if isinstance(selected, Column):
        tmp = df.withColumn("__sel", selected).withColumn("__after", new_value)
        after_rec = lineage_after if lineage_after is not None else F.col("__after")
        if accumulate:
            entry = lineage_entry(col, error, F.col(col), after_rec, ts)
            out = tmp.withColumn(
                LINEAGE_ARRAY_COL,
                F.when(F.col("__sel"),
                       F.array_append(F.col(LINEAGE_ARRAY_COL), entry))
                .otherwise(F.col(LINEAGE_ARRAY_COL)),
            )
            out = out.withColumn(
                col, F.when(F.col("__sel"), F.col("__after")).otherwise(F.col(col))
            ).drop("__sel", "__after")
            return out, None
        lineage_new = tmp.where(F.col("__sel")).select(
            F.col(KEY).alias("rid"),
            F.lit(col).alias("field"),
            F.lit(error).alias("error"),
            F.col(col).cast("string").alias("before"),
            after_rec.cast("string").alias("after"),
            F.lit(ts).cast("long").alias("ts"),
        )
        out = tmp.withColumn(
            col, F.when(F.col("__sel"), F.col("__after")).otherwise(F.col(col))
        ).drop("__sel", "__after")
        return out, lineage_new

    sel_rows = df.join(selected.select(KEY), KEY, "left_semi")
    edited = sel_rows.withColumn("__after", new_value).select(
        F.col(KEY),
        F.col(col).cast("string").alias("__before"),
        F.col("__after"),
    )
    after_rec = (lineage_after if lineage_after is not None
                 else F.col("__after").cast("string"))
    patch = edited.select(KEY, F.lit(True).alias("__sel"), "__after")
    out = df.join(patch, KEY, "left")
    if accumulate:
        entry = lineage_entry(col, error, F.col(col), after_rec, ts)
        out = out.withColumn(
            LINEAGE_ARRAY_COL,
            F.when(F.col("__sel").isNotNull(),
                   F.array_append(F.col(LINEAGE_ARRAY_COL), entry))
            .otherwise(F.col(LINEAGE_ARRAY_COL)),
        )
        lineage_new = None
    else:
        lineage_new = edited.select(
            F.col(KEY).alias("rid"),
            F.lit(col).alias("field"),
            F.lit(error).alias("error"),
            F.col("__before").alias("before"),
            after_rec.alias("after"),
            F.lit(ts).cast("long").alias("ts"),
        )
    out = (
        out.withColumn(col, F.when(F.col("__sel"), F.col("__after")).otherwise(F.col(col)))
        .drop("__sel", "__after")
    )
    return out, lineage_new
