"""Row-generating transforms: duplicates, twins / near-duplicates.

Reference: `/root/reference/R/6_file_based_errors.R:39-74` (add_duplicates)
and `:129-191` (twins_generate); benchmark twin variant at
`benchmarking/utils.R:663-697`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rlerrorgenerator_spark.operators.base import (
    KEY,
    apply_cell_edit,
    choose_ids,
    flag_keys,
    register,
)
from rlerrorgenerator_spark.rng import (
    MD5_RNG,
    draw_token,
    md5_mod,
    md5_u64,
    rank_col,
    seeded_bernoulli,
)


@register("add_duplicates")
def add_duplicates(df: DataFrame, lineage: DataFrame, n_errors: int,
                   col_names: list[str] | None = None, *, seed: int, stage: str,
                   ts: int, clean: DataFrame, exact: bool = True,
                   rate: float | None = None, rng: str = "xxhash"):
    """Append the *clean* originals of n already-errored rows.

    Reference semantics (`R/6_file_based_errors.R:39-74`): sample from ids
    with ≥1 lineage entry; the duplicate is the clean copy, so the dirty
    table ends up holding both an errored and a pristine version of the
    same entity. Must run last (`R/1_error.R:115-126`) — enforced by the
    mess_data driver.

    ``clean`` is the prepped clean table (same schema as ``df``). The new
    rows get ``rid = orig_url || '#dup<k>'`` so row keys stay unique while
    ``orig_url`` keeps the ground-truth cluster anchor.
    """
    st = f"{stage}|add_duplicates"
    # cluster anchor: pages carry orig_url; person-shaped tables use the
    # row key itself (their ground truth lives in voter_reg_num)
    anchor = "orig_url" if "orig_url" in clean.columns else KEY
    errored = lineage.select(F.col("rid").alias(KEY)).distinct()
    # restrict to ids present in df (lineage may reference other tables)
    errored = errored.join(df.select(KEY), KEY, "left_semi")
    if exact:
        sel = errored.orderBy(rank_col(KEY, seed, st)).limit(int(n_errors))
    else:
        sel = errored.where(seeded_bernoulli(KEY, seed, st, rate, rng))
    dups = (
        clean.join(sel.withColumnRenamed(KEY, anchor), anchor, "left_semi")
        .withColumn(KEY, F.concat(F.col(anchor), F.lit("#dup1")))
    )
    out = df.unionByName(dups.select(*df.columns))
    ln = dups.select(
        F.col(KEY).alias("rid"),
        F.lit("").alias("field"),
        F.lit("duplicate").alias("error"),
        F.lit(None).cast("string").alias("before"),
        F.lit(None).cast("string").alias("after"),
        F.lit(ts).cast("long").alias("ts"),
    )
    return out, ln


@register("add_near_duplicates")
def add_near_duplicates(df: DataFrame, lineage: DataFrame, n_errors: int,
                        col_names: list[str] | None = None, *, seed: int,
                        stage: str, ts: int, exact: bool = True,
                        rate: float | None = None, rng: str = "xxhash"):
    """Pages-domain analogue of ``twins_generate``
    (`R/6_file_based_errors.R:129-191`): append a *near*-duplicate of
    sampled rows — same entity content, shifted url + crawl time — the way
    a twin shares (lname, address, age) but differs in fname.

    New row: ``url || '~2'``, ``warc_ts + <1..3600s>``, same html/text/lang;
    ``orig_url`` keeps the cluster anchor.
    """
    st = f"{stage}|near_dup"
    sel = choose_ids(df, F.lit(True), n_errors, seed, st, exact, rate, rng=rng)
    base = df.join(sel.select(KEY), KEY, "left_semi")
    if rng == MD5_RNG:
        shift = (md5_mod(draw_token(seed, st, "shift"), KEY, 3600) + 1).cast("long")
    else:
        shift = (F.pmod(F.xxhash64(F.lit(st), F.col(KEY)), F.lit(3600)) + 1).cast("long")
    twins = (
        base.withColumn("url", F.concat(F.col("url"), F.lit("~2")))
        .withColumn("warc_ts", F.timestamp_seconds(F.unix_timestamp("warc_ts") + shift))
        .withColumn(KEY, F.concat(F.col("orig_url"), F.lit("#twin1")))
    )
    out = df.unionByName(twins.select(*df.columns))
    ln = twins.select(
        F.col(KEY).alias("rid"),
        F.lit("url").alias("field"),
        F.lit("near_duplicate").alias("error"),
        F.col("orig_url").alias("before"),
        F.col("url").cast("string").alias("after"),
        F.lit(ts).cast("long").alias("ts"),
    )
    return out, ln


@register("make_twins")
def make_twins(df: DataFrame, lineage: DataFrame, n_errors: int,
               col_names: list[str] | None = None, *, seed: int, stage: str,
               ts: int, exact: bool = True, rate: float | None = None,
               rng: str = "xxhash"):
    """Benchmark twin variant (`/root/reference/benchmarking/utils.R:663-697`):
    among rows with a precomputed ``twin_id``/``bday_twin`` (see
    ``sources.persons.get_bdays``), sample twin groups and overwrite
    ``dob`` with the shared twin birthday — realized twins become
    same-(lname,age,dob) entities."""
    st = f"{stage}|make_twins"
    eligible = (
        F.col("twin_id").isNotNull()
        & F.col("bday_twin").isNotNull()
        & (F.col("dob") != F.col("bday_twin"))
    )
    # sample twin GROUPS, keep eligible members of chosen groups
    # (`utils.R:673-680` samples group ids)
    if exact:
        groups = df.where(eligible).select("twin_id").distinct()
        df, chosen = flag_keys(
            df, groups.orderBy(rank_col("twin_id", seed, st)).limit(int(n_errors)),
            on="twin_id")
    else:
        chosen = seeded_bernoulli("twin_id", seed, st, rate, rng)
    return apply_cell_edit(df, "dob", eligible & chosen, F.col("bday_twin"),
                           "make_twins", ts)


@register("twins_generate")
def twins_generate(df: DataFrame, lineage: DataFrame, n_errors: int,
                   col_names: list[str], *, seed: int, stage: str, ts: int,
                   names: DataFrame, id_col: str | None = None,
                   sex: str | None = None, exact: bool = True,
                   rate: float | None = None, rng: str = "xxhash"):
    """Person-fixture twins (`R/6_file_based_errors.R:129-191`): for sampled
    rows append a twin whose first name has the same length + first letter
    (drawn from a name dim), with a derived id.

    ``names`` is a 1-column (name) dim; bucketed by (length, first letter)
    and joined broadcast; per-bucket pick is seeded. The reference's id
    scheme ``int("123" + id + "789")`` becomes ``rid || '#twin1'`` (string
    keys at scale).
    """
    fname = col_names[0]
    st = f"{stage}|twins"
    sel = choose_ids(df, F.col(fname).isNotNull() & (F.length(fname) > 0),
                     n_errors, seed, st, exact, rate, rng=rng)
    base = df.join(sel.select(KEY), KEY, "left_semi")

    nm = names.select(F.col(names.columns[0]).alias("__nm")).where(
        F.col("__nm").isNotNull() & (F.length("__nm") > 0)
    )
    buck = nm.select(
        "__nm",
        F.length("__nm").alias("__len"),
        F.substring("__nm", 1, 1).alias("__fl"),
    )
    nm_order = (md5_u64(draw_token(seed, st, "nm"), F.col("__nm"))
                if rng == MD5_RNG else F.xxhash64(F.lit(st), F.col("__nm")))
    w = Window.partitionBy("__len", "__fl").orderBy(nm_order)
    pick = buck.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1) \
               .select("__len", "__fl", "__nm")
    twins = (
        base.withColumn("__len", F.length(fname))
        .withColumn("__fl", F.substring(fname, 1, 1))
        .join(F.broadcast(pick), ["__len", "__fl"], "left")
        .withColumn(fname, F.coalesce(F.col("__nm"), F.col(fname)))
        .drop("__len", "__fl", "__nm")
        .withColumn(KEY, F.concat(F.col(KEY), F.lit("#twin1")))
    )
    out = df.unionByName(twins.select(*df.columns))
    ln = twins.select(
        F.col(KEY).alias("rid"),
        F.lit(fname).alias("field"),
        F.lit("twin").alias("error"),
        F.lit(None).cast("string").alias("before"),
        F.col(fname).cast("string").alias("after"),
        F.lit(ts).cast("long").alias("ts"),
    )
    return out, ln
