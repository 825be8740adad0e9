"""Blocking: candidate-pair generation without O(n²) enumeration.

The reference blocks with 6 single-field equi-joins
(`/root/reference/benchmarking/utils.R:548-586`). Per the north star we
generalize to three strategies over the pages domain, unioned + deduped:

1. exact blocks on normalized keys (url, text prefix) — equi-joins,
   sort-merge/broadcast picked by Catalyst/AQE;
2. sorted-neighborhood over a sort key — a distributed global rank
   (range-partitioned sort, scales out), then neighbors via lag windows
   over dense-rank blocks (one hash shuffle);
3. MinHash-LSH on word shingles — signatures from one vectorized Arrow
   kernel per side (``functions/arrowhash.py``, a narrow map), band keys
   and the bucket join as built-in expressions; deterministic per row.
   ``signature="md5"`` runs the same plan on md5 signatures, which the
   cross-engine oracles reproduce (``build_candidates`` passes it
   through); the dedup plans reuse :func:`minhash_signature` and
   :func:`band_keys` in that mode.

Skew: pathological blocks (empty/boilerplate text → one giant LSH bucket)
are capped at ``max_block_size`` before the pair join — the explicit
skew-key handling the north rule asks for. The cap counts keys with a
map-side-combined aggregate and drops the hot ones with a broadcast
anti-join, so no row of a mega-block is ever shuffled into one task
(AQE skew-join splitting covers residual imbalance).

Conventions: the clean side exposes ``rid_a`` (its url), the dirty side
``rid_b`` (its row key). Output: ``(rid_a, rid_b, block)``;
:func:`minhash_blocks` returns ``(rid_a, rid_b, n_bands)`` and
:func:`build_candidates` labels its pairs ``minhash``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import Column
from pyspark.sql.types import LongType, StructField, StructType

from rlerrorgenerator_spark.functions.arrowhash import minhash_signature_batches
from rlerrorgenerator_spark.functions.textops import exploded_shingles
from rlerrorgenerator_spark.rng import md5_u64_str

# rows per block key above which build_candidates drops the key (exact
# and MinHash strategies); the e2e oracle SQL interpolates the same value
MAX_BLOCK_SIZE = 200


def normalize_url(col) -> Column:
    """Lowercase, strip scheme + www + trailing slash — the link-key
    normalization (analogue of the reference's ingest lowercasing,
    `R/1_error.R:15-17`)."""
    c = F.lower(col if isinstance(col, Column) else F.col(col))
    # strip ANY scheme-shaped prefix, not just literal http(s) — injected
    # char errors can land inside the scheme ("hftps://...") and a strict
    # regex would leave the whole prefix in the comparison
    c = F.regexp_replace(c, r"^[a-z0-9]{2,8}://", "")
    c = F.regexp_replace(c, r"^www\.", "")
    return F.regexp_replace(c, r"/$", "")


def _cap_blocks_two_sided(a: DataFrame, b: DataFrame, keys: list[str],
                          max_block_size: int) -> tuple[DataFrame, DataFrame]:
    """Drop keys whose group exceeds ``max_block_size`` on either side —
    the explicit skew guard in front of every block equi-join.

    One map-side-combined ``groupBy(*keys, "__side").count()`` over the
    union of both sides yields the hot list (keys over the cap on either
    side); a broadcast ``left_anti`` join of it then filters each side.
    Hot rows are dropped where they are produced, so none of them ever
    reaches a shuffle: the count exchange carries at most one narrow
    row per (key, side) per map task, and the pair join's exchanges carry
    only the surviving rows. Duplicate keys in the broadcast build side
    change nothing, so the hot list is not deduplicated.

    Each side feeds both the count and its own anti-join, so it is lazily
    ``localCheckpoint``ed: the MinHash signature kernel runs once per side
    instead of once per consumer. A key hot on one side contributes no
    pairs, because its rows vanish from that side of the equi-join; so
    the pairs equal those of the cross-engine oracles' per-side
    ``bkey NOT IN (SELECT … HAVING count > N)``."""
    a = a.localCheckpoint(eager=False)
    b = b.localCheckpoint(eager=False)
    u = (
        a.select(*keys).withColumn("__side", F.lit("a"))
        .unionByName(b.select(*keys).withColumn("__side", F.lit("b")))
    )
    hot = F.broadcast(
        u.groupBy(*keys, "__side").count()
        .where(F.col("count") > max_block_size)
        .select(*keys)
    )
    return (a.join(hot, keys, "left_anti"), b.join(hot, keys, "left_anti"))


def exact_blocks(clean: DataFrame, dirty: DataFrame,
                 max_block_size: int = 100) -> DataFrame:
    """Equi-join candidates on each normalized key (reference's single-field
    blocking unions, `utils.R:548-586`).

    SINGLE PASS over each side for ALL key families: one projection
    explodes (kname, bkey) structs, then one hot-key cap and ONE
    equi-join on (kname, bkey) replace the per-key pipelines — the same
    pairs, with one scan of each input instead of one per key and ~4×
    fewer serial job launches (checkpoint/broadcast barriers)."""
    key_exprs = {
        "url_norm": normalize_url("url"),
        # pre-truncate before the whitespace-collapse regex: the key is
        # 24 chars, so running the regex over the full multi-KB text
        # burns ~3x the whole strategy's cost for bytes the key never
        # sees (measured 28s -> 10s at 240k rows). 1000 raw chars
        # always cover 24 collapsed chars unless a text opens with
        # >976 whitespace chars — and such a text has no meaningful
        # 24-char prefix to block on anyway.
        "text_prefix": F.substring(
            F.regexp_replace(F.substring("text", 1, 1000), r"\s+", " "),
            1, 24),
    }

    def keyed(side: DataFrame, rid_col: str, alias: str) -> DataFrame:
        structs = F.array(*[
            F.struct(F.lit(name).alias("kname"), expr.alias("bkey"))
            for name, expr in key_exprs.items()
        ])
        return (
            side.select(F.col(rid_col).alias(alias), F.explode(structs).alias("kb"))
            .select(alias, F.col("kb.kname").alias("kname"),
                    F.col("kb.bkey").alias("bkey"))
            .where(F.col("bkey").isNotNull() & (F.length("bkey") > 0))
        )

    a, b = _cap_blocks_two_sided(keyed(clean, "url", "rid_a"),
                                 keyed(dirty, "rid", "rid_b"),
                                 ["kname", "bkey"], max_block_size)
    return (
        a.join(b, ["kname", "bkey"])
        .select("rid_a", "rid_b",
                F.concat(F.lit("exact:"), F.col("kname")).alias("block"))
    )


def sorted_neighborhood_blocks(clean: DataFrame, dirty: DataFrame,
                               window: int = 3) -> DataFrame:
    """Sorted-neighborhood: union both sides, range-sort on the key, pair
    rows within ``window`` positions across sides; the sort key is the
    normalized url.

    Spark's ``row_number`` over a global order requires a single-partition
    window — instead a distributed global rank (range-partitioned sort)
    feeds lag windows over blocks of consecutive ranks (below).
    """
    sort_expr = normalize_url("url")
    a = clean.select(F.col("url").alias("rid"), sort_expr.alias("skey"),
                     F.lit("a").alias("side"))
    b = dirty.select(F.col("rid").alias("rid"), sort_expr.alias("skey"),
                     F.lit("b").alias("side"))
    u = a.unionByName(b)
    # DISTRIBUTED global rank (zipWithIndex pattern, shared helper): a
    # bare Window.orderBy would compute the whole ranking in ONE task.
    # The rank is partitioning-independent: (skey, side, rid) is a total
    # order.
    from rlerrorgenerator_spark.functions.rank import global_rank

    ranked = global_rank(u, ["skey", "side", "rid"], out_col="rn")
    # Neighborhood pairing via DENSE-RANK BLOCKS + lag windows, not a
    # banded self-join: rn is dense (1..n), so blocks of B consecutive
    # ranks have exactly B rows (last block excepted) and a pair at rank
    # distance ≤ window either sits inside one block or straddles one
    # boundary — replicating each block's last `window` rows into the
    # next block's stream makes the per-block lag window see EXACTLY the
    # same pair set as the former |rn_a − rn_b| ≤ window band join
    # (whose |band| ≤ 1 condition was implied), at ONE hash shuffle on
    # the block id instead of three shifted join shuffles. B >> window
    # bounds replication overhead at window/B per row; blocks stay small
    # enough (~8k rows) that AQE keeps many tasks in flight at any core
    # count.
    B = 8192
    blk = ranked.withColumn("__bid",
                            ((F.col("rn") - 1) / B).cast("long"))
    tails = blk.where((F.col("rn") - 1) % B >= B - window) \
               .withColumn("__bid", F.col("__bid") + 1)
    stream = blk.unionByName(tails)
    ws = Window.partitionBy("__bid").orderBy("rn")
    prev = F.array(*[
        F.lag(F.struct("rid", "side"), i).over(ws)
        for i in range(1, window + 1)
    ])
    pairs = (
        stream.withColumn("__prev", prev)
        .select("rid", "side", F.explode("__prev").alias("p"))
        .where(F.col("p").isNotNull() & (F.col("p.side") != F.col("side")))
        .select(
            F.when(F.col("side") == "a", F.col("rid"))
            .otherwise(F.col("p.rid")).alias("rid_a"),
            F.when(F.col("side") == "a", F.col("p.rid"))
            .otherwise(F.col("rid")).alias("rid_b"),
            F.lit("snm").alias("block"),
        )
    )
    return pairs.dropDuplicates(["rid_a", "rid_b"])


def minhash_signature(df: DataFrame, text_col: str, id_col: str,
                      n_hashes: int = 16, shingle_k: int = 4, seed: int = 1,
                      signature: str = "xxhash") -> DataFrame:
    """MinHash signature per row over word ``shingle_k``-shingles:
    ``__id`` plus ``mh_0`` … ``mh_{n_hashes-1}``.

    ``signature="xxhash"`` (production): one ``mapInArrow``
    (``arrowhash.minhash_signature_batches``) over lower(text) split on
    whitespace runs — numpy passes over the Arrow buffers, a narrow map;
    ``mh_i`` are bigint.

    ``signature="md5"`` (verification): text split on single spaces
    (DuckDB's ``string_split``), an exploded shingle posting list and one
    groupBy of n_hashes mins of md5-u64(``mh{i}|`` || shingle) as
    zero-padded 20-digit strings (string min == numeric min), which
    DuckDB reproduces bit for bit. It ignores ``seed``: the salts are
    what the oracle SQL hardcodes."""
    if signature == "md5":
        # explode + one groupBy of n min-aggs: the array-expression form
        # (array_min(transform(...)) per hash) lets Catalyst inline the
        # shingle construction into each of the n expressions
        sh = exploded_shingles(df.select(F.col(id_col).alias("__id"), text_col),
                               text_col, ["__id"], shingle_k)
        return sh.groupBy("__id").agg(*[
            F.min(F.lpad(md5_u64_str(f"mh{i}|", "g"), 20, "0")).alias(f"mh_{i}")
            for i in range(n_hashes)
        ])
    pre = df.select(F.col(id_col).alias("__id"),
                    F.coalesce(text_col, F.lit("")).alias("__text"))
    out_schema = StructType(
        [pre.schema.fields[0]]
        + [StructField(f"mh_{i}", LongType(), True) for i in range(n_hashes)]
    )
    return pre.mapInArrow(
        lambda it: minhash_signature_batches(
            it, text_col="__text", n_hashes=n_hashes, shingle_k=shingle_k,
            seed=seed),
        out_schema,
    )


def band_keys(sig: DataFrame, rid_alias: str, bands: int,
              signature: str = "xxhash") -> DataFrame:
    """``(rid_alias, band, bkey)`` per signature row and band, from ONE
    explode over an array of (band, bkey) structs: a per-band union would
    re-evaluate the signature subtree once per band (Catalyst does not
    share it across union branches). xxhash keys are
    ``xxhash64(band, mh…)``; md5 keys are ``concat_ws('|', mh…)``, as the
    oracle SQL builds them, and carry no band salt, so join and cap on
    (band, bkey)."""
    rows = (len(sig.columns) - 1) // bands

    def key(b: int) -> Column:
        mh = [F.col(f"mh_{b * rows + r}") for r in range(rows)]
        return F.concat_ws("|", *mh) if signature == "md5" else F.xxhash64(F.lit(b), *mh)

    structs = F.array(*[F.struct(F.lit(b).alias("band"), key(b).alias("bkey"))
                        for b in range(bands)])
    return sig.select(F.col("__id").alias(rid_alias), F.explode(structs).alias("bk")) \
        .select(rid_alias, "bk.band", "bk.bkey")


def minhash_blocks(clean: DataFrame, dirty: DataFrame, text_col: str = "text",
                   n_hashes: int = 16, bands: int = 8, shingle_k: int = 4,
                   seed: int = 1, max_block_size: int = MAX_BLOCK_SIZE,
                   signature: str = "xxhash") -> DataFrame:
    """MinHash-LSH banding: rows agreeing on all rows of any band become
    candidates ``(rid_a, rid_b, n_bands)``. bands × rows_per_band =
    n_hashes; with 8 bands × 2 rows a pair at Jaccard s collides w.p.
    1−(1−s²)⁸ (≥0.99 for s≥0.6). ``signature="md5"`` is the verification
    mode the cross-engine oracle ``er_blocking_minhash`` runs: same plan,
    md5 signatures and band keys (see :func:`minhash_signature`)."""
    def keys(side: DataFrame, id_col: str, rid_alias: str) -> DataFrame:
        sig = minhash_signature(side, text_col, id_col, n_hashes, shingle_k,
                                seed, signature)
        return band_keys(sig, rid_alias, bands, signature)

    ka, kb = _cap_blocks_two_sided(keys(clean, "url", "rid_a"),
                                   keys(dirty, "rid", "rid_b"),
                                   ["band", "bkey"], max_block_size)
    return (
        ka.join(kb, ["band", "bkey"])
        .groupBy("rid_a", "rid_b")
        .agg(F.count("*").alias("n_bands"))
    )


def build_candidates(clean: DataFrame, dirty: DataFrame,
                     signature: str = "xxhash") -> DataFrame:
    """Union of the exact, SNM and MinHash strategies, deduped to
    (rid_a, rid_b); the exact and MinHash strategies are capped at
    ``MAX_BLOCK_SIZE`` rows per key. ``signature="md5"`` is the
    verification mode the cross-engine oracles run: the same plan with
    md5 MinHash signatures (see :func:`minhash_blocks`).

    ``block`` keeps the first strategy that produced the pair (for
    diagnostics); dedup is a groupBy on the pair key — map-side partial
    aggregation keeps the shuffle small.
    """
    minhash = minhash_blocks(clean, dirty, max_block_size=MAX_BLOCK_SIZE,
                             signature=signature)
    out = (
        exact_blocks(clean, dirty, max_block_size=MAX_BLOCK_SIZE)
        .unionByName(sorted_neighborhood_blocks(clean, dirty))
        .unionByName(minhash.select("rid_a", "rid_b",
                                    F.lit("minhash").alias("block")))
    )
    return out.groupBy("rid_a", "rid_b").agg(F.min("block").alias("block"))
