"""Pairwise feature extraction + deterministic match scoring.

Reference: ``add_feature_vector`` (`/root/reference/benchmarking/utils.R:189-311`)
computes 23 ``metric_*`` features per candidate pair (name dl/jw/soundex
distances, dob component distances, swap flags, gender/race composition),
then a trained model thresholds match probability at 0.5
(`utils.R:362-364,1006`). The reference's own threshold features
(`utils.R:606-617`: jw<0.15 per name + ≥2 dob component agreements) show
the shape a deterministic scorer needs — that is what we ship (ML
optional, not required by the north rule).

Pages-domain feature family (SURVEY.md §7.5):

- jw + normalized-lev on the normalized url (name analogue);
- normalized-lev on a text prefix + token Jaccard on text (content);
- length ratio, lang equality (the gender/race-style categorical);
- warc_ts delta in days (dob analogue).

Two steps leave the JVM, each once per Arrow batch: the per-row
shingle hashing (one ``mapInArrow`` kernel per side, before the pair
join) and JW (one pandas UDF over the already blocked pair table).
Everything else is built-in (codegen). At 100 TB the pair table is
repartitioned on the blocking key first so each Arrow batch is one block
(`SURVEY.md §4`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from rlerrorgenerator_spark.functions.arrowhash import sided_shingle_batches
from rlerrorgenerator_spark.functions.similarity import (
    jaro_winkler_udf,
    norm_levenshtein,
    norm_levenshtein_capped,
)
from rlerrorgenerator_spark.linkage.blocking import normalize_url


PAIR_COLS = ["url", "lang", "warc_ts"]
TEXT_PREFIX = 64


def attach_pair_attrs(candidates: DataFrame, clean: DataFrame, dirty: DataFrame,
                      exact_shingles: bool = False) -> DataFrame:
    """Widen (rid_a, rid_b) with _a/_b suffixed attributes — the
    reference's ``attach_dbs_to_ids`` (`utils.R:152-162`).

    Shingle arrays are computed here, ONCE PER ROW on each side before the
    pair join — computing them inside the pair-level feature expressions
    would redo the array construction per candidate pair. They are stored
    as HASHED shingles, sorted-distinct per row (``array<int>`` sampled
    by default, ``array<bigint>`` with ``exact_shingles``): 4- or 8-byte
    elements instead of ~25-byte strings through the join, and the later
    array_intersect compares integers, not strings.

    The sided projections are SLIM: full texts never enter the pair join
    — only the 64-char prefix, the length, and the hashed shingles
    (shipping whole page bodies through the pair shuffle measured ~GBs
    at 10^5 pairs and would be TBs at crawl scale)."""

    def sided(df: DataFrame, key_col: str, alias: str) -> DataFrame:
        # One mapInArrow hashes the shingles in a handful of numpy passes
        # (functions/arrowhash.py); every other projection stays JVM
        # codegen.
        #
        # Default: deterministic 1-in-4 shingle subsample (keep h % 4 ==
        # 0) of 32-bit hashes. When BOTH sides are sampled the pair
        # Jaccard over the samples is an unbiased estimate of the true
        # shingle Jaccard (MinHash-style subsampling) — and the pair
        # shuffle ships 4× fewer array bytes, the dominant bandwidth cost
        # of scoring. Truncating 64→32 bits halves those bytes again; at
        # ≤ ~400 shingles/doc the extra collision probability is
        # ~n²/2³³ ≈ 2e-5, invisible next to the sampling variance.
        # Short documents keep the FULL array: near the 20-token body
        # floor a doc has ~17 shingles → ~4 sampled, a high-variance (or
        # empty → jaccard forced to 0) estimate exactly where the gated
        # content evidence matters most. Below 32 shingles the bandwidth
        # saving is noise anyway, so exact Jaccard costs nothing. A
        # ``shs_*`` flag records which form shipped so add_features can
        # symmetrize mixed full-vs-sampled pairs at the 32 boundary.
        #
        # exact_shingles (the cross-engine verification mode): full
        # 64-bit shingle-hash sets, no subsample, no truncation —
        # |intersect|/|union| equals the exact string-shingle Jaccard an
        # independent engine computes.
        cols = list(dict.fromkeys([key_col, *PAIR_COLS]))  # url is both
        pre = df.select(*cols, F.coalesce("text", F.lit("")).alias("text"))
        elem = LongType() if exact_shingles else IntegerType()
        out_schema = StructType(
            pre.schema.fields
            + [StructField("__sh", ArrayType(elem), True),
               StructField("__shs", BooleanType(), True)]
        )
        mapped = pre.mapInArrow(
            lambda it: sided_shingle_batches(it, text_col="text", shingle_k=4,
                                             exact=exact_shingles),
            out_schema,
        )
        return mapped.select(
            F.col(key_col).alias(f"rid_{alias}"),
            *[F.col(c).alias(f"{c}_{alias}") for c in PAIR_COLS],
            F.substring("text", 1, TEXT_PREFIX).alias(f"tp_{alias}"),
            F.length("text").alias(f"tlen_{alias}"),
            F.col("__sh").alias(f"sh_{alias}"),
            F.col("__shs").alias(f"shs_{alias}"),
        )

    a = sided(clean, "url", "a")
    b = sided(dirty, "rid", "b")
    return candidates.join(a, "rid_a").join(b, "rid_b")


def add_features(pairs: DataFrame) -> DataFrame:
    """Compute the metric_* columns on a widened pair table. The three
    edit distances are capped at their score gates (see
    :func:`score_pairs`)."""
    un_a, un_b = normalize_url("url_a"), normalize_url("url_b")
    tp_a, tp_b = F.col("tp_a"), F.col("tp_b")
    # word-SHINGLE Jaccard, not unigram: corpora with small vocabularies
    # (e.g. templated/boilerplate web text) make unigram sets collide on
    # unrelated documents; 4-word shingles encode order and stay ~0 for
    # non-matches while 1-2 char edits only break a handful of shingles.
    # sh_a/sh_b are precomputed per row in attach_pair_attrs. Mixed pairs
    # (one side shipped full, the other 1-in-4 sampled — possible at the
    # 32-shingle boundary) are symmetrized by filtering the full side down
    # to the same h%4==0 sample, so the estimate stays unbiased instead of
    # comparing a sample against a full set (which biases Jaccard ~4× low).
    eff_a = F.when(
        F.col("shs_b") & ~F.col("shs_a"),
        F.filter(F.col("sh_a"), lambda h: F.pmod(h, F.lit(4)) == 0),
    ).otherwise(F.col("sh_a"))
    eff_b = F.when(
        F.col("shs_a") & ~F.col("shs_b"),
        F.filter(F.col("sh_b"), lambda h: F.pmod(h, F.lit(4)) == 0),
    ).otherwise(F.col("sh_b"))
    inter = F.size(F.array_intersect(eff_a, eff_b)).cast("double")
    # both sides ship sorted-distinct arrays (arrowhash), so
    # |a ∪ b| = |a| + |b| − |a ∩ b| — array_union's second per-pair
    # hash-set build would be pure waste (OpenHashSet get/rehash measured
    # ~4% of the 4-core leg's JFR samples)
    union = (F.size(eff_a) + F.size(eff_b)).cast("double") - inter
    # Bounded Levenshtein (early-exit O(n·t)) wherever the score's
    # consumers gate the value anyway — see norm_levenshtein_capped.
    # url_lev_abs: the score zeroes url evidence beyond 3 edits and
    # hard-gates at 2, so every value >3 is interchangeable; map the
    # bounded built-in's -1 overflow marker to 4.
    lv1 = F.levenshtein(un_a, un_b, 3)
    lv2 = F.levenshtein(F.lower("url_a"), F.lower("url_b"), 3)
    url_lev_abs = F.least(
        F.when(lv1 < 0, 4).otherwise(lv1),
        F.when(lv2 < 0, 4).otherwise(lv2),
    ).cast("double")
    # text/swap prefix distances are gated at 0.25 × the 64-char prefix =
    # 16 edits
    text_lev = norm_levenshtein_capped(tp_a, tp_b, 16)
    swap_lev = norm_levenshtein_capped(
        tp_a, F.substring(F.coalesce("lang_b", F.lit("")), 1, TEXT_PREFIX), 16)
    return (
        pairs.withColumn("metric_url_jw", jaro_winkler_udf(un_a, un_b))
        .withColumn("metric_url_lev", norm_levenshtein(un_a, un_b))
        # min over normalized and raw forms: a char error landing inside
        # the scheme/"www." makes normalization strip one side but not the
        # other (lev 4-12 for what is really a 1-edit difference); the raw
        # comparison still sees 1 edit.
        .withColumn("metric_url_lev_abs", url_lev_abs)
        .withColumn("metric_text_lev", text_lev)
        # swap-flag analogue (`utils.R:250-254` fname↔lname swap): does the
        # dirty row's lang field hold the clean row's text?
        .withColumn("metric_swap_lev", swap_lev)
        .withColumn(
            "metric_text_jaccard",
            F.when(union > 0, inter / union).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "metric_len_ratio",
            F.least("tlen_a", "tlen_b").cast("double")
            / F.greatest(F.col("tlen_a"), F.col("tlen_b"), F.lit(1)).cast("double"),
        )
        .withColumn(
            "metric_lang_eq",
            F.when(F.col("lang_a").isNull() | F.col("lang_b").isNull(), 0.5)
            .when(F.col("lang_a") == F.col("lang_b"), 1.0)
            .otherwise(0.0),
        )
        .withColumn(
            "metric_ts_days",
            F.abs(
                F.unix_timestamp("warc_ts_a") - F.unix_timestamp("warc_ts_b")
            ).cast("double")
            / F.lit(86400.0),
        )
    )


def add_match_prob(feat: DataFrame) -> DataFrame:
    """Deterministic weighted score in [0,1], thresholded at 0.5 like the
    reference's model output (`utils.R:362-364`).

    Weights follow the reference's threshold-feature shape
    (`utils.R:606-617`): strong url agreement + strong content agreement
    ⇒ match; categorical (lang) and ts act as soft evidence. Design notes:

    - url similarity uses *absolute* edit distance (injected url errors
      are 1-2 edits; JW saturates on long shared url prefixes and cannot
      separate sibling pages of one host);
    - content similarity is the max over direct text similarity, token
      Jaccard, and the swap-repair similarity (text_a vs lang_b) so
      ``swap_fields``-errored rows still link.
    """
    url_sim = F.greatest(
        F.lit(0.0), F.lit(1.0) - F.col("metric_url_lev_abs") / F.lit(3.0)
    )
    # content terms are GATED: weak similarity contributes zero rather than
    # a graded value — ungated prefix-lev similarity lets boilerplate-ish
    # sibling pages accumulate ~0.35 "content" evidence and tip over the
    # threshold (measured on the sf0.01 documents corpus).
    prefix_sim = F.when(
        F.col("metric_text_lev") <= 0.25, F.lit(1.0) - F.col("metric_text_lev")
    ).otherwise(F.lit(0.0))
    swap_sim = F.when(
        F.col("metric_swap_lev") <= 0.25, F.lit(1.0) - F.col("metric_swap_lev")
    ).otherwise(F.lit(0.0))
    jac_sim = F.when(
        F.col("metric_text_jaccard") >= 0.5, F.col("metric_text_jaccard")
    ).otherwise(F.lit(0.0))
    content_sim = F.greatest(prefix_sim, jac_sim, swap_sim)
    ts_sim = F.lit(1.0) / (F.lit(1.0) + F.col("metric_ts_days") / F.lit(30.0))
    # Hard url gate: injected url errors are single-char edits and the
    # near-dup twin suffix adds 2 — a true pair NEVER strays beyond 2-3
    # edits, while distinct entities with cloned content (mirror pages)
    # sit at arbitrary url distance. Without the gate, content-identical
    # mirrors are unseparable from true matches.
    gate = (F.col("metric_url_lev_abs") <= 2).cast("double")
    score = gate * (
        F.lit(0.45) * url_sim
        + F.lit(0.45) * content_sim
        + F.lit(0.05) * F.col("metric_lang_eq")
        + F.lit(0.05) * ts_sim
    )
    return feat.withColumn("match_prob", score).withColumn(
        "prediction", (F.col("match_prob") > 0.5).cast("boolean")
    )


def score_pairs(candidates: DataFrame, clean: DataFrame, dirty: DataFrame,
                exact_shingles: bool = False) -> DataFrame:
    """candidates (rid_a, rid_b, block) → scored pairs with metric_* +
    match_prob + prediction. Heavy payload columns (texts, shingle arrays)
    are dropped from the output — the scored table checkpoints lean.
    ``exact_shingles=True`` is the cross-engine verification mode: the
    same shingle kernel ships full unsampled 64-bit sets, so the Jaccard
    is exact; nothing else changes.

    Scored-output contract (both modes): the persisted distance metrics
    are CAPPED at their score gates — ``metric_url_lev_abs`` saturates
    at 4 (the score zeroes url evidence beyond 3 edits) and
    ``metric_text_lev`` / ``metric_swap_lev`` report 1.0 for any raw
    prefix distance > 16 (the 0.25 × 64-char gate). ``match_prob`` and
    ``prediction`` are provably unchanged by the caps (every consumer
    gates below them), so an engine that computes the uncapped
    distances derives the same scores; anything that treats these
    three columns as TRUE normalized distances must tolerate the
    saturated range."""
    out = add_match_prob(add_features(
        attach_pair_attrs(candidates, clean, dirty, exact_shingles)))
    return out.drop("sh_a", "sh_b", "shs_a", "shs_b", "tp_a", "tp_b")
