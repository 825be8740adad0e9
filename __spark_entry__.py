"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship record-linkage pipeline on sf0.001;
``queries()`` exposes every implemented operator family from SURVEY.md §2
(+ the training-data ops) over the driver's parquet tables, including one
named ``er_op_<operator>`` query per §2.A error transform. As of round 3
the er_op_* queries are ORACLE-CHECKED: each runs the real transform in
``rng='md5'`` mode and its DuckDB oracle re-derives the entire injection
(selection, draws, edits) bit-identically — see
rlerrorgenerator_spark/oracle_er.py. Rows-only remainders per the driver
contract: the er_pipeline family, er_op_calibration and
er_audit_violations (iterative seeded-RNG programs, self-checking rows).

Float discipline for cross-engine value-hash parity: every double
aggregate is ``round``-ed identically on both sides, embeddings are cast
to DOUBLE before cosine (DuckDB's list_cosine_similarity is float32
natively), and MinHash uses an md5-derived u64 computed bit-identically
in both engines (see the md5 mode of
rlerrorgenerator_spark/linkage/blocking.py::minhash_signature).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _t(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(_t(sf_dir, name))


# ---------------------------------------------------------------- relational

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan+filter+groupBy+agg (SURVEY.md §2.B aggs)."""
    li = _load(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + agg + top-k (broadcastable dims, TakeOrdered top-k)."""
    cust = _load(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _load(spark, sf_dir, "orders")
    li = _load(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way join through the star schema + agg per nation."""
    li = _load(spark, sf_dir, "lineitem")
    orders = _load(spark, sf_dir, "orders")
    cust = _load(spark, sf_dir, "customer")
    supp = _load(spark, sf_dir, "supplier")
    nation = _load(spark, sf_dir, "nation")
    region = _load(spark, sf_dir, "region")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


def events_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _load(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.round(F.avg("value"), 6).alias("avg_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


def top_users_by_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window function family: rank over aggregated totals.

    Scale shape: the top-10 is taken with ``orderBy().limit(10)`` — a
    distributed TakeOrdered, NOT a partition-less ``Window.orderBy`` over
    all user totals (which funnels every total into one task); the rank
    window then runs over the 10 surviving rows only."""
    from pyspark.sql import Window

    ev = _load(spark, sf_dir, "events")
    tot = ev.groupBy("user_id").agg(F.round(F.sum("value"), 4).alias("total_value"),
                                    F.count("*").alias("n_events"))
    top = tot.orderBy(F.desc("total_value"), F.asc("user_id")).limit(10)
    w = Window.orderBy(F.desc("total_value"), F.asc("user_id"))
    return (
        top.withColumn("rk", F.row_number().over(w))
        .select("rk", "user_id", "total_value", "n_events")
    )


# --------------------------------------------------------------- text ops

def doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rlerrorgenerator_spark.functions.textops import token_count

    docs = _load(spark, sf_dir, "documents")
    return docs.select("doc_id", token_count("text").cast("long").alias("n_tokens"))


def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rlerrorgenerator_spark.functions.textops import quality_features

    docs = _load(spark, sf_dir, "documents")
    return quality_features(docs).select(
        "doc_id", "q_chars", "q_tokens", "q_avg_token_len",
        "q_stopword_ratio", "q_punct_ratio", "q_score",
    )


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rlerrorgenerator_spark.functions.textops import fingerprint

    docs = _load(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint("text").alias("fp"))


def doc_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rlerrorgenerator_spark.functions.textops import langid

    docs = _load(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", langid("text").alias("lang_pred"))


def doc_tokens_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword-style (BPE-ish regex) pre-token counts next to the
    whitespace count."""
    from rlerrorgenerator_spark.functions.textops import token_count, token_count_bpe

    docs = _load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").cast("long").alias("n_ws_tokens"),
        token_count_bpe("text").cast("long").alias("n_bpe_tokens"),
    )


def doc_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing rolling-hash fingerprints (MOSS scheme), one row per
    (doc_id, fingerprint)."""
    from rlerrorgenerator_spark.functions.textops import with_winnow_fps

    docs = _load(spark, sf_dir, "documents")
    # explode_outer, NOT explode: plain explode makes Catalyst infer a
    # size(fps)>0 filter (InferFiltersFromGenerate) and push it below the
    # two winnow projections with everything inlined — the gram-hash
    # transform lands INSIDE the window-slice lambda, turning the filter
    # O(chars² · w) md5 calls per document (measured 115s → 2s at sf0.01).
    # fps is provably non-empty (≥1 gram and ≥1 window for any text, see
    # with_winnow_fps), so outer-explode is row-for-row identical.
    return with_winnow_fps(docs, "text", "fps", k=8, w=16).select(
        "doc_id", F.explode_outer("fps").alias("fp")
    )


def doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass (emails + phone numbers → placeholder tokens).

    The synthetic corpus carries no PII, so the query first SPLICES
    deterministic synthetic PII into an md5-selected subset (same
    derivation in the DuckDB oracle), then scrubs — verifying both the
    redaction regexes and the counts cross-engine. Scale shape: one
    narrow codegen projection, no shuffle, no Python."""
    from rlerrorgenerator_spark.functions.textops import pii_scrub
    from rlerrorgenerator_spark.rng import md5_mod

    docs = _load(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 160).alias("text"))
    key = F.col("doc_id").cast("string")
    sel_mail = md5_mod("pii|m|", key, 2) == 0
    sel_phone = md5_mod("pii|p|", key, 3) == 0
    email = F.concat(F.lit("user"), md5_mod("pii|u|", key, 1000).cast("string"),
                     F.lit("@ex"), md5_mod("pii|d|", key, 100).cast("string"),
                     F.lit(".com"))
    phone = F.concat(F.lit("415-555-"),
                     F.lpad(md5_mod("pii|n|", key, 10000).cast("string"), 4, "0"))
    with_pii = docs.withColumn(
        "text",
        F.concat(
            F.when(sel_mail, F.concat(email, F.lit(" "))).otherwise(F.lit("")),
            F.col("text"),
            F.when(sel_phone, F.concat(F.lit(" "), phone)).otherwise(F.lit("")),
        ),
    )
    scrubbed, n_mail, n_phone = pii_scrub("text")
    return with_pii.select(
        "doc_id",
        n_mail.cast("long").alias("n_emails"),
        n_phone.cast("long").alias("n_phones"),
        scrubbed.alias("scrubbed"),
    ).orderBy("doc_id")


def doc_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any 8-token
    shingle with the held-out eval set (docs from source 'src0').

    Scale shape: explode shingles on BOTH sides, hash to 64-bit, inner
    join eval-shingle set (broadcastable: |eval| ≪ |train|), distinct
    doc ids — the standard n-gram-overlap decontamination pass (as used
    for public LLM train/test splits), never all-pairs."""
    from rlerrorgenerator_spark.functions.textops import exploded_shingles

    docs = _load(spark, sf_dir, "documents")
    k = 8
    sh = exploded_shingles(docs.select("doc_id", "source", "text"),
                           "text", ["doc_id", "source"], k)
    eval_sh = sh.where(F.col("source") == "src0")                 .select(F.col("g").alias("g")).distinct()
    hits = (
        sh.where(F.col("source") != "src0")
        .join(F.broadcast(eval_sh), "g")
        .select("doc_id").distinct()
    )
    return hits.orderBy("doc_id")


def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (duplicate-2-gram fraction +
    most-common-token share) — the standard boilerplate/spam quality
    gate for pre-training corpora. Narrow HOF projection for the 2-gram
    ratio; explode + doc-keyed partial aggs for the token mode."""
    from rlerrorgenerator_spark.functions.textops import repetition_features

    docs = _load(spark, sf_dir, "documents")
    return repetition_features(docs).select(
        "doc_id", "n_tokens", "n_2grams", "n_distinct_2grams",
        "dup_2gram_frac", "top_token_n", "top_token_frac",
    ).orderBy("doc_id")


def events_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: parse the JSON ``props`` payload
    (get_json_object — JVM-side, codegen) and aggregate the extracted
    field per event type. The crawl-scale shape for sidecar metadata
    (WARC headers, fetch stats) carried as JSON strings."""
    ev = _load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
        )
        .orderBy("event_type")
    )


# ------------------------------------------------------------------- dedup
# The driver corpus has no duplicates at sf0.01, so dedup queries run on a
# deterministically "doubled" corpus: documents ∪ (shifted-id copies, one
# exact and one lightly perturbed) — same construction in the oracle SQL.

def _doubled_corpus(docs: DataFrame) -> DataFrame:
    exact = docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    perturbed = docs.select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.expr("replace(text, 'value', 'valuee')").alias("text"),
    )
    out = docs.select("doc_id", "text").unionByName(exact).unionByName(perturbed)
    # The sf-dir table is a single parquet file → 1 input split per union
    # branch, which serializes the CPU-dense per-token hashing (MinHash /
    # SimHash sketches) onto 3 cores. Spread by doc_id before the sketch
    # stages — a ~MB-scale shuffle that unlocks full parallelism. At crawl
    # scale the source has thousands of splits and this repartition drops
    # out (splits ≥ cores), but the idiom — rebalance before CPU-dense
    # narrow stages when splits < cores — is the same one a real cluster
    # needs after a selective filter.
    return out.repartition(docs.sparkSession.sparkContext.defaultParallelism, "doc_id")


_DOUBLED_SQL = (
    "SELECT doc_id, text FROM documents "
    "UNION ALL SELECT doc_id + 1000000, text FROM documents "
    "UNION ALL SELECT doc_id + 2000000, replace(text, 'value', 'valuee') FROM documents"
)


def dup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rlerrorgenerator_spark.plans.dedup import exact_dup_groups

    corpus = _doubled_corpus(_load(spark, sf_dir, "documents"))
    return exact_dup_groups(corpus).select("fp", "group_size", "keep_id")


def dup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rlerrorgenerator_spark.plans.dedup import ngram_jaccard_pairs

    corpus = _doubled_corpus(_load(spark, sf_dir, "documents"))
    return ngram_jaccard_pairs(corpus, k=5, threshold=0.6, max_shingle_freq=100)


def dup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rlerrorgenerator_spark.plans.dedup import minhash_dup_pairs

    corpus = _doubled_corpus(_load(spark, sf_dir, "documents"))
    return minhash_dup_pairs(corpus, n_hashes=12, bands=6, k=5)


def dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive duplicate clustering, ORACLE-CHECKED end to end: the
    hash-to-min connected-components loop (linkage/resolve.py) runs over
    the MinHash-LSH duplicate pairs and the DuckDB oracle re-derives both
    the pairs (md5-u64 MinHash) and the components (recursive CTE:
    propagate every label along edges, take the min per node). Ids are
    zero-padded strings so lexicographic min == numeric min in both
    engines. Scale shape: the Spark side is the production O(log d)
    pointer-jumping CC with skew-salting; the recursive CTE is only the
    small-scale cross-engine witness."""
    from rlerrorgenerator_spark.linkage.resolve import clusters_from_links
    from rlerrorgenerator_spark.plans.dedup import minhash_dup_pairs

    corpus = _doubled_corpus(_load(spark, sf_dir, "documents"))
    pairs = minhash_dup_pairs(corpus, n_hashes=12, bands=6, k=5)

    def pad(c: str):
        return F.lpad(F.col(c).cast("string"), 8, "0")

    links = pairs.select(pad("id_a").alias("rid_a"), pad("id_b").alias("rid_b"))
    cl = clusters_from_links(links)
    return (
        cl.groupBy("cluster_id").agg(F.count("*").alias("size"))
        .where(F.col("size") > 1)
        .orderBy("cluster_id")
    )


def dup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rlerrorgenerator_spark.plans.dedup import simhash_dup_pairs

    corpus = _doubled_corpus(_load(spark, sf_dir, "documents"))
    return simhash_dup_pairs(corpus, max_hamming=6)


# --------------------------------------------------------------------- ANN

def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rlerrorgenerator_spark.plans.ann import cosine_topk

    emb = _load(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 20)
    return cosine_topk(queries_df, emb, k=5)


def ann_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rlerrorgenerator_spark.plans.ann import cosine_neardup_pairs

    emb = _load(spark, sf_dir, "embeddings")
    return cosine_neardup_pairs(emb, threshold=0.5)


def ann_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine baseline, both API shapes in one driver row
    (window curation, VERDICT r3 fix #2): kind='topk' = top-5 neighbors
    for the first 20 query vectors; kind='neardup' = all pairs above
    cosine 0.5. Each was independently oracle-green in rounds 2-3
    (ann_cosine_topk / ann_neardup); the union preserves both checks in
    one of the driver's 50 correctness slots."""
    topk = ann_cosine_topk(spark, sf_dir).select(
        F.lit("topk").alias("kind"),
        F.col("query_id").alias("id_a"),
        F.col("neighbor_id").alias("id_b"),
        "cos",
        F.col("rk").cast("long").alias("rk"),
    )
    near = ann_neardup(spark, sf_dir).select(
        F.lit("neardup").alias("kind"), "id_a", "id_b", "cos",
        F.lit(None).cast("long").alias("rk"),
    )
    return topk.unionByName(near).orderBy("kind", "id_a", "id_b")


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100TB ANN path (sign-LSH bucket join), checked two ways: the
    row itself reports top-1 recall vs the exact brute-force baseline
    (target >= 0.9), AND the whole computation now has a full DuckDB
    oracle — the LSH planes are md5-derived Rademacher signs
    (plans/ann.py::md5_signs, tags 'lsh|t') dotted against
    floor-quantized integer vectors, so the candidate sets are
    bit-identical cross-engine."""
    from rlerrorgenerator_spark.plans.ann import cosine_topk, lsh_topk

    emb = _load(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 50)
    exact = cosine_topk(queries_df, emb, k=1).select(
        "query_id", F.col("neighbor_id").alias("exact_nn"))
    # 4 planes x 24 tables: recall@1 = 0.98 on the (near-random) driver
    # embeddings; random vectors are sign-LSH's worst case, so this is a
    # conservative operating point for real clustered embeddings
    approx = lsh_topk(queries_df, emb, k=1, n_planes=4, n_tables=24, dim=64) \
        .select("query_id", F.col("neighbor_id").alias("lsh_nn"))
    j = exact.join(approx, "query_id", "left")
    hit = F.coalesce((F.col("lsh_nn") == F.col("exact_nn")).cast("long"), F.lit(0))
    return j.agg(
        F.count("*").alias("n_queries"),
        F.sum(hit).alias("hits"),
        F.round(F.avg(hit.cast("double")), 4).alias("recall_at_1"),
        (F.avg(hit.cast("double")) >= 0.9).alias("recall_target_met"),
    )


# --------------------------------------------------------------- streaming
# Structured Streaming surfaced as driver queries: each runs a real
# streaming query (availableNow trigger over the parquet file source) to
# completion inside the call and returns the sink table. Both are
# ORACLE-CHECKED against batch SQL — the availableNow drain of a static
# source must agree exactly with the batch computation.

def _stream_src_dir(sf_dir: str, name: str) -> str:
    """Spark's file-stream source requires a DIRECTORY; the driver tables
    are single parquet files. Stage the file into a per-(sf_dir, table)
    temp directory once (tiny at test scale; at crawl scale the source is
    a real landing directory / Kafka topic and this shim disappears)."""
    import os
    import shutil
    import tempfile

    import hashlib

    src = _t(sf_dir, name)
    # md5 (not built-in hash(): that is randomized per process via
    # PYTHONHASHSEED, so every driver run would stage a fresh copy and
    # stale dirs would accumulate in /tmp — VERDICT r3 "What's wrong" #3)
    key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    d = os.path.join(tempfile.gettempdir(), f"spark_graft_stream_{name}_{key}")
    os.makedirs(d, exist_ok=True)
    dst = os.path.join(d, f"{name}.parquet")
    if not os.path.exists(dst) or os.path.getmtime(dst) < os.path.getmtime(src):
        shutil.copyfile(src, dst)
    return d


def _drain_stream(sdf, name: str, mode: str):
    spark = sdf.sparkSession
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    q = (
        sdf.writeStream.format("memory").queryName(name)
        .outputMode(mode).trigger(availableNow=True).start()
    )
    # availableNow terminates after draining the source (stateful stages
    # run with NoTimeout here, so no wall-clock "cleaning up state"
    # batches keep the trigger alive). The timed fallback guards the
    # driver against a wedged stream.
    if not q.awaitTermination(600):
        q.stop()
        q.awaitTermination()
    return spark.table(name)


def stream_events_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-window rollup (1h windows per event_type) in
    COMPLETE output mode — state is the windowed aggregate itself. At
    crawl scale this runs in append mode with a watermark
    (streaming/ingest.py::host_window_counts); complete mode here makes
    the static-source drain exactly equal to the batch oracle."""
    ev_path = _t(sf_dir, "events")
    schema = spark.read.parquet(ev_path).schema
    src = spark.readStream.schema(schema).parquet(_stream_src_dir(sf_dir, "events"))
    agg = (
        src.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
    )
    out = _drain_stream(agg, "stream_events_windows_sink", "complete")
    return out.select(
        F.col("w.start").alias("window_start"), "event_type", "n", "sum_value"
    ).orderBy("window_start", "event_type")


def stream_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    gap-based per-user sessionization of the events stream, emitting one
    row per CLOSED session. The oracle re-derives sessions with a batch
    lag/cumsum window and drops each user's final (still-open) session —
    exactly what the stateful operator leaves in state at drain end.
    Timestamps compare at full microsecond precision on both sides."""
    from rlerrorgenerator_spark.streaming.ingest import sessionize_stream

    ev_path = _t(sf_dir, "events")
    schema = spark.read.parquet(ev_path).schema
    src = (spark.readStream.schema(schema)
           .parquet(_stream_src_dir(sf_dir, "events"))
           .select("user_id", "ts"))
    sess = sessionize_stream(src, key_col="user_id", ts_col="ts",
                             gap="12 hours", watermark=None,
                             idle_timeout=False)
    out = _drain_stream(sess, "stream_user_sessions_sink", "append")
    return out.orderBy("user_id", "session_start")


# -------------------------------------------------------------- multimodal

def mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature extraction over a deterministic synthetic media
    table: REAL 24-bit-BMP / 16-bit-PCM-WAV decode + feature pooling in
    pure numpy inside one mapInPandas pass (binaries never reach the
    driver); codec-less payloads fall back to the hash feature.

    Rows-only driver check (binary payloads are built in Python — no SQL
    engine re-decodes BMP/WAV), but every value is deterministic and
    partition-invariant: per-(kind, codec) counts, exact byte totals,
    and a DECIMAL sum of per-row rounded feature norms (decimal addition
    is exact, so the sum is independent of partitioning/order)."""
    from rlerrorgenerator_spark.functions.multimodal import (
        extract_features, synth_media)

    media = synth_media(spark, n=96, seed=42).repartition(8)
    feats = extract_features(media)
    norm = F.round(
        F.sqrt(F.aggregate(
            "feature", F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"))),
        3,
    )
    return (
        feats.withColumn("norm3", norm.cast("decimal(12,3)"))
        .groupBy("kind", "codec")
        .agg(
            F.count("*").alias("n"),
            F.sum("n_bytes").alias("total_bytes"),
            F.sum("norm3").alias("sum_feature_norm"),
        )
        .orderBy("kind", "codec")
    )


# ----------------------------------------------------- ER pipeline (seeded)
# Deterministic but seeded-RNG programs — not SQL-expressible; the driver
# records the rows-only check for these (per the contract).

_ER_CACHE: dict[str, object] = {}


def _er_result(spark: SparkSession, sf_dir: str):
    if sf_dir not in _ER_CACHE:
        from rlerrorgenerator_spark.pipeline import run_linkage
        from rlerrorgenerator_spark.sources.pages import pages_from_documents

        pages = pages_from_documents(_load(spark, sf_dir, "documents"))
        _ER_CACHE[sf_dir] = run_linkage(spark, pages=pages, seed=42)
    return _ER_CACHE[sf_dir]


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-routed ANN, fully oracle-checked: the production
    plans/ann.py::ivf_topk with ``centroids="md5"`` — fixed md5-Rademacher
    centroids, integer dot-product argmax assignment and a top-6 probe
    list, all replayed bit-identically by the DuckDB oracle (the same
    discipline as minhash_blocks' md5 mode) — then the exact-cosine
    re-rank every ANN plan shares. The driver embeddings are near-RANDOM
    vectors — the worst case for any space-partitioning index — so the
    operating point probes 6 of 8 buckets for recall ≈ 0.86; the default
    trained-k-means router (``centroids="kmeans"``) reaches ≥ 0.9 probing
    < 1/4 of a clustered corpus
    (tests/test_dedup_ann.py::test_ivf_topk_clustered). Only the centroid
    source differs between the two modes."""
    from rlerrorgenerator_spark.plans.ann import cosine_topk, ivf_topk

    emb = _load(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 50)
    exact = cosine_topk(queries_df, emb, k=1).select(
        "query_id", F.col("neighbor_id").alias("exact_nn"))
    approx = ivf_topk(queries_df, emb, k=1, centroids="md5",
                      n_centroids=8, n_probe=6) \
        .select("query_id", F.col("neighbor_id").alias("ivf_nn"))
    j = exact.join(approx, "query_id", "left")
    return j.agg(
        F.count("*").alias("n_queries"),
        F.sum((F.col("ivf_nn") == F.col("exact_nn")).cast("long")).alias("hits"),
        F.round(F.avg((F.col("ivf_nn") == F.col("exact_nn")).cast("double")), 4)
         .alias("recall_at_1"),
        F.round(F.lit(6 / 8), 4).alias("probed_fraction"),
        (F.avg((F.col("ivf_nn") == F.col("exact_nn")).cast("double")) >= 0.8)
        .alias("recall_target_met"),
    )


def er_lineage_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = _er_result(spark, sf_dir)
    return (
        res.lineage.groupBy("error", "field")
        .agg(F.count("*").alias("n"))
        .orderBy("error", "field")
    )


def er_blocking_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = _er_result(spark, sf_dir)
    return res.candidates.groupBy("block").agg(F.count("*").alias("n")).orderBy("block")


def _blocking_fixture(spark: SparkSession, sf_dir: str):
    """Deterministic (clean, dirty) page pair for the ORACLE-CHECKED
    blocking queries: urls derived from documents exactly as
    ``pages_from_documents`` does, with an md5-selected quarter of the
    dirty side perturbed per class — scheme typo (survives url
    normalization), trailing slash (normalized away), and a domain typo
    (url key breaks; only the text key recovers the pair). Both engines
    re-derive the fixture bit-identically (md5 draw stream)."""
    from rlerrorgenerator_spark.rng import md5_mod

    docs = _load(spark, sf_dir, "documents")
    text = F.trim(F.regexp_replace("text", r"\s+", " "))
    pad = F.lpad(F.col("doc_id").cast("string"), 8, "0")
    base = F.concat(F.lit("https://"), F.col("source"),
                    F.lit(".example.com/d/"), pad)
    sel = md5_mod("blk|", F.col("doc_id"), 4)
    url_d = (
        F.when(sel == 0, F.concat(F.lit("htps://"), F.col("source"),
                                  F.lit(".example.com/d/"), pad))
        .when(sel == 1, F.concat(base, F.lit("/")))
        .when(sel == 2, F.concat(F.lit("https://"), F.col("source"),
                                 F.lit(".examp1e.com/d/"), pad))
        .otherwise(base)
    )
    ts = F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id") % 31536000)
    clean = docs.select(F.lower(base).alias("url"), text.alias("text"),
                        F.col("lang"), ts.alias("warc_ts"))
    dirty = docs.select(F.concat(F.lit("d:"), pad).alias("rid"),
                        F.lower(url_d).alias("url"), text.alias("text"),
                        F.col("lang"), ts.alias("warc_ts"),
                        F.lower(base).alias("orig_url"))
    return clean, dirty


def er_blocking_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-key blocking (url_norm + text_prefix equi-joins with the
    per-key hot-block cap) over the md5 fixture — the full candidate
    PAIR LIST is oracle-checked against a DuckDB re-derivation."""
    from rlerrorgenerator_spark.linkage.blocking import exact_blocks

    clean, dirty = _blocking_fixture(spark, sf_dir)
    return (
        exact_blocks(clean, dirty)
        .groupBy("rid_a", "rid_b").agg(F.min("block").alias("block"))
        .orderBy("rid_a", "rid_b")
    )


def er_scoring_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise scoring distances oracle: Levenshtein (exact integer,
    portable) and the pandas-UDF Jaro-Winkler on the url pairs produced
    by the url_norm block of the md5 fixture.

    JW is reported only above 0.82: our JW (stringdist semantics, prefix
    boost unconditional) and DuckDB's (standard Winkler, boost only when
    jaro > 0.7) agree exactly iff jaro > 0.7, and jw > 0.82 ⟹
    jaro > 0.7 on BOTH definitions (jw ≤ 0.4 + 0.6·jaro), so the gated
    value is engine-independent; below the gate both engines emit NULL.
    This is the operative range — the scorer's match evidence uses JW
    thresholds ≥ 0.85 (linkage/features.py)."""
    from rlerrorgenerator_spark.functions.similarity import jaro_winkler_udf
    from rlerrorgenerator_spark.linkage.blocking import normalize_url

    clean, dirty = _blocking_fixture(spark, sf_dir)
    a = clean.select(F.col("url").alias("rid_a"),
                     normalize_url("url").alias("bkey"))
    b = dirty.select(F.col("rid").alias("rid_b"), F.col("url").alias("url_b"),
                     normalize_url("url").alias("bkey"))
    pairs = a.join(b, "bkey").select("rid_a", "rid_b", "url_b")
    # jaro_winkler_udf returns the DISTANCE (1 − similarity, reference
    # convention); the oracle compares similarities
    jw = F.lit(1.0) - jaro_winkler_udf(F.col("rid_a"), F.col("url_b"))
    return pairs.select(
        "rid_a", "rid_b",
        F.levenshtein("rid_a", "url_b").alias("lev"),
        F.when(jw > 0.82, F.round(jw, 4)).alias("jw_gated"),
    ).orderBy("rid_a", "rid_b")


def er_resolution_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-links 'odds' resolution + 1-to-1 filter, ORACLE-CHECKED
    (VERDICT r3 fix #4): the REAL scored pairs of the e2e fixture
    (build_candidates exact ∪ SNM ∪ MinHash in md5 mode → score_pairs
    exact-shingle mode, the same bit-identical per-pair probabilities
    er_pipeline_e2e certifies)
    fed through linkage/resolve.py::find_best_links — the reference's
    windowed odds logic (`benchmarking/utils.R:426-470`: accept a left
    id's top pair only when its probability margin over the runner-up
    exceeds ``odds``) followed by the 1-to-1 keep-best-per-right filter
    (`utils.R:368-389`). The DuckDB oracle re-derives both windows
    (row_number + lead over the shared prob CTE) pair-for-pair."""
    from rlerrorgenerator_spark.linkage.blocking import build_candidates
    from rlerrorgenerator_spark.linkage.features import score_pairs
    from rlerrorgenerator_spark.linkage.resolve import find_best_links

    clean, dirty = _blocking_fixture(spark, sf_dir)
    candidates = build_candidates(clean, dirty, signature="md5")
    scored = score_pairs(candidates, clean, dirty, exact_shingles=True)
    links = find_best_links(scored, odds=0.4, threshold=0.5)
    return links.select(
        "rid_a", "rid_b", F.round("match_prob", 6).alias("match_prob")
    ).orderBy("rid_a", "rid_b")


def er_model_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trainable ML classifier slot — the reference's caret model FAMILY
    (`benchmarking/utils.R:916-995` trains RF / svmLinear / svmRadial +
    a keras NN, `standard_n.R:125-188`): one row per MLlib pipeline from
    linkage/models.py (impute-0 → assemble → z-scale → classifier;
    distributed training, no driver-side collect) — logistic regression
    (probability-emitting linear default), RandomForest (caret RF) and
    MultilayerPerceptron (the keras-NN slot) — on the metric_* features
    (capped distances, as in production) of the e2e fixture's
    verification-mode program (md5 MinHash blocking, exact shingles)
    with a DETERMINISTIC md5 train/holdout split.
    Each row reports holdout F1 + rank-statistic AUC (utils.R:1005-1047
    computes AUC via ROCR; metrics.auc_metrics is the same quantity)
    scored at the reference's 0.5 rule (`utils.R:362-364`) with a
    target_met gate. Rows-only by contract: MLlib training is iterative
    float optimization no SQL engine reproduces bit-identically — the
    rows themselves carry the quality evidence, the same discipline as
    er_op_calibration."""
    from rlerrorgenerator_spark.linkage.blocking import build_candidates
    from rlerrorgenerator_spark.linkage.features import score_pairs
    from rlerrorgenerator_spark.linkage.metrics import auc_metrics, label_pairs
    from rlerrorgenerator_spark.linkage.models import (
        predict_match_prob,
        train_match_model,
    )
    from rlerrorgenerator_spark.rng import md5_mod

    clean, dirty = _blocking_fixture(spark, sf_dir)
    candidates = build_candidates(clean, dirty, signature="md5")
    scored = score_pairs(candidates, clean, dirty, exact_shingles=True)
    # drop the deterministic scorer's outputs: the MLlib pipeline emits
    # its own prediction/match_prob and transformSchema rejects clashes
    labeled = label_pairs(scored, dirty).drop("prediction", "match_prob")
    feature_cols = sorted(c for c in labeled.columns
                          if c.startswith("metric_"))
    # deterministic 75/25 split keyed on the pair ids (not randomSplit,
    # whose partitioning-dependent sampling would make the row flap);
    # materialized once — three model fits reuse the same split
    split = md5_mod("mlsplit|", F.concat("rid_a", F.lit("|"), "rid_b"), 4)
    train = labeled.where(split < 3).localCheckpoint(eager=True)
    test = labeled.where(split == 3).localCheckpoint(eager=True)
    n_train = train.count()
    rows = []
    for name in ("logreg", "rf", "mlp"):
        model = train_match_model(train, feature_cols, model=name)
        pred = predict_match_prob(model, test, feature_cols)
        tp = F.sum((F.col("prediction") & F.col("label")).cast("long"))
        fp = F.sum((F.col("prediction") & ~F.col("label")).cast("long"))
        fn = F.sum((~F.col("prediction") & F.col("label")).cast("long"))
        agg = pred.agg(
            F.count("*").alias("n_test"), tp.alias("tp"), fp.alias("fp"),
            fn.alias("fn"),
        )
        prec = F.col("tp") / F.greatest(F.col("tp") + F.col("fp"), F.lit(1))
        rec = F.col("tp") / F.greatest(F.col("tp") + F.col("fn"), F.lit(1))
        f1 = 2 * prec * rec / F.greatest(prec + rec, F.lit(1e-12))
        auc = auc_metrics(pred, "match_prob").select(
            F.round("auc", 6).alias("holdout_auc"))
        rows.append(agg.crossJoin(auc).select(
            F.lit(name).alias("model"),
            F.lit(n_train).alias("n_train"),
            "n_test", "tp", "fp", "fn",
            F.round(f1, 6).alias("holdout_f1"),
            "holdout_auc",
            (f1 >= 0.95).alias("target_met"),
        ))
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("model")


def er_person_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The person-domain 23-feature pair matrix (`benchmarking/utils.R:
    189-311` ``add_feature_vector``), ORACLE-CHECKED: the md5 persons
    fixture (oracle_er.py::person_pair_fixture — abbreviation / lname
    splice / dob day↔month swap perturbations, self + neighbor pairs)
    run through the REAL linkage/person_pairs.py::add_person_features,
    with a DuckDB oracle re-deriving every metric column including the
    per-side name-frequency z-scores and a portable SQL Soundex.

    Cross-engine gates (documented far-range divergences, same
    discipline as er_scoring_distances):

    - ``metric_{fname,lname}_jw_gated``: JW distance reported only
      < 0.18 (⟺ similarity > 0.82) — our stringdist-style unconditional
      prefix boost and DuckDB's standard Winkler agree exactly iff
      jaro > 0.7, which jw > 0.82 implies under both definitions.
    - ``metric_{fname,lname}_lev_gated`` and ``metric_dob_full_gated``:
      our normalized OSA (restricted DL) vs DuckDB's UNRESTRICTED
      damerau_levenshtein, reported only < 0.3.  OSA == DL is proven
      exhaustively on every name pair the fixture can produce (pool ×
      {pool, abbreviations, all x-splices} = 334k pairs, zero gate-range
      divergences) and structurally for the equal-length len-10 dob
      strings (< 0.3 ⇒ ≤ 2 edits, and an OSA/DL divergence needs an
      insertion inside a transposed pair — impossible at equal length
      under 3 edits).
    - year/month/day components UNGATED: OSA == DL verified on the full
      1..31 × 1..31 and 1930..2006 × 1930..2006 cross-products.
    - z-scores rounded to 5 decimals (Welford-order stddev ulps),
      exact-valued flags/counts unrounded.
    """
    from rlerrorgenerator_spark.linkage.person_pairs import add_person_features
    from rlerrorgenerator_spark.oracle_er import person_pair_fixture

    clean, dirty, pairs = person_pair_fixture(spark, sf_dir)
    f = add_person_features(pairs, clean, dirty)

    # Out-of-gate values map to a -1.0 sentinel (never NULL): the
    # driver's value-compare sorts row tuples with columns ordered by
    # NAME, so rid_a/rid_b land at the tuple END and a NULL in a leading
    # gated column makes row ordering compare None against floats.
    def osa_gate(c: str) -> F.Column:
        return F.when(F.col(c) < 0.3, F.round(F.col(c), 5)).otherwise(F.lit(-1.0))

    def jw_gate(c: str) -> F.Column:
        return F.when(F.col(c) < 0.18, F.round(F.col(c), 4)).otherwise(F.lit(-1.0))

    return f.select(
        "rid_a", "rid_b",
        osa_gate("metric_dob_full").alias("metric_dob_full_gated"),
        F.round("metric_dob_year", 5).alias("metric_dob_year"),
        F.round("metric_dob_month", 5).alias("metric_dob_month"),
        F.round("metric_dob_day", 5).alias("metric_dob_day"),
        "metric_dob_swap", "metric_age_diff_1", "metric_age_diff_2",
        osa_gate("metric_fname_lev").alias("metric_fname_lev_gated"),
        jw_gate("metric_fname_jw").alias("metric_fname_jw_gated"),
        "metric_fname_soundex",
        osa_gate("metric_lname_lev").alias("metric_lname_lev_gated"),
        jw_gate("metric_lname_jw").alias("metric_lname_jw_gated"),
        "metric_lname_soundex",
        F.round("metric_ffreq_a", 5).alias("metric_ffreq_a"),
        F.round("metric_ffreq_b", 5).alias("metric_ffreq_b"),
        F.round("metric_lfreq_a", 5).alias("metric_lfreq_a"),
        F.round("metric_lfreq_b", 5).alias("metric_lfreq_b"),
        "metric_name_swap", "metric_n_female", "metric_n_male",
        "metric_race_eq", "metric_race_wwbb", "metric_marriage",
    ).orderBy("rid_a", "rid_b")


def er_incremental_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental linkage oracle (linkage/incremental.py): dirty rows
    are split into two batches by doc-id parity; batch 1 is clustered,
    batch 2 is folded in via increment_clusters (CC seeded with the
    prior labels as star edges). The DuckDB oracle computes the
    MONOLITHIC clustering over all edges with a recursive CTE — so a
    green row proves both engines' CC labels agree AND that the
    incremental fold is exactly equivalent to full recomputation."""
    from rlerrorgenerator_spark.linkage.blocking import exact_blocks
    from rlerrorgenerator_spark.linkage.incremental import increment_clusters
    from rlerrorgenerator_spark.linkage.resolve import clusters_from_links

    clean, dirty = _blocking_fixture(spark, sf_dir)
    parity = F.substring("rid", -1, 1).cast("int") % 2
    b1 = dirty.where(parity == 0)
    b2 = dirty.where(parity == 1)
    e1 = exact_blocks(clean, b1).select("rid_a", "rid_b").distinct()
    ids1 = clean.select(F.col("url").alias("id")).unionByName(
        b1.select(F.col("rid").alias("id")))
    prior = clusters_from_links(e1, ids1)
    e2 = exact_blocks(clean, b2).select("rid_a", "rid_b").distinct()
    ids2 = clean.select(F.col("url").alias("id")).unionByName(
        b2.select(F.col("rid").alias("id")))
    return increment_clusters(e2, prior, ids2).orderBy("id")


def er_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END pipeline oracle: the REAL operators — build_candidates
    (exact ∪ SNM ∪ MinHash, the production program; MinHash runs its md5
    signature mode, which SQL reproduces), the REAL score_pairs
    (exact-shingle verification mode: full 64-bit shingle sets → exact
    Jaccard; the same capped distances as production), the REAL
    label_pairs + pairwise_metrics — over the md5 fixture, against a
    DuckDB re-derivation of the ENTIRE flow: blocking joins and MinHash
    banding, every scoring feature (Levenshtein forms, prefix/swap
    similarities, exact word-4-shingle Jaccard, lang/ts evidence), the
    weighted gated score, the 0.5 decision, lineage truth and the
    confusion-matrix metrics. The oracle's distances are uncapped; the
    caps sit above every score gate, so the probabilities agree.
    A green row certifies the flagship pipeline's decisions pair-for-pair
    in an independent engine — not just its components.

    Also carries the clerical-review / threshold-search summary
    (`benchmarking/utils.R:1050-1081,1121-1160` via
    metrics.review_threshold_summary): review band at PPV/NPV ≥ 0.95 and
    the lowest threshold reaching precision ≥ 0.99, re-derived by the
    oracle with the same bounded cumulative windows over 5-decimal
    probability buckets."""
    from rlerrorgenerator_spark.linkage.blocking import build_candidates
    from rlerrorgenerator_spark.linkage.features import score_pairs
    from rlerrorgenerator_spark.linkage.metrics import (
        label_pairs,
        pairwise_metrics,
        review_threshold_summary,
    )

    clean, dirty = _blocking_fixture(spark, sf_dir)
    candidates = build_candidates(clean, dirty, signature="md5")
    scored = score_pairs(candidates, clean, dirty, exact_shingles=True)
    labeled = label_pairs(scored, dirty).localCheckpoint(eager=False)
    m = pairwise_metrics(labeled)
    review = review_threshold_summary(labeled)
    return m.crossJoin(review).select(
        "tp", "fp", "fn", "tn", "n_pairs",
        F.round("brier", 6).alias("brier"),
        F.round("precision", 6).alias("precision"),
        F.round("recall", 6).alias("recall"),
        F.round("f1", 6).alias("f1"),
        F.round("accuracy", 6).alias("accuracy"),
        F.round("specificity", 6).alias("specificity"),
        F.round("npv", 6).alias("npv"),
        F.round("review_lower", 5).alias("review_lower"),
        F.round("review_upper", 5).alias("review_upper"),
        "n_accept", "n_reject", "n_review",
        F.round("review_pct", 6).alias("review_pct"),
        F.round("thr_precision", 5).alias("thr_precision"),
    )


def er_stream_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming incremental linkage, oracle-checked: the md5
    fixture's dirty rows arrive as a file stream (2 parquet drops, one
    micro-batch each via maxFilesPerTrigger=1), each micro-batch folds
    through the REAL blocking + scoring + seeded-CC pipeline
    (streaming/linkage_stream.py, ``verify=True``: md5 MinHash
    signatures and exact shingles), and the final clusters table is
    compared against a DuckDB MONOLITHIC re-derivation: the full e2e
    score (er_pipeline_e2e's SQL), accepted pairs at p > 0.5, recursive-
    CTE components, min-id labels. Green ⟹ the streaming fold equals
    batch relinkage pair-for-pair in an independent engine."""
    import shutil
    import tempfile

    from rlerrorgenerator_spark.streaming.linkage_stream import stream_link_increment

    clean, dirty = _blocking_fixture(spark, sf_dir)
    base = os.path.join(tempfile.gettempdir(),
                        "er_stream_inc_" + sf_dir.strip("/").replace("/", "_"))
    shutil.rmtree(base, ignore_errors=True)
    in_dir = os.path.join(base, "in")
    clusters_dir = os.path.join(base, "clusters")
    parity = F.substring("rid", -1, 1).cast("int") % 2
    dirty.where(parity == 0).coalesce(1).write.mode("append").parquet(in_dir)
    dirty.where(parity == 1).coalesce(1).write.mode("append").parquet(in_dir)
    stream = (
        spark.readStream.schema(dirty.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )
    q = stream_link_increment(clean, stream, clusters_dir,
                              os.path.join(base, "ckpt"), verify=True)
    q.awaitTermination(600)
    return spark.read.parquet(clusters_dir).orderBy("id")


def er_blocking_snm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking (distributed global rank → banded
    self-join) over the md5 fixture, oracle-checked pair-for-pair: the
    oracle reproduces the rank with a window function and the band join
    as |band_a − band_b| ≤ 1 ∧ |rn_a − rn_b| ≤ window."""
    from rlerrorgenerator_spark.linkage.blocking import sorted_neighborhood_blocks

    clean, dirty = _blocking_fixture(spark, sf_dir)
    return (
        sorted_neighborhood_blocks(clean, dirty, window=3)
        .orderBy("rid_a", "rid_b")
    )


def er_blocking_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH blocking over the md5 fixture — the full candidate
    pair list (with per-pair agreeing-band counts) oracle-checked against
    a DuckDB re-derivation. Runs the production ``minhash_blocks`` in its
    md5 mode: md5-u64 signatures and ``|``-joined band keys replace the
    xxhash kernel so both engines derive identical bucket keys; the plan
    (signatures → single band explode → hot-bucket cap → band equi-join
    → pair count) is the production one."""
    from rlerrorgenerator_spark.linkage.blocking import minhash_blocks

    clean, dirty = _blocking_fixture(spark, sf_dir)
    return (
        minhash_blocks(clean, dirty, n_hashes=12, bands=6, shingle_k=5,
                       signature="md5")
        .orderBy("rid_a", "rid_b")
    )


def er_linkage_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rlerrorgenerator_spark.linkage.metrics import pairwise_metrics

    res = _er_result(spark, sf_dir)
    full = pairwise_metrics(res.labeled, with_auc=True)
    return full.select(
        "tp", "fp", "fn", "tn", "n_pairs",
        F.round("precision", 6).alias("precision"),
        F.round("recall", 6).alias("recall"),
        F.round("f1", 6).alias("f1"),
        F.round("brier", 6).alias("brier"),
        F.round("specificity", 6).alias("specificity"),
        F.round("npv", 6).alias("npv"),
        F.round("auc", 6).alias("auc"),
        F.round("gini", 6).alias("gini"),
    )


def er_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = _er_result(spark, sf_dir)
    return (
        res.clusters.groupBy("cluster_id").agg(F.count("*").alias("size"))
        .groupBy("size").agg(F.count("*").alias("n_clusters"))
        .orderBy("size")
    )


# ---------------------------------------------------------------- contract

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full record-linkage benchmark on sf0.001-derived pages."""
    return er_linkage_metrics(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """50 entries — curated to the driver's 50-entry correctness window
    (round 3 shipped 69 and the trailing 19 were silently unchecked).
    Window moves vs round 3:

    - DROPPED (still implemented + exercised by tests/bench): doc_tokens
      (a strict projection of doc_tokens_bpe.n_ws_tokens),
      er_lineage_summary / er_blocking_candidates / er_linkage_metrics /
      er_cluster_sizes (rows-only summaries of the xxhash pipeline whose
      semantics are oracle-certified by er_pipeline_e2e +
      dup_cluster_sizes).
    - MERGED, nothing weakened (each member's full derivation is still
      value-hashed, under a tag column): ann_cosine = ann_cosine_topk ∪
      ann_neardup; er_op_<family> = same-schema §2.A lineage ops unioned
      (see rlerrorgenerator_spark/oracle_er.py::LINEAGE_FAMILIES for the
      op→family map and reference citations).
    - ADDED: er_resolution_links (best-links odds + 1-to-1, oracle),
      er_model_f1 (MLlib classifier slot, rows-only self-check),
      er_person_features (the person-domain 23-feature matrix, oracle).
    """
    return {
        "q1_pricing_summary": q1_pricing_summary,
        "q3_shipping_priority": q3_shipping_priority,
        "q5_region_revenue": q5_region_revenue,
        "events_type_stats": events_type_stats,
        "events_props_stats": events_props_stats,
        "top_users_by_value": top_users_by_value,
        "doc_tokens_bpe": doc_tokens_bpe,
        "doc_quality": doc_quality,
        "doc_fingerprint": doc_fingerprint,
        "doc_langid": doc_langid,
        "doc_winnow": doc_winnow,
        "doc_pii_scrub": doc_pii_scrub,
        "doc_decontaminate": doc_decontaminate,
        "doc_repetition": doc_repetition,
        "dup_exact_groups": dup_exact_groups,
        "dup_ngram_jaccard": dup_ngram_jaccard,
        "dup_minhash": dup_minhash,
        "dup_simhash": dup_simhash,
        "dup_cluster_sizes": dup_cluster_sizes,
        "stream_events_windows": stream_events_windows,
        "stream_user_sessions": stream_user_sessions,
        "mm_features": mm_features,
        "ann_cosine": ann_cosine,
        "ann_lsh_topk": ann_lsh_topk,
        "ann_ivf_topk": ann_ivf_topk,
        "er_blocking_exact": er_blocking_exact,
        "er_blocking_snm": er_blocking_snm,
        "er_blocking_minhash": er_blocking_minhash,
        "er_scoring_distances": er_scoring_distances,
        "er_resolution_links": er_resolution_links,
        "er_person_features": er_person_features,
        "er_incremental_clusters": er_incremental_clusters,
        "er_pipeline_e2e": er_pipeline_e2e,
        "er_stream_incremental": er_stream_incremental,
        "er_model_f1": er_model_f1,
        **_audit_queries(),
    }


def _audit_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The §2.A error-transform window (SURVEY.md §2.A 1-26), ORACLE-
    CHECKED: every ``er_op_<name>`` runs the real transform(s) in
    rng='md5' mode and a DuckDB oracle reproduces the full derivation —
    selection, draws, edits — row for row (see
    rlerrorgenerator_spark/oracle_er.py). Same-schema lineage ops are
    grouped per family with an ``op`` tag column so all 29 transforms fit
    the driver's 50-entry correctness window (LINEAGE_FAMILIES documents
    the op→family map). Two seeded-RNG programs stay rows-only by
    contract: the iterative calibration loop and the full-program lineage
    audit (er_audit_violations aggregates every per-operator invariant
    check from rlerrorgenerator_spark/audit.py — its ``violations``
    column must be all-zero)."""
    from rlerrorgenerator_spark.audit import run_audit
    from rlerrorgenerator_spark.oracle_er import er_family_queries

    out = dict(er_family_queries())

    def calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
        return run_audit(spark, "calibration")

    def audit_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
        from rlerrorgenerator_spark.audit import audit_query_names

        parts = []
        for n in audit_query_names():
            if n == "calibration":
                continue
            parts.append(
                run_audit(spark, n).agg(
                    F.lit(n).alias("op"),
                    F.coalesce(F.sum("violations"), F.lit(0)).alias("violations"),
                )
            )
        acc = parts[0]
        for pp in parts[1:]:
            acc = acc.unionByName(pp)
        return acc.orderBy("op")

    out["er_op_calibration"] = calibration
    out["er_audit_violations"] = audit_violations
    return out


_GRAMS_SQL = f"""
  corpus AS ({_DOUBLED_SQL}),
  toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
  grams AS (
    SELECT doc_id, unnest(list_distinct(list_transform(
             generate_series(1, greatest(len(w) - 4, 1)),
             i -> array_to_string(w[i:i+4], ' ')))) AS g
    FROM toks
  )
"""

_MD5_U64_SQL = "lpad((('0x' || substring(md5({x}), 17, 16))::UBIGINT)::varchar, 20, '0')"


def _minhash_sql(n_hashes: int = 12, bands: int = 6) -> str:
    mins = ",\n      ".join(
        "min(" + _MD5_U64_SQL.format(x=f"'mh{i}|' || g") + f") AS mh_{i}"
        for i in range(n_hashes)
    )
    rows = n_hashes // bands
    band_sel = "\n    UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        + " || '|' || ".join(f"mh_{b * rows + r}" for r in range(rows))
        + " AS bkey FROM sig"
        for b in range(bands)
    )
    return f"""
  WITH {_GRAMS_SQL.strip()},
  sig AS (
    SELECT doc_id,
      {mins}
    FROM grams GROUP BY doc_id
  ),
  bands AS (
    {band_sel}
  )
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_bands
  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
   AND a.doc_id < b.doc_id
  GROUP BY 1, 2
"""


def _minhash_sides_sql(n_hashes: int, bands: int, shingle_k: int,
                       max_block_size: int) -> str:
    """CTEs ``cap_a`` (clean, rid = url) and ``cap_b`` (dirty, rid = rid)
    of ``(rid, band, bkey)`` over the md5 blocking fixture — the sides of
    ``minhash_blocks(signature="md5")``: word ``shingle_k``-shingles,
    md5 signatures, ``|``-joined band keys and the per-side (band, bkey)
    hot-bucket cap. A pair shares a surviving (band, bkey) on both."""
    mins = ",\n      ".join(
        "min(" + _MD5_U64_SQL.format(x=f"'mh{i}|' || g") + f") AS mh_{i}"
        for i in range(n_hashes)
    )
    rows = n_hashes // bands
    k1 = shingle_k - 1

    def side(tbl: str, rid_expr: str, s: str) -> str:
        band_sel = "\n    UNION ALL ".join(
            f"SELECT rid, {b} AS band, "
            + " || '|' || ".join(f"mh_{b * rows + r}" for r in range(rows))
            + f" AS bkey FROM sig_{s}"
            for b in range(bands)
        )
        return f"""
  toks_{s} AS (SELECT {rid_expr} AS rid, string_split(text, ' ') AS w FROM {tbl}),
  grams_{s} AS (
    SELECT rid, unnest(list_distinct(list_transform(
             generate_series(1, greatest(len(w) - {k1}, 1)),
             i -> array_to_string(w[i:i+{k1}], ' ')))) AS g
    FROM toks_{s}
  ),
  sig_{s} AS (
    SELECT rid,
      {mins}
    FROM grams_{s} GROUP BY rid
  ),
  bands_{s} AS (
    {band_sel}
  ),
  cap_{s} AS (
    SELECT * FROM bands_{s} x WHERE NOT EXISTS (
      SELECT 1 FROM (
        SELECT band, bkey FROM bands_{s}
        GROUP BY band, bkey HAVING count(*) > {max_block_size}
      ) h WHERE h.band = x.band AND h.bkey = x.bkey
    )
  )"""

    return (side("clean", "url", "a").strip() + ",\n  "
            + side("dirty", "rid", "b").strip())


def _minhash_block_sql(n_hashes: int, bands: int, shingle_k: int,
                       max_block_size: int) -> str:
    """Cross-side (clean × dirty) variant of ``_minhash_sql`` over the
    md5 blocking fixture — re-derives ``minhash_blocks(signature="md5")``:
    the agreeing-band counts per candidate pair."""
    return f"""
  WITH {_BLOCKING_FIXTURE_SQL},
  {_minhash_sides_sql(n_hashes, bands, shingle_k, max_block_size)}
  SELECT a.rid AS rid_a, b.rid AS rid_b, count(*) AS n_bands
  FROM cap_a a JOIN cap_b b ON a.band = b.band AND a.bkey = b.bkey
  GROUP BY 1, 2
  ORDER BY rid_a, rid_b
"""


_MARKERS = {
    "en": ("the", "a", "and", "of", "to"),
    "de": ("der", "die", "und", "das", "ein"),
    "es": ("el", "los", "y", "que", "una"),
    "fr": ("le", "la", "et", "les", "des"),
}


def _marker_count_sql(lang: str) -> str:
    lst = ", ".join(f"'{m}'" for m in _MARKERS[lang])
    return f"len(list_filter(string_split(text, ' '), t -> t IN ({lst})))"


def oracle_sql() -> dict[str, str]:
    c_en, c_de, c_es, c_fr = (_marker_count_sql(lg) for lg in ("en", "de", "es", "fr"))
    stop = ", ".join(f"'{m}'" for m in ("the", "a", "of", "and", "to"))
    return {
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 6) AS avg_qty,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "q3_shipping_priority": """
            SELECT o_orderkey, o_orderdate,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY o_orderkey, o_orderdate
            ORDER BY revenue DESC, o_orderkey
            LIMIT 10
        """,
        "q5_region_revenue": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE c_nationkey = s_nationkey
            GROUP BY n_name
            ORDER BY revenue DESC, n_name
        """,
        "events_type_stats": """
            SELECT event_type, count(*) AS n,
                   round(sum(value), 4) AS sum_value,
                   round(avg(value), 6) AS avg_value,
                   count(DISTINCT user_id) AS n_users
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "top_users_by_value": """
            WITH tot AS (
              SELECT user_id, round(sum(value), 4) AS total_value,
                     count(*) AS n_events
              FROM events GROUP BY user_id
            )
            SELECT row_number() OVER (ORDER BY total_value DESC, user_id) AS rk,
                   user_id, total_value, n_events
            FROM tot
            ORDER BY total_value DESC, user_id
            LIMIT 10
        """,
        "doc_tokens_bpe": """
            SELECT doc_id,
                   len(string_split(text, ' '))::BIGINT AS n_ws_tokens,
                   len(regexp_extract_all(text,
                       '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))::BIGINT AS n_bpe_tokens
            FROM documents
        """,
        "doc_winnow": """
            WITH g AS (
              SELECT doc_id,
                     list_transform(
                       generate_series(1, greatest(length(text) - 7, 1)),
                       i -> lpad((('0x' || substring(md5(substring(text, i, 8)),
                                                     17, 16))::UBIGINT)::varchar,
                                 20, '0')) AS hs
              FROM documents
            ),
            w AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       generate_series(1, greatest(len(hs) - 15, 1)),
                       j -> list_min(hs[j:j+15]))) AS fps
              FROM g
            )
            SELECT doc_id, unnest(fps) AS fp FROM w
        """,
        "doc_quality": f"""
            WITH base AS (
              SELECT doc_id,
                     length(text) AS n_chars,
                     len(string_split(text, ' ')) AS n_tokens,
                     len(list_filter(string_split(text, ' '),
                                     t -> t IN ({stop}))) AS sw,
                     length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS n_punct
              FROM documents
            )
            SELECT doc_id,
                   n_chars::BIGINT AS q_chars,
                   n_tokens::BIGINT AS q_tokens,
                   round((n_chars - (n_tokens - 1))::DOUBLE / greatest(n_tokens, 1), 6) AS q_avg_token_len,
                   round(sw::DOUBLE / greatest(n_tokens, 1), 6) AS q_stopword_ratio,
                   round(n_punct::DOUBLE / greatest(n_chars, 1), 6) AS q_punct_ratio,
                   round(
                     least(n_tokens::DOUBLE / 50.0, 1.0) * 0.5
                     + least(sw::DOUBLE / greatest(n_tokens, 1) * 5, 1.0) * 0.3
                     + (1.0 - least(n_punct::DOUBLE / greatest(n_chars, 1) * 10, 1.0)) * 0.2,
                     6) AS q_score
            FROM base
        """,
        "doc_fingerprint": """
            SELECT doc_id,
                   md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
            FROM documents
        """,
        "doc_langid": f"""
            WITH c AS (
              SELECT doc_id, lang,
                     {c_en} AS c_en, {c_de} AS c_de,
                     {c_es} AS c_es, {c_fr} AS c_fr
              FROM documents
            )
            SELECT doc_id, lang,
                   CASE
                     WHEN c_en >= greatest(c_de, c_es, c_fr, 1) THEN 'en'
                     WHEN c_de >= greatest(c_es, c_fr, 1) THEN 'de'
                     WHEN c_es >= greatest(c_fr, 1) THEN 'es'
                     WHEN c_fr >= 1 THEN 'fr'
                     ELSE 'und'
                   END AS lang_pred
            FROM c
        """,
        "dup_exact_groups": f"""
            WITH corpus AS ({_DOUBLED_SQL}),
            fp AS (
              SELECT doc_id,
                     md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
              FROM corpus
            )
            SELECT fp, count(*) AS group_size, min(doc_id) AS keep_id
            FROM fp GROUP BY fp HAVING count(*) > 1
        """,
        "dup_ngram_jaccard": f"""
            WITH {_GRAMS_SQL.strip()},
            hot AS (SELECT g FROM grams GROUP BY g HAVING count(*) > 100),
            g2 AS (SELECT * FROM grams ANTI JOIN hot USING (g)),
            counts AS (SELECT doc_id, count(*) AS n FROM g2 GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
              FROM g2 a JOIN g2 b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   round(i::DOUBLE / (ca.n + cb.n - i), 6) AS jaccard
            FROM inter
            JOIN counts ca ON ca.doc_id = id_a
            JOIN counts cb ON cb.doc_id = id_b
            WHERE round(i::DOUBLE / (ca.n + cb.n - i), 6) >= 0.6
        """,
        "dup_minhash": _minhash_sql(12, 6),
        # Transitive clustering over the MinHash pairs: recursive-CTE
        # label propagation (min reachable id per node) — the independent
        # witness for the hash-to-min CC operator.
        "dup_cluster_sizes": f"""
            WITH RECURSIVE pairs AS ({_minhash_sql(12, 6)}),
            edges AS (
              SELECT lpad(id_a::VARCHAR, 8, '0') AS a,
                     lpad(id_b::VARCHAR, 8, '0') AS b
              FROM pairs
              UNION
              SELECT lpad(id_b::VARCHAR, 8, '0'),
                     lpad(id_a::VARCHAR, 8, '0')
              FROM pairs
            ),
            reach(id, lbl) AS (
              SELECT DISTINCT a, a FROM edges
              UNION
              SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.id
            ),
            comp AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id)
            SELECT cluster_id, count(*) AS size
            FROM comp GROUP BY cluster_id HAVING count(*) > 1
            ORDER BY cluster_id
        """,
        "dup_simhash": f"""
            WITH corpus AS ({_DOUBLED_SQL}),
            tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM corpus),
            h AS (
              SELECT doc_id,
                     ('0x' || substring(md5(t), 17, 8))::BIGINT AS hi,
                     ('0x' || substring(md5(t), 25, 8))::BIGINT AS lo
              FROM tok
            ),
            bsum AS (
              SELECT doc_id, r.i AS i,
                     sum(CASE WHEN ((lo >> r.i) & 1) = 1 THEN 1 ELSE -1 END) AS slo,
                     sum(CASE WHEN ((hi >> r.i) & 1) = 1 THEN 1 ELSE -1 END) AS shi
              FROM h CROSS JOIN (SELECT unnest(range(32)) AS i) r
              GROUP BY doc_id, r.i
            ),
            sk AS (
              SELECT doc_id,
                     sum(CASE WHEN slo > 0 THEN (1::BIGINT << i) ELSE 0 END)::BIGINT AS sim_lo,
                     sum(CASE WHEN shi > 0 THEN (1::BIGINT << i) ELSE 0 END)::BIGINT AS sim_hi
              FROM bsum GROUP BY doc_id
            ),
            bands AS (
              SELECT doc_id, b.j AS band,
                     CASE WHEN b.j < 4 THEN (sim_lo >> (8 * b.j)) & 255
                          ELSE (sim_hi >> (8 * (b.j - 4))) & 255 END AS bkey
              FROM sk CROSS JOIN (SELECT unnest(range(8)) AS j) b
            ),
            pairs AS (
              SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
              FROM bands a JOIN bands b2
                ON a.band = b2.band AND a.bkey = b2.bkey AND a.doc_id < b2.doc_id
            )
            SELECT id_a, id_b,
                   (bit_count(xor(sa.sim_lo, sb.sim_lo))
                    + bit_count(xor(sa.sim_hi, sb.sim_hi)))::BIGINT AS hamming
            FROM pairs
            JOIN sk sa ON sa.doc_id = id_a
            JOIN sk sb ON sb.doc_id = id_b
            WHERE bit_count(xor(sa.sim_lo, sb.sim_lo))
                  + bit_count(xor(sa.sim_hi, sb.sim_hi)) <= 6
        """,
        # merged driver row: both brute-force cosine shapes (top-k per
        # query + thresholded near-dup pairs), each previously green as
        # its own query; the union keeps both value-hashed in one slot
        "ann_cosine": """
            WITH scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     round(list_cosine_similarity(q.embedding::DOUBLE[],
                                                  c.embedding::DOUBLE[]), 6) AS cos
              FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
              WHERE q.vec_id < 20
            ),
            ranked AS (
              SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC
              ) AS rk
              FROM scored
            )
            SELECT 'topk' AS kind, query_id AS id_a, neighbor_id AS id_b,
                   cos, rk
            FROM ranked WHERE rk <= 5
            UNION ALL
            SELECT 'neardup' AS kind, a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.embedding::DOUBLE[],
                                                b.embedding::DOUBLE[]), 6) AS cos,
                   NULL::BIGINT AS rk
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                               b.embedding::DOUBLE[]), 6) >= 0.5
            ORDER BY kind, id_a, id_b
        """,
        # Full cross-engine LSH replication: md5-derived Rademacher planes
        # over floor(x·1e6) integer vectors — identical buckets, candidate
        # sets, and recall row as the Spark query (no float accumulation
        # hazard: plane dots are pure integer arithmetic in both engines).
        "ann_lsh_topk": """
            WITH qv AS (
              SELECT vec_id,
                     list_transform(embedding,
                                    x -> floor(x::DOUBLE * 1000000)::BIGINT) AS r
              FROM embeddings
            ),
            plane_sign AS (
              SELECT t.t, i.i, d.d,
                     CASE WHEN ('0x' || substring(
                              md5('lsh|' || t.t || '|' || i.i || '|' || d.d),
                              1, 1))::INT % 2 = 0
                          THEN 1::BIGINT ELSE (-1)::BIGINT END AS s
              FROM (SELECT unnest(range(24)) AS t) t,
                   (SELECT unnest(range(4)) AS i) i,
                   (SELECT unnest(range(1, 65)) AS d) d
            ),
            planes AS (
              SELECT t, i, list(s ORDER BY d) AS signs
              FROM plane_sign GROUP BY t, i
            ),
            dots AS (
              SELECT v.vec_id, p.t, p.i,
                     list_sum(list_transform(range(1, 65),
                                             d -> v.r[d] * p.signs[d])) AS dot
              FROM qv v CROSS JOIN planes p
            ),
            bkt AS (
              SELECT vec_id, t,
                     sum(CASE WHEN dot > 0 THEN (1::BIGINT << i) ELSE 0 END)::BIGINT AS bucket
              FROM dots GROUP BY vec_id, t
            ),
            cand AS (
              SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
              FROM bkt a JOIN bkt b ON a.t = b.t AND a.bucket = b.bucket
              WHERE a.vec_id < 50 AND a.vec_id != b.vec_id
            ),
            scored AS (
              SELECT c.query_id, c.neighbor_id,
                     round(list_cosine_similarity(q.embedding::DOUBLE[],
                                                  n.embedding::DOUBLE[]), 6) AS cos
              FROM cand c
              JOIN embeddings q ON q.vec_id = c.query_id
              JOIN embeddings n ON n.vec_id = c.neighbor_id
            ),
            lsh1 AS (
              SELECT query_id, neighbor_id AS lsh_nn
              FROM (SELECT *, row_number() OVER (
                      PARTITION BY query_id ORDER BY cos DESC, neighbor_id
                    ) AS rk FROM scored)
              WHERE rk = 1
            ),
            ex_scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     round(list_cosine_similarity(q.embedding::DOUBLE[],
                                                  c.embedding::DOUBLE[]), 6) AS cos
              FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
              WHERE q.vec_id < 50
            ),
            ex1 AS (
              SELECT query_id, neighbor_id AS exact_nn
              FROM (SELECT *, row_number() OVER (
                      PARTITION BY query_id ORDER BY cos DESC, neighbor_id
                    ) AS rk FROM ex_scored)
              WHERE rk = 1
            )
            SELECT count(*) AS n_queries,
                   sum(CASE WHEN lsh_nn = exact_nn THEN 1 ELSE 0 END)::BIGINT AS hits,
                   round(avg((CASE WHEN lsh_nn = exact_nn THEN 1 ELSE 0 END)::DOUBLE), 4)
                     AS recall_at_1,
                   (avg((CASE WHEN lsh_nn = exact_nn THEN 1 ELSE 0 END)::DOUBLE) >= 0.9)
                     AS recall_target_met
            FROM ex1 LEFT JOIN lsh1 USING (query_id)
        """,
        # IVF routing replayed end-to-end: md5-Rademacher centroids
        # (the 'ivf|c|d' sign stream, plans/ann.py::md5_signs),
        # integer routing keys dot·8 + (7-c) so ties break toward the
        # lower centroid id, argmax assignment, top-6 probes, exact
        # cosine re-rank, recall vs the brute-force baseline.
        "ann_ivf_topk": """
            WITH qv AS (
              SELECT vec_id,
                     list_transform(embedding,
                                    x -> floor(x::DOUBLE * 1000000)::BIGINT) AS r
              FROM embeddings
            ),
            cent_sign AS (
              SELECT c.c, d.d,
                     CASE WHEN ('0x' || substring(
                              md5('ivf|' || c.c || '|' || d.d),
                              1, 1))::INT % 2 = 0
                          THEN 1::BIGINT ELSE (-1)::BIGINT END AS s
              FROM (SELECT unnest(range(8)) AS c) c,
                   (SELECT unnest(range(1, 65)) AS d) d
            ),
            cents AS (
              SELECT c, list(s ORDER BY d) AS signs
              FROM cent_sign GROUP BY c
            ),
            keys AS (
              SELECT v.vec_id,
                     (list_sum(list_transform(range(1, 65),
                                              d -> v.r[d] * ct.signs[d]))::BIGINT
                      * 8 + (7 - ct.c)) AS key
              FROM qv v CROSS JOIN cents ct
            ),
            ranked AS (
              SELECT vec_id, 7 - ((key % 8 + 8) % 8) AS bucket,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY key DESC) AS rk
              FROM keys
            ),
            assign AS (SELECT vec_id, bucket FROM ranked WHERE rk = 1),
            probes AS (
              SELECT vec_id, bucket FROM ranked
              WHERE rk <= 6 AND vec_id < 50
            ),
            cand AS (
              SELECT DISTINCT p.vec_id AS query_id, a.vec_id AS neighbor_id
              FROM probes p JOIN assign a ON p.bucket = a.bucket
              WHERE p.vec_id != a.vec_id
            ),
            scored AS (
              SELECT c.query_id, c.neighbor_id,
                     round(list_cosine_similarity(q.embedding::DOUBLE[],
                                                  n.embedding::DOUBLE[]), 6) AS cos
              FROM cand c
              JOIN embeddings q ON q.vec_id = c.query_id
              JOIN embeddings n ON n.vec_id = c.neighbor_id
            ),
            ivf1 AS (
              SELECT query_id, neighbor_id AS ivf_nn
              FROM (SELECT *, row_number() OVER (
                      PARTITION BY query_id ORDER BY cos DESC, neighbor_id
                    ) AS rk FROM scored)
              WHERE rk = 1
            ),
            ex_scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     round(list_cosine_similarity(q.embedding::DOUBLE[],
                                                  c.embedding::DOUBLE[]), 6) AS cos
              FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
              WHERE q.vec_id < 50
            ),
            ex1 AS (
              SELECT query_id, neighbor_id AS exact_nn
              FROM (SELECT *, row_number() OVER (
                      PARTITION BY query_id ORDER BY cos DESC, neighbor_id
                    ) AS rk FROM ex_scored)
              WHERE rk = 1
            )
            SELECT count(*) AS n_queries,
                   sum(CASE WHEN ivf_nn = exact_nn THEN 1 ELSE 0 END)::BIGINT AS hits,
                   round(avg((CASE WHEN ivf_nn = exact_nn THEN 1 ELSE 0 END)::DOUBLE), 4)
                     AS recall_at_1,
                   round(6.0 / 8.0, 4) AS probed_fraction,
                   (avg((CASE WHEN ivf_nn = exact_nn THEN 1 ELSE 0 END)::DOUBLE) >= 0.8)
                     AS recall_target_met
            FROM ex1 LEFT JOIN ivf1 USING (query_id)
        """,
        # er_op_* oracles: each §2.A transform re-derived end-to-end in
        # DuckDB (md5 draw streams; rlerrorgenerator_spark/oracle_er.py).
        # The pipeline itself is oracle-checked end-to-end by
        # er_pipeline_e2e above (blocking → scoring → decisions →
        # metrics over the md5 fixture). Remaining rows-only entries per
        # the driver contract: the xxhash exact-k er_pipeline runs
        # (er_lineage_summary/er_blocking_candidates/er_linkage_metrics/
        # er_cluster_sizes) + er_op_calibration + er_audit_violations
        # (iterative seeded-RNG programs), er_model_f1 (iterative MLlib
        # optimization — the row itself carries holdout F1), and
        # mm_features (no SQL engine decodes the binaries).
        "doc_pii_scrub": r"""
            WITH base AS (
              SELECT doc_id, substring(text, 1, 160) AS text,
                     doc_id::VARCHAR AS k
              FROM documents
            ),
            injected AS (
              SELECT doc_id,
                (CASE WHEN ('0x' || substring(md5('pii|m|' || k), 17, 16))::UBIGINT % 2 = 0
                 THEN 'user' || (('0x' || substring(md5('pii|u|' || k), 17, 16))::UBIGINT % 1000)::VARCHAR
                      || '@ex' || (('0x' || substring(md5('pii|d|' || k), 17, 16))::UBIGINT % 100)::VARCHAR
                      || '.com '
                 ELSE '' END)
                || text
                || (CASE WHEN ('0x' || substring(md5('pii|p|' || k), 17, 16))::UBIGINT % 3 = 0
                    THEN ' 415-555-' || lpad((('0x' || substring(md5('pii|n|' || k), 17, 16))::UBIGINT % 10000)::VARCHAR, 4, '0')
                    ELSE '' END) AS text
              FROM base
            )
            SELECT doc_id,
                   len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS n_emails,
                   len(regexp_extract_all(text, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS n_phones,
                   regexp_replace(
                     regexp_replace(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
                     '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS scrubbed
            FROM injected ORDER BY doc_id
        """,
        "doc_decontaminate": """
            WITH toks AS (
              SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
            ),
            grams AS (
              SELECT doc_id, source, unnest(list_distinct(list_transform(
                       generate_series(1, greatest(len(w) - 7, 1)),
                       i -> array_to_string(w[i:i+7], ' ')))) AS g
              FROM toks
            ),
            ev AS (SELECT DISTINCT g FROM grams WHERE source = 'src0')
            SELECT DISTINCT doc_id
            FROM grams JOIN ev USING (g)
            WHERE source <> 'src0'
            ORDER BY doc_id
        """,
        "doc_repetition": """
            WITH toks AS (
              SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w
              FROM documents
            ),
            base AS (
              SELECT doc_id, len(w) AS n_tokens,
                     list_transform(
                       generate_series(1, greatest(len(w) - 1, 1)),
                       i -> array_to_string(w[i:i+1], ' ')) AS grams
              FROM toks
            ),
            gb AS (
              SELECT doc_id, n_tokens,
                     len(grams) AS n_2grams,
                     len(list_distinct(grams)) AS n_distinct_2grams
              FROM base
            ),
            tc AS (
              SELECT doc_id, max(c) AS top_token_n
              FROM (SELECT doc_id, t, count(*) AS c
                    FROM (SELECT doc_id, unnest(w) AS t FROM toks)
                    GROUP BY doc_id, t)
              GROUP BY doc_id
            )
            SELECT gb.doc_id, n_tokens, n_2grams, n_distinct_2grams,
                   round((n_2grams - n_distinct_2grams) / n_2grams::DOUBLE, 6)
                     AS dup_2gram_frac,
                   top_token_n,
                   round(top_token_n / greatest(n_tokens, 1)::DOUBLE, 6)
                     AS top_token_frac
            FROM gb JOIN tc ON gb.doc_id = tc.doc_id
            ORDER BY gb.doc_id
        """,
        "events_props_stats": """
            SELECT event_type, count(*) AS n,
                   min(json_extract(props, '$.k')::BIGINT) AS min_k,
                   max(json_extract(props, '$.k')::BIGINT) AS max_k,
                   round(avg(json_extract(props, '$.k')::BIGINT), 6) AS avg_k
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        # Streaming queries: the availableNow drain of a static source
        # must agree exactly with the batch computation.
        "stream_events_windows": """
            SELECT date_trunc('hour', ts) AS window_start, event_type,
                   count(*) AS n, round(sum(value), 4) AS sum_value
            FROM events
            GROUP BY 1, 2
            ORDER BY 1, 2
        """,
        # Sessions via batch lag/cumsum; each user's LAST session is
        # excluded — it is exactly the open session the stateful operator
        # still holds in state when the availableNow drain terminates.
        "stream_user_sessions": """
            WITH o AS (
              SELECT user_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                               > 43200000000
                          THEN 1 ELSE 0 END AS brk
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ),
            s AS (
              SELECT user_id, ts,
                     sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
              FROM o
            ),
            agg AS (
              SELECT user_id, sid, min(ts) AS session_start,
                     max(ts) AS session_end, count(*) AS n_events
              FROM s GROUP BY user_id, sid
            )
            SELECT user_id, session_start, session_end, n_events
            FROM agg
            WHERE sid < (SELECT max(sid) FROM agg a2
                         WHERE a2.user_id = agg.user_id)
            ORDER BY user_id, session_start
        """,
        "er_blocking_exact": rf"""
            WITH {_BLOCKING_FIXTURE_SQL},
            {_exact_sides_sql(100)},
            p AS (
              SELECT rid_a, rid_b, 'exact:url_norm' AS block
              FROM a1c JOIN b1c USING (bkey)
              UNION ALL
              SELECT rid_a, rid_b, 'exact:text_prefix' AS block
              FROM a2c JOIN b2c USING (bkey)
            )
            SELECT rid_a, rid_b, min(block) AS block
            FROM p GROUP BY rid_a, rid_b ORDER BY rid_a, rid_b
        """,
        # the flagship pipeline, end-to-end: blocking (exact ∪ SNM ∪
        # md5 MinHash) → every scoring feature → gated weighted score →
        # 0.5 decision → lineage truth → confusion-matrix metrics, all
        # re-derived in DuckDB. exact-shingle mode makes the Spark
        # Jaccard equal the SQL string-shingle Jaccard; every other
        # feature is integer or fixed-order double arithmetic, so
        # per-pair probabilities are bit-identical and the decision set
        # matches pair-for-pair.
        "er_pipeline_e2e": rf"""
            WITH {_e2e_prob_sql()},
            agg AS (
              SELECT sum(CASE WHEN p > 0.5 AND label THEN 1 ELSE 0 END)::BIGINT AS tp,
                     sum(CASE WHEN p > 0.5 AND NOT label THEN 1 ELSE 0 END)::BIGINT AS fp,
                     sum(CASE WHEN p <= 0.5 AND label THEN 1 ELSE 0 END)::BIGINT AS fn,
                     sum(CASE WHEN p <= 0.5 AND NOT label THEN 1 ELSE 0 END)::BIGINT AS tn,
                     count(*)::BIGINT AS n_pairs,
                     avg(pow(least(greatest(p, 0.0), 1.0)
                             - (CASE WHEN label THEN 1.0 ELSE 0.0 END), 2)) AS brier
              FROM prob
            ),
            -- review-percent + threshold search (utils.R:1050-1081,
            -- 1121-1160): same 5-decimal probability buckets and bounded
            -- cumulative windows as metrics.review_threshold_summary
            bucket AS (
              SELECT round(p, 5) AS pb, count(*)::BIGINT AS n,
                     sum(CASE WHEN label THEN 1 ELSE 0 END)::BIGINT AS ny
              FROM prob GROUP BY 1
            ),
            cum AS (
              SELECT pb, n, ny,
                     sum(ny) OVER (ORDER BY pb DESC)
                       / sum(n) OVER (ORDER BY pb DESC) AS ppv,
                     sum(n - ny) OVER (ORDER BY pb ASC)
                       / sum(n) OVER (ORDER BY pb ASC) AS npv_c,
                     sum(n) OVER (ORDER BY pb DESC) AS cum_ge,
                     sum(n) OVER (ORDER BY pb ASC) AS cum_le
              FROM bucket
            ),
            rev AS (
              SELECT coalesce(min(CASE WHEN ppv >= 0.95 THEN pb END), 1.0) AS review_upper,
                     coalesce(max(CASE WHEN npv_c >= 0.95 THEN pb END), 0.0) AS review_lower,
                     coalesce(max(CASE WHEN ppv >= 0.95 THEN cum_ge END), 0)::BIGINT AS n_accept,
                     coalesce(max(CASE WHEN npv_c >= 0.95 THEN cum_le END), 0)::BIGINT AS n_reject,
                     sum(n)::BIGINT AS total,
                     coalesce(min(CASE WHEN ppv >= 0.99 THEN pb END), 1.0) AS thr_precision
              FROM cum
            )
            SELECT tp, fp, fn, tn, n_pairs,
                   round(brier, 6) AS brier,
                   round(tp / greatest(tp + fp, 1), 6) AS precision,
                   round(tp / greatest(tp + fn, 1), 6) AS recall,
                   round(2 * (tp / greatest(tp + fp, 1)) * (tp / greatest(tp + fn, 1))
                         / greatest((tp / greatest(tp + fp, 1)) + (tp / greatest(tp + fn, 1)), 1e-12), 6) AS f1,
                   round((tp + tn) / greatest(tp + tn + fp + fn, 1), 6) AS accuracy,
                   round(tn / greatest(tn + fp, 1), 6) AS specificity,
                   round(tn / greatest(tn + fn, 1), 6) AS npv,
                   round(review_lower, 5) AS review_lower,
                   round(review_upper, 5) AS review_upper,
                   n_accept, n_reject,
                   greatest(total - n_accept - n_reject, 0)::BIGINT AS n_review,
                   round(greatest(total - n_accept - n_reject, 0)
                         / greatest(total, 1), 6) AS review_pct,
                   round(thr_precision, 5) AS thr_precision
            FROM agg CROSS JOIN rev
        """,
        # best-links odds resolution + 1-to-1 (utils.R:426-470, :368-389)
        # over the SAME bit-identical per-pair probabilities the e2e
        # oracle certifies: accept a left id's top pair only when its
        # margin over the runner-up exceeds odds=0.4, then keep each
        # right id's single best accepted pair.
        "er_resolution_links": rf"""
            WITH {_e2e_prob_sql()},
            acc AS (SELECT rid_a, rid_b, p FROM prob WHERE p > 0.5),
            w AS (
              SELECT rid_a, rid_b, p,
                     row_number() OVER (PARTITION BY rid_a
                                        ORDER BY p DESC, rid_b) AS rk,
                     lead(p) OVER (PARTITION BY rid_a
                                   ORDER BY p DESC, rid_b) AS nxt
              FROM acc
            ),
            best AS (
              SELECT rid_a, rid_b, p FROM w
              WHERE rk = 1 AND (nxt IS NULL OR p - nxt > 0.4)
            ),
            one AS (
              SELECT rid_a, rid_b, p,
                     row_number() OVER (PARTITION BY rid_b
                                        ORDER BY p DESC, rid_a) AS rk
              FROM best
            )
            SELECT rid_a, rid_b, round(p, 6) AS match_prob
            FROM one WHERE rk = 1
            ORDER BY rid_a, rid_b
        """,
        # streaming fold == monolithic: the Spark side folds micro-batches
        # through real blocking+scoring+seeded-CC; the oracle recomputes
        # the whole thing — e2e scores, accepted pairs at p > 0.5,
        # recursive-CTE components, min-id labels over all ids.
        "er_stream_incremental": rf"""
            WITH RECURSIVE {_e2e_prob_sql()},
            acc AS (SELECT rid_a, rid_b FROM prob WHERE p > 0.5),
            edges AS (
              SELECT rid_a AS a, rid_b AS b FROM acc
              UNION
              SELECT rid_b, rid_a FROM acc
            ),
            reach(id, lbl) AS (
              SELECT DISTINCT a, a FROM edges
              UNION
              SELECT e.b, r2.lbl FROM reach r2 JOIN edges e ON e.a = r2.id
            ),
            comp AS (SELECT id, min(lbl) AS lbl FROM reach GROUP BY id),
            ids AS (
              SELECT url AS id FROM clean
              UNION
              SELECT rid FROM dirty
            )
            SELECT ids.id, coalesce(comp.lbl, ids.id) AS cluster_id
            FROM ids LEFT JOIN comp ON comp.id = ids.id
            ORDER BY ids.id
        """,
        # incremental == monolithic: the oracle recomputes the FULL
        # clustering (recursive-CTE label propagation over all edges)
        # while the Spark query folds batch 2 into batch 1's clusters.
        "er_incremental_clusters": rf"""
            WITH RECURSIVE {_BLOCKING_FIXTURE_SQL},
            {_exact_sides_sql(100)},
            p AS (
              SELECT DISTINCT rid_a, rid_b FROM (
                SELECT rid_a, rid_b FROM a1c JOIN b1c USING (bkey)
                UNION ALL
                SELECT rid_a, rid_b FROM a2c JOIN b2c USING (bkey)
              )
            ),
            edges AS (
              SELECT rid_a AS a, rid_b AS b FROM p
              UNION
              SELECT rid_b, rid_a FROM p
            ),
            reach(id, lbl) AS (
              SELECT DISTINCT a, a FROM edges
              UNION
              SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.id
            ),
            comp AS (SELECT id, min(lbl) AS lbl FROM reach GROUP BY id),
            ids AS (
              SELECT url AS id FROM clean
              UNION
              SELECT rid FROM dirty
            )
            SELECT ids.id, coalesce(comp.lbl, ids.id) AS cluster_id
            FROM ids LEFT JOIN comp ON comp.id = ids.id
            ORDER BY ids.id
        """,
        "er_scoring_distances": rf"""
            WITH {_BLOCKING_FIXTURE_SQL},
            a AS (SELECT url AS rid_a, {_NORM_URL_SQL.format(u="url")} AS bkey FROM clean),
            b AS (SELECT rid AS rid_b, url AS url_b,
                         {_NORM_URL_SQL.format(u="url")} AS bkey FROM dirty),
            p AS (SELECT rid_a, rid_b, url_b FROM a JOIN b USING (bkey))
            SELECT rid_a, rid_b,
                   levenshtein(rid_a, url_b) AS lev,
                   CASE WHEN jaro_winkler_similarity(rid_a, url_b) > 0.82
                        THEN round(jaro_winkler_similarity(rid_a, url_b), 4)
                   END AS jw_gated
            FROM p ORDER BY rid_a, rid_b
        """,
        "er_person_features": _person_features_oracle_sql(),
        "er_blocking_minhash": _minhash_block_sql(12, 6, 5, 200),
        "er_blocking_snm": rf"""
            WITH {_BLOCKING_FIXTURE_SQL},
            {_snm_pairs_sql()}
            SELECT rid_a, rid_b, 'snm' AS block FROM snm
            ORDER BY rid_a, rid_b
        """,
        **_er_oracle_sql_entries(),
    }


def _exact_sides_sql(max_block_size: int) -> str:
    """CTEs ``a1c``/``b1c`` (url_norm) and ``a2c``/``b2c`` (text_prefix)
    of ``(rid_a | rid_b, bkey)`` over the md5 blocking fixture — the
    sides of ``exact_blocks``, each key dropped where its per-side group
    exceeds ``max_block_size`` rows (100 is ``exact_blocks``' default;
    ``build_candidates`` passes ``MAX_BLOCK_SIZE``)."""
    return rf"""a1 AS (SELECT * FROM (SELECT url AS rid_a, {_NORM_URL_SQL.format(u="url")} AS bkey FROM clean)
                   WHERE bkey IS NOT NULL AND length(bkey) > 0),
            b1 AS (SELECT * FROM (SELECT rid AS rid_b, {_NORM_URL_SQL.format(u="url")} AS bkey FROM dirty)
                   WHERE bkey IS NOT NULL AND length(bkey) > 0),
            a1c AS (SELECT * FROM a1 WHERE bkey NOT IN
                      (SELECT bkey FROM a1 GROUP BY bkey HAVING count(*) > {max_block_size})),
            b1c AS (SELECT * FROM b1 WHERE bkey NOT IN
                      (SELECT bkey FROM b1 GROUP BY bkey HAVING count(*) > {max_block_size})),
            a2 AS (SELECT * FROM (SELECT url AS rid_a,
                          substring(regexp_replace(substring(text, 1, 1000), '\s+', ' ', 'g'), 1, 24) AS bkey
                   FROM clean) WHERE bkey IS NOT NULL AND length(bkey) > 0),
            b2 AS (SELECT * FROM (SELECT rid AS rid_b,
                          substring(regexp_replace(substring(text, 1, 1000), '\s+', ' ', 'g'), 1, 24) AS bkey
                   FROM dirty) WHERE bkey IS NOT NULL AND length(bkey) > 0),
            a2c AS (SELECT * FROM a2 WHERE bkey NOT IN
                      (SELECT bkey FROM a2 GROUP BY bkey HAVING count(*) > {max_block_size})),
            b2c AS (SELECT * FROM b2 WHERE bkey NOT IN
                      (SELECT bkey FROM b2 GROUP BY bkey HAVING count(*) > {max_block_size}))"""


def _snm_pairs_sql() -> str:
    """CTE ``snm`` of distinct ``(rid_a, rid_b)`` over the md5 blocking
    fixture — ``sorted_neighborhood_blocks(window=3)``: one global rank
    over the normalized url (ties broken by side, then rid) and a
    banded join of clean and dirty rows at most 3 ranks apart."""
    return rf"""u AS (
              SELECT url AS rid, {_NORM_URL_SQL.format(u="url")} AS skey, 'a' AS side FROM clean
              UNION ALL
              SELECT rid, {_NORM_URL_SQL.format(u="url")} AS skey, 'b' AS side FROM dirty
            ),
            r AS (SELECT rid, side,
                         row_number() OVER (ORDER BY skey, side, rid) AS rn,
                         CAST(floor(row_number() OVER (ORDER BY skey, side, rid) / 3.0) AS BIGINT) AS band
                  FROM u),
            snm AS (
              SELECT DISTINCT la.rid AS rid_a, rb.rid AS rid_b
              FROM (SELECT * FROM r WHERE side = 'a') la
              JOIN (SELECT * FROM r WHERE side = 'b') rb
                ON rb.band BETWEEN la.band - 1 AND la.band + 1
               AND abs(la.rn - rb.rn) <= 3
            )"""


# The full pipeline re-derivation up to per-pair (rid_a, rid_b, p,
# label): fixture → blocking (exact url_norm + text_prefix with hot-key
# caps, ∪ SNM banded rank join, ∪ md5 MinHash-LSH) → every scoring
# feature → gated weighted score. Shared by the e2e metrics,
# resolution-links and streaming-fold oracles.
# NOTE: assembled lazily inside oracle_sql() via rf-strings, so ordering
# of these module constants only matters relative to first call.
def _e2e_prob_sql() -> str:
    from rlerrorgenerator_spark.linkage.blocking import MAX_BLOCK_SIZE

    return rf"""{_BLOCKING_FIXTURE_SQL},
            {_exact_sides_sql(MAX_BLOCK_SIZE)},
            {_snm_pairs_sql()},
            -- MinHash-LSH at minhash_blocks' defaults (16 hashes, 8
            -- bands, word 4-shingles), as build_candidates runs it
            {_minhash_sides_sql(16, 8, 4, MAX_BLOCK_SIZE)},
            cand AS (
              SELECT DISTINCT rid_a, rid_b FROM (
                SELECT rid_a, rid_b FROM a1c JOIN b1c USING (bkey)
                UNION ALL
                SELECT rid_a, rid_b FROM a2c JOIN b2c USING (bkey)
                UNION ALL
                SELECT rid_a, rid_b FROM snm
                UNION ALL
                SELECT ma.rid AS rid_a, mb.rid AS rid_b
                FROM cap_a ma JOIN cap_b mb
                  ON ma.band = mb.band AND ma.bkey = mb.bkey
              )
            ),
            cg AS (SELECT url AS id, unnest(list_distinct(list_transform(
                     generate_series(1, greatest(len(string_split(text, ' ')) - 3, 1)),
                     i -> array_to_string((string_split(text, ' '))[i:i+3], ' ')))) AS g
                   FROM clean),
            dg AS (SELECT rid AS id, unnest(list_distinct(list_transform(
                     generate_series(1, greatest(len(string_split(text, ' ')) - 3, 1)),
                     i -> array_to_string((string_split(text, ' '))[i:i+3], ' ')))) AS g
                   FROM dirty),
            csz AS (SELECT id, count(*) AS n FROM cg GROUP BY id),
            dsz AS (SELECT id, count(*) AS n FROM dg GROUP BY id),
            common AS (
              SELECT cand.rid_a, cand.rid_b, count(*) AS m
              FROM cand
              JOIN cg ON cg.id = cand.rid_a
              JOIN dg ON dg.id = cand.rid_b AND dg.g = cg.g
              GROUP BY cand.rid_a, cand.rid_b
            ),
            feat AS (
              SELECT cand.rid_a, cand.rid_b,
                     least(levenshtein({_NORM_URL_SQL.format(u="c.url")},
                                       {_NORM_URL_SQL.format(u="d.url")}),
                           levenshtein(lower(c.url), lower(d.url)))::DOUBLE AS lev_abs,
                     levenshtein(substring(c.text, 1, 64), substring(d.text, 1, 64))::DOUBLE
                       / greatest(length(substring(c.text, 1, 64)),
                                  length(substring(d.text, 1, 64)), 1) AS text_lev,
                     levenshtein(substring(c.text, 1, 64),
                                 substring(coalesce(d.lang, ''), 1, 64))::DOUBLE
                       / greatest(length(substring(c.text, 1, 64)),
                                  length(substring(coalesce(d.lang, ''), 1, 64)), 1) AS swap_lev,
                     CASE WHEN (csz.n + dsz.n - coalesce(common.m, 0)) > 0
                          THEN coalesce(common.m, 0)::DOUBLE
                               / (csz.n + dsz.n - coalesce(common.m, 0))
                          ELSE 0.0 END AS jac,
                     CASE WHEN c.lang IS NULL OR d.lang IS NULL THEN 0.5
                          WHEN c.lang = d.lang THEN 1.0 ELSE 0.0 END AS lang_eq,
                     abs(c.ts_sec - d.ts_sec)::DOUBLE / 86400.0 AS ts_days,
                     (substring(cand.rid_b, 3) = right(cand.rid_a, 8)) AS label
              FROM cand
              JOIN clean c ON c.url = cand.rid_a
              JOIN dirty d ON d.rid = cand.rid_b
              LEFT JOIN common ON common.rid_a = cand.rid_a AND common.rid_b = cand.rid_b
              JOIN csz ON csz.id = cand.rid_a
              JOIN dsz ON dsz.id = cand.rid_b
            ),
            prob AS (
              SELECT rid_a, rid_b, label,
                     (CASE WHEN lev_abs <= 2 THEN 1.0 ELSE 0.0 END)
                     * (0.45 * greatest(0.0, 1.0 - lev_abs / 3.0)
                        + 0.45 * greatest(
                            CASE WHEN text_lev <= 0.25 THEN 1.0 - text_lev ELSE 0.0 END,
                            CASE WHEN jac >= 0.5 THEN jac ELSE 0.0 END,
                            CASE WHEN swap_lev <= 0.25 THEN 1.0 - swap_lev ELSE 0.0 END)
                        + 0.05 * lang_eq
                        -- ts evidence: identical division order to the
                        -- Spark formula (features.py add_match_prob) so
                        -- the doubles stay bit-identical; the fixture's
                        -- warc_ts is epoch + doc_id % 31536000, so
                        -- cross-doc pairs (SNM neighbors) carry a real
                        -- nonzero ts_days
                        + 0.05 * (1.0 / (1.0 + ts_days / 30.0))) AS p
              FROM feat
            )"""


# normalize_url re-expressed in DuckDB (blocking.py::normalize_url)
_NORM_URL_SQL = (
    "regexp_replace(regexp_replace(regexp_replace(lower({u}), "
    "'^[a-z0-9]{{2,8}}://', ''), '^www\\.', ''), '/$', '')"
)

# the md5 fixture of _blocking_fixture, re-derived in SQL: same urls as
# pages_from_documents, same md5('blk|' || doc_id) % 4 perturbation class
_BLOCKING_FIXTURE_SQL = """
            clean AS (
              SELECT lower('https://' || source || '.example.com/d/'
                           || lpad(doc_id::VARCHAR, 8, '0')) AS url,
                     trim(regexp_replace(text, '\\s+', ' ', 'g')) AS text,
                     lang,
                     (doc_id % 31536000)::BIGINT AS ts_sec
              FROM documents
            ),
            dirty AS (
              SELECT 'd:' || lpad(doc_id::VARCHAR, 8, '0') AS rid,
                     lower(CASE (('0x' || substring(md5('blk|' || doc_id::VARCHAR), 17, 16))::UBIGINT % 4)::INT
                       WHEN 0 THEN 'htps://' || source || '.example.com/d/'
                                   || lpad(doc_id::VARCHAR, 8, '0')
                       WHEN 1 THEN 'https://' || source || '.example.com/d/'
                                   || lpad(doc_id::VARCHAR, 8, '0') || '/'
                       WHEN 2 THEN 'https://' || source || '.examp1e.com/d/'
                                   || lpad(doc_id::VARCHAR, 8, '0')
                       ELSE 'https://' || source || '.example.com/d/'
                            || lpad(doc_id::VARCHAR, 8, '0')
                     END) AS url,
                     trim(regexp_replace(text, '\\s+', ' ', 'g')) AS text,
                     lang,
                     (doc_id % 31536000)::BIGINT AS ts_sec
              FROM documents
            )"""


def _er_oracle_sql_entries() -> dict[str, str]:
    from rlerrorgenerator_spark.oracle_er import er_family_sql

    return er_family_sql()


def _person_features_oracle_sql() -> str:
    from rlerrorgenerator_spark.oracle_er import person_features_sql

    return person_features_sql()
