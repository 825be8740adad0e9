"""Text-analysis operators for large-scale training-data pipelines.

All built-in Catalyst expressions (JVM, codegen) so every operator both
scales and has an exact DuckDB oracle: token counting, quality scoring,
marker-based language ID, document fingerprinting.

Domain shared with the linkage engine: the ``documents`` test table
(doc_id, text, lang, source, n_chars) or any table with a text column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

STOPWORDS = ["the", "a", "of", "and", "to"]

# marker tokens per language for the cheap n-gram-free language-ID
# heuristic; deterministic argmax with 'en' > 'de' > 'es' > 'fr' tie order.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to"],
    "de": ["der", "die", "und", "das", "ein"],
    "es": ["el", "los", "y", "que", "una"],
    "fr": ["le", "la", "et", "les", "des"],
}


def tokens(col) -> Column:
    """Whitespace tokenization — single-space split to stay oracle-exact
    with DuckDB's string_split."""
    return F.split(col if isinstance(col, Column) else F.col(col), " ")


def token_count(col) -> Column:
    return F.size(tokens(col))


def norm_text(col) -> Column:
    """lower + whitespace squish — the canonical form for fingerprints."""
    c = col if isinstance(col, Column) else F.col(col)
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def fingerprint(col) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.
    (A content-defined rolling-hash variant lives in ``simhash`` /
    ``minhash`` for near-dup use; md5 is the exact-dup key.)"""
    return F.md5(norm_text(col))


def marker_count(col, markers: list[str]) -> Column:
    toks = tokens(col)
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def langid(col) -> Column:
    """Argmax over per-language marker-token counts; 'und' when no marker
    hits. Deterministic tie-break = dict order above."""
    counts = {lang: marker_count(col, m) for lang, m in LANG_MARKERS.items()}
    best_lang = F.lit("und")
    best_n = F.lit(0)
    for lang in reversed(list(LANG_MARKERS)):  # earlier langs win ties
        n = counts[lang]
        best_lang = F.when(n >= F.greatest(best_n, F.lit(1)), F.lit(lang)).otherwise(best_lang)
        best_n = F.greatest(best_n, n)
    return best_lang


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword-ratio quality features
    (training-data quality scoring)."""
    c = F.col(text_col)
    n_chars = F.length(c)
    n_tokens = token_count(c)
    sw = marker_count(c, STOPWORDS)
    n_punct = F.length(F.regexp_replace(c, r"[a-z0-9 ]", ""))
    return (
        df.withColumn("q_chars", n_chars.cast("long"))
        .withColumn("q_tokens", n_tokens.cast("long"))
        .withColumn(
            "q_avg_token_len",
            F.round((n_chars - (n_tokens - 1)).cast("double")
                    / F.greatest(n_tokens, F.lit(1)).cast("double"), 6),
        )
        .withColumn(
            "q_stopword_ratio",
            F.round(sw.cast("double") / F.greatest(n_tokens, F.lit(1)).cast("double"), 6),
        )
        .withColumn(
            "q_punct_ratio",
            F.round(n_punct.cast("double") / F.greatest(n_chars, F.lit(1)).cast("double"), 6),
        )
        .withColumn(
            "q_score",
            F.round(
                F.least(n_tokens.cast("double") / F.lit(50.0), F.lit(1.0)) * 0.5
                + F.least(sw.cast("double") / F.greatest(n_tokens, F.lit(1)).cast("double") * 5, F.lit(1.0)) * 0.3
                + (F.lit(1.0) - F.least(n_punct.cast("double") / F.greatest(n_chars, F.lit(1)).cast("double") * 10, F.lit(1.0))) * 0.2,
                6,
            ),
        )
    )


# GPT-2-style pre-tokenizer shape: letter runs, digit runs, single
# punctuation marks. Kept to constructs with identical semantics in Java
# regex (Spark) and RE2 (DuckDB) so the count is oracle-exact.
BPE_TOKEN_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def token_count_bpe(col) -> Column:
    """Subword-style token count: number of BPE-ish regex pre-tokens
    (letter runs / digit runs / punctuation singletons). The whitespace
    count (``token_count``) underestimates tokenizer load on punctuated
    or numeric text; this is the standard pre-tokenization granularity."""
    c = col if isinstance(col, Column) else F.col(col)
    return F.size(F.regexp_extract_all(F.coalesce(c, F.lit("")),
                                       F.lit(BPE_TOKEN_RE), F.lit(0)))


def with_winnow_fps(df: DataFrame, text_col: str = "text",
                    out_col: str = "winnow_fps",
                    k: int = 8, w: int = 16) -> DataFrame:
    """Winnowing document fingerprints (rolling-hash selection, the MOSS
    scheme): hash every char ``k``-gram, slide a ``w``-wide window, keep
    each window's MINIMUM hash, dedupe. Guarantee: any shared substring
    of length ≥ w + k − 1 between two documents yields at least one
    shared fingerprint, while only ~2/(w+1) of gram hashes are kept.

    Engine notes:
    - gram hashes use the md5→u64 zero-padded-decimal-string discipline
      (see linkage/blocking.py::minhash_signature) so DuckDB reproduces
      them exactly;
    - the hash array is projected as a BOUND attribute before the window
      ``transform`` — an inline expression would re-evaluate the whole
      gram hashing once per window position (no CSE across higher-order-
      function lambdas; see the word_shingles PERF TRAP);
    - the window scan is O(n·w) per document (w is a small constant). For
      book-length documents a monotonic-deque ``mapInPandas`` pass is the
      O(n) alternative; web-page texts don't need it.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    n = F.greatest(F.length(t) - F.lit(k - 1), F.lit(1))
    gram_hash = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.lpad(
            F.conv(F.substring(F.md5(F.substring(t, i, k)), 17, 16), 16, 10),
            20, "0",
        ),
    )
    step = df.withColumn("__gh__", gram_hash)
    m = F.greatest(F.size("__gh__") - F.lit(w - 1), F.lit(1))
    mins = F.transform(
        F.sequence(F.lit(1), m),
        lambda j: F.array_min(F.slice(F.col("__gh__"), j, w)),
    )
    return step.withColumn(out_col, F.array_distinct(mins)).drop("__gh__")


def word_shingles(col, k: int = 5) -> Column:
    """k-word shingles as array<string> (the near-dup unit for n-gram
    Jaccard and MinHash) — built-in only: slice over the token array.

    PERF TRAP: the token array MUST be a bound attribute, not an inline
    expression — any expression inside the ``transform`` lambda re-
    evaluates per shingle position (no CSE across higher-order-function
    lambda calls), turning shingling O(tokens²) per row. Measured 112s →
    ~2s for 12M shingles. Use ``word_shingles_from_tokens`` over a
    pre-projected token column; this convenience wrapper is only safe for
    short texts (tests / oracle queries at sf0.01)."""
    return word_shingles_from_tokens(tokens(col), k)


def word_shingles_from_tokens(toks, k: int = 5) -> Column:
    """Shingles from an (ideally pre-projected) token-array column."""
    n = F.greatest(F.size(toks) - F.lit(k - 1), F.lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
        )
    )


def with_shingles(df: DataFrame, text_col, out_col: str, k: int = 5,
                  normalize: bool = False) -> DataFrame:
    """Append a shingle-array column with the token split projected as a
    separate attribute first (see the PERF TRAP note above): the split
    runs once per row, the lambda reads the bound array."""
    t = text_col if isinstance(text_col, Column) else F.col(text_col)
    if normalize:
        t = F.lower(F.regexp_replace(t, r"\s+", " "))
    step = df.withColumn("__toks__", F.split(t, " "))
    return step.withColumn(
        out_col, word_shingles_from_tokens(F.col("__toks__"), k)
    ).drop("__toks__")


def exploded_shingles(df: DataFrame, text_col, keep_cols: list,
                      k: int = 5, out: str = "g") -> DataFrame:
    """Scale-safe exploded shingle posting list — the shape every
    inverted-index consumer (n-gram Jaccard, MinHash, decontamination)
    should build from. Two traps avoided, both invisible at 300-char
    sandbox docs and fatal on crawl-scale pages:

    1. the token split is projected as a BOUND attribute (via
       ``with_shingles``) so the slice lambda never re-evaluates it per
       shingle position (the word_shingles PERF TRAP: O(tokens·split));
    2. ``explode_outer``, not ``explode``: plain explode makes Catalyst
       infer a ``size(arr) > 0`` filter (InferFiltersFromGenerate) and
       push it below the projections with the shingle transform inlined
       — a full duplicate evaluation per row (and O(chars²·w) in the
       analogous winnow shape). Shingle arrays are provably non-empty
       (``sequence(1, greatest(.., 1))``), so outer is row-identical.
    """
    step = with_shingles(df, text_col, "__sh__", k)
    return step.select(*keep_cols, F.explode_outer("__sh__").alias(out))


def repetition_features(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Gopher-style repetition quality filters (Rae et al. 2021 §A1.1):
    fraction of duplicate word-2-grams and the most-common-token share.
    Boilerplate / spam / SEO pages score high on both; the standard
    pre-training filter drops documents above a threshold.

    Shape at scale: the 2-gram ratio is a pure narrow HOF projection
    (no shuffle); the top-token share needs per-(doc, token) counts —
    one explode + two partial-agg shuffles keyed by doc, so it
    distributes like the inverted-index dedup ops.
    """
    c = F.coalesce(F.col(text_col), F.lit(""))
    step = df.select(F.col(id_col).alias("doc_id"), c.alias("__t")).withColumn(
        "__toks", F.split(F.col("__t"), " ")
    )
    n_tok = F.size("__toks")
    n_grams = F.greatest(n_tok - F.lit(1), F.lit(1))
    grams = F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: F.concat_ws(" ", F.slice(F.col("__toks"), i, 2)),
    )
    base = step.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        F.size(grams).cast("long").alias("n_2grams"),
        F.size(F.array_distinct(grams)).cast("long").alias("n_distinct_2grams"),
        F.col("__toks").alias("__toks"),
    ).withColumn(
        "dup_2gram_frac",
        F.round((F.col("n_2grams") - F.col("n_distinct_2grams")).cast("double")
                / F.col("n_2grams").cast("double"), 6),
    )
    tok_counts = (
        base.select("doc_id", F.explode("__toks").alias("t"))
        .groupBy("doc_id", "t").agg(F.count("*").alias("c"))
        .groupBy("doc_id").agg(F.max("c").alias("top_token_n"))
    )
    return (
        base.drop("__toks")
        .join(tok_counts, "doc_id")
        .withColumn(
            "top_token_frac",
            F.round(F.col("top_token_n").cast("double")
                    / F.greatest(F.col("n_tokens"), F.lit(1)).cast("double"), 6),
        )
    )


# ------------------------------------------------------------- PII scrub

EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
PHONE_RE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"


def pii_scrub(col) -> "tuple[Column, Column, Column]":
    """Redact emails / phone numbers; return (scrubbed, n_emails, n_phones).

    The standard pre-training privacy pass: pure codegen regexes (RE2-safe
    patterns so a DuckDB oracle evaluates them identically). At 100 TB
    this is a narrow map — no shuffle, no Python.
    """
    c = F.col(col) if isinstance(col, str) else col
    scrubbed = F.regexp_replace(
        F.regexp_replace(c, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>")
    return (
        scrubbed,
        F.regexp_count(c, F.lit(EMAIL_RE)),
        F.regexp_count(c, F.lit(PHONE_RE)),
    )
