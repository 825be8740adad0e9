"""Deterministic synthesis of the Common-Crawl-style ``pages`` table.

Schema per BASELINE.json ``input_hint``:
``(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``.

This plays the role of the reference's clean person table
(`/root/reference/R/1_error.R:3-26` ``prep_data``; NC voter ingest at
`/root/reference/benchmarking/utils.R:1284-1295`). Key properties:

- Fully deterministic per (row id, seed): generated distributed via
  ``mapInPandas`` over ``spark.range`` — identical output at any
  partition count or cluster size.
- ``text`` is a *pure function* of ``html`` (``extract_text``), giving the
  input_hint invariant "byte-identical extracted text per url".
- ``url`` is the unique stable key (the reference's ``id = row_number()``,
  which is not partition-safe in Spark — SURVEY.md §1.1).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Deterministic synthetic vocabulary (letters-only tokens so char-level
# error transforms behave like the reference's `letters` charset,
# `/root/reference/R/2_edit_distance_errors.R:20`).
_SYLLABLES = [
    "ta", "ne", "ri", "so", "lu", "ma", "ke", "vi", "do", "pa",
    "she", "tro", "gli", "fen", "cor", "bal", "mun", "dis", "qua", "zer",
]
# an array, not a list: ``rng.choice`` would convert a list on every call
_VOCAB = np.array([a + b for a in _SYLLABLES for b in _SYLLABLES] + [
    "the", "and", "for", "with", "from", "page", "report", "data",
    "about", "index", "news", "update", "archive", "info",
])
_LANGS = ["en", "de", "fr", "es", "it"]
_LANG_W = np.array([0.55, 0.15, 0.12, 0.10, 0.08])
_TLDS = ["com", "org", "net", "io", "dev"]

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
    ]
)

_TAG_RE = re.compile(r"<[^>]+>")
_BASE_TS = np.datetime64("2024-01-01T00:00:00")


def extract_text(html: bytes) -> str:
    """Pure deterministic text extraction: strip tags, squish whitespace.

    The per-row invariant of BASELINE.json input_hint — ``pages.text`` must
    equal ``extract_text(pages.html)`` byte-for-byte for every url.
    """
    raw = html.decode("utf-8", errors="replace")
    no_tags = _TAG_RE.sub(" ", raw)
    return " ".join(no_tags.split())


def _render_html(title: str, body: str) -> bytes:
    return (
        f"<html><head><title>{title}</title></head>"
        f"<body><h1>{title}</h1><p>{body}</p></body></html>"
    ).encode("utf-8")


def _rows_for_ids(ids: np.ndarray, seed: int, n_total: int,
                  body_tokens: tuple[int, int] = (20, 120)) -> pd.DataFrame:
    # host count derives from the TOTAL row count (never the batch size —
    # that would make output depend on partitioning)
    n_hosts = max(8, int(n_total ** 0.5))
    urls, tss, htmls, texts, langs = [], [], [], [], []
    for i in ids:
        rng = np.random.default_rng((int(i) << 20) ^ (seed * 0x9E3779B9 & 0xFFFFFFFF))
        host = int(i) % n_hosts
        tld = _TLDS[int(rng.integers(0, len(_TLDS)))]
        url = f"https://www.host{host:04d}.{tld}/p/{int(i):010d}"
        n_tok = int(rng.integers(body_tokens[0], body_tokens[1]))
        toks = rng.choice(_VOCAB, size=n_tok)
        title = " ".join(rng.choice(_VOCAB, size=3))
        body = " ".join(toks.tolist())
        html = _render_html(title, body)
        text = extract_text(html)
        lang = _LANGS[int(rng.choice(len(_LANGS), p=_LANG_W))]
        ts = _BASE_TS + np.timedelta64(int(rng.integers(0, 365 * 24 * 3600)), "s")
        urls.append(url)
        tss.append(ts)
        htmls.append(html)
        texts.append(text)
        langs.append(lang)
    return pd.DataFrame(
        {
            "url": urls,
            "warc_ts": pd.Series(tss, dtype="datetime64[us]"),
            "html": htmls,
            "text": texts,
            "lang": langs,
        }
    )


def synth_pages(spark: SparkSession, n: int, seed: int = 42,
                partitions: int | None = None,
                body_tokens: tuple[int, int] = (20, 120)) -> DataFrame:
    """Distributed deterministic pages table of ``n`` rows.

    Uses ``spark.range`` + ``mapInPandas`` so synthesis scales out: each
    task generates only its id slice, keyed RNG makes output independent
    of the slice boundaries. ``body_tokens`` bounds the per-page body
    length — (200, 600) approximates real Common-Crawl text density
    (KB-scale pages), the default keeps unit tests fast.
    """
    if partitions is None:
        # VOLUME-based partitioning (not core-count-based): identical
        # plans at every parallelism level — the property the scaling
        # benchmark measures — and tasks sized by data, which is how a
        # 100 TB table is split (maxPartitionBytes), not by cluster size.
        partitions = max(2, min(512, n // 2500 + 1, n))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield _rows_for_ids(b["id"].to_numpy(), seed, n, body_tokens)

    return (
        spark.range(0, n, numPartitions=partitions)
        .mapInPandas(gen, schema=PAGES_SCHEMA)
    )


def pages_from_documents(docs: DataFrame) -> DataFrame:
    """Adapt the driver's ``documents`` table (doc_id, text, lang, source,
    n_chars — TESTDATA.md) into the pages schema, deterministically:
    url from (source, doc_id), warc_ts from doc_id, html a tag wrapper
    whose ``extract_text`` equals the text column (input_hint invariant)."""
    text = F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))
    html_str = F.concat(
        F.lit("<html><body><p>"), text, F.lit("</p></body></html>")
    )
    return docs.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/d/"),
            F.lpad(F.col("doc_id").cast("string"), 8, "0"),
        ).alias("url"),
        F.timestamp_seconds(
            F.lit(1704067200) + (F.col("doc_id") % 31536000)
        ).alias("warc_ts"),
        F.encode(html_str, "utf-8").alias("html"),
        text.alias("text"),
        F.col("lang"),
    )


def prep_pages(pages: DataFrame) -> DataFrame:
    """Analogue of the reference's ``prep_data`` (`R/1_error.R:3-26`):
    lowercase string link fields + stamp ``file`` and the stable row key.

    The reference adds ``id = row_number()``; at scale we use the natural
    key ``url`` as ``rid`` (row id) and ``orig_url`` (cluster ground-truth
    anchor; FIXTURES.md §2).
    """
    return (
        pages.withColumn("url", F.lower("url"))
        .withColumn("lang", F.lower("lang"))
        .withColumn("file", F.lit("b"))
        .withColumn("rid", F.col("url"))
        .withColumn("orig_url", F.col("url"))
    )
