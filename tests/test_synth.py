"""Clean-table synthesis: determinism + the byte-identical text invariant
(SURVEY.md §5.4, BASELINE.json input_hint)."""

from __future__ import annotations

from rlerrorgenerator_spark.sources.pages import extract_text, synth_pages


def test_schema(spark):
    df = synth_pages(spark, 10, seed=1)
    assert [f.name for f in df.schema.fields] == ["url", "warc_ts", "html", "text", "lang"]
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert types["html"] == "binary"
    assert types["warc_ts"] == "timestamp"


def test_text_is_pure_function_of_html(spark):
    rows = synth_pages(spark, 50, seed=42).collect()
    for r in rows:
        assert extract_text(bytes(r.html)) == r.text


def test_deterministic_across_partitionings(spark):
    a = synth_pages(spark, 200, seed=7, partitions=2).orderBy("url").collect()
    b = synth_pages(spark, 200, seed=7, partitions=13).orderBy("url").collect()
    assert a == b


def test_urls_unique(spark):
    df = synth_pages(spark, 500, seed=42)
    assert df.select("url").distinct().count() == 500


def test_rows_for_ids_pinned():
    """Page generation is a fixed function of (ids, seed, n_total)."""
    import hashlib

    from rlerrorgenerator_spark.sources.pages import _rows_for_ids

    df = _rows_for_ids(range(50), 7, 1000, (200, 600))
    assert hashlib.sha256(df.to_csv(index=False).encode()).hexdigest() == (
        "fa05748add3cc6e32bbf97ce78d9e9187f896068af301815236909a5d339fc0c")
