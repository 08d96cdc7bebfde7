"""Extraction byte-identity per url + quarantine error codes (the per-row
invariant from BASELINE.json:input_hint; ref bad-files contract RUN.md:120-124)."""

from pyspark.sql import functions as F

from fastdup_spark.functions.extract import (
    ERR_DECODE, ERR_EMPTY, ERR_NO_TEXT, extract_pages,
)


def _split(pages):
    """(valid rows, quarantined rows) of one extraction pass."""
    ext = extract_pages(pages)
    return ext.filter(F.col("is_valid")), ext.filter(~F.col("is_valid"))


def test_extract_byte_identity(spark, spark_data, data):
    pages, _, _ = spark_data
    ok, _bad = _split(pages)
    joined = (
        ok.alias("e")
        .join(pages.select("url", F.col("text").alias("truth")), "url")
        .select("url", "text", "truth")
    )
    mismatches = joined.filter(F.col("text") != F.col("truth")).count()
    assert mismatches == 0
    # every non-quarantine row extracted
    n_good = len(data.pages[data.pages.text != ""])
    assert joined.count() == n_good


def test_quarantine_error_codes(spark, spark_data):
    pages, _, _ = spark_data
    _ok, bad = _split(pages)
    rows = {r["url"]: r["error_code"] for r in bad.collect()}
    assert len(rows) > 0
    kinds = {u.split("/")[3] for u in rows}
    assert kinds == {"bad"}  # only planted-bad rows quarantine
    codes = set(rows.values())
    assert ERR_DECODE in codes
    assert ERR_NO_TEXT in codes
    assert codes <= {ERR_DECODE, ERR_NO_TEXT, ERR_EMPTY}


def test_ok_and_bad_partition_pages(spark, spark_data):
    pages, _, _ = spark_data
    ok, bad = _split(pages)
    assert ok.count() + bad.count() == pages.count()
    assert ok.join(bad, "url", "inner").count() == 0


def test_entity_unescape_roundtrip(spark):
    from fastdup_spark.fixtures.pages import render_html
    text = "tokens like r&d and a<b and x>y\n\nsecond ¶ paragraph"
    html = render_html("t", text, "h.example")
    df = spark.createDataFrame(
        [("u", None, None, html)],
        "url string, warc_ts timestamp, lang string, html binary")
    ok, bad = _split(df)
    assert bad.count() == 0
    assert ok.select("text").first()[0] == text
