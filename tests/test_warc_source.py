"""WARC source roundtrip: fixture pages -> ISO 28500 files (plain + gzip
members) -> read_warc_pages -> byte-identical html, then the extraction
invariant holds end-to-end from the archive format."""

import pytest

from fastdup_spark.fixtures.pages import generate_pages
from fastdup_spark.fixtures.warc import write_warc_files
from fastdup_spark.sources.warc import parse_warc_records, read_warc_pages


@pytest.fixture(scope="module")
def corpus():
    return generate_pages(120, seed=21).pages


@pytest.mark.parametrize("gz", [False, True])
def test_roundtrip(spark, corpus, tmp_path, gz):
    out = str(tmp_path / ("gz" if gz else "plain"))
    paths = write_warc_files(corpus, out, records_per_file=50,
                             gzip_members=gz)
    assert len(paths) == 3  # sharded: file-level read parallelism
    df = read_warc_pages(spark, out).cache()
    rows = {r["url"]: r for r in df.collect()}
    assert len(rows) == len(corpus)
    for rec in corpus.itertuples():
        got = rows[rec.url]
        assert bytes(got["html"]) == bytes(rec.html), rec.url
        assert got["warc_ts"] == rec.warc_ts
        assert got["warc_file"].endswith(".warc.gz" if gz else ".warc")


def test_extraction_invariant_from_warc(spark, corpus, tmp_path):
    """The per-row invariant (byte-identical extracted text per url) must
    hold when ingest starts from the archive format, not just parquet."""
    from pyspark.sql import functions as F

    from fastdup_spark.functions.extract import extract_pages

    out = str(tmp_path / "w")
    write_warc_files(corpus, out, gzip_members=True)
    pages = read_warc_pages(spark, out)
    ok = extract_pages(pages, 1).filter(F.col("is_valid"))
    got = {r["url"]: r["text"] for r in ok.collect()}
    truth = dict(zip(corpus["url"], corpus["text"]))
    checked = 0
    for url, text in truth.items():
        if text:  # empty-text rows are quarantine rows by design
            assert got[url] == text, url
            checked += 1
    assert checked > 100


def test_parser_skips_malformed_and_non_response():
    good = next(iter(parse_warc_records(
        b"WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 4\r\n\r\n"
        b"info\r\n\r\n"
        b"garbage bytes here "
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://x/\r\n"
        b"WARC-Date: 2024-01-01T00:00:00Z\r\n"
        b"Content-Length: 30\r\n\r\n"
        b"HTTP/1.1 200 OK\r\n\r\n<p>body</p>\r\n\r\n")))
    assert good["url"] == "https://x/"
    assert good["html"] == b"<p>body</p>"


def test_run_input_format_warc(spark, corpus, tmp_path):
    """fd.run(input_path=..., input_format='warc') ingests archives
    directly — no intermediate parquet conversion step."""
    from fastdup_spark import FastdupSpark

    out = str(tmp_path / "warc_in")
    write_warc_files(corpus, out, gzip_members=True)
    fd = FastdupSpark(spark, str(tmp_path / "work"))
    summ = fd.run(input_path=out, input_format="warc")
    n_nonempty = int((corpus["text"] != "").sum())
    assert summ["valid_docs"] == n_nonempty


def test_streaming_parse_bounded_memory(tmp_path):
    """A multi-hundred-MB (decompressed) archive parses with a bounded
    rolling buffer: peak RSS grows by far less than the decompressed size
    (round-3 verdict item #2 — the old parser materialized the whole
    decompressed stream, ~4-5 GiB for a real Common Crawl file)."""
    import gzip
    import resource

    from fastdup_spark.fixtures.warc import _record
    from fastdup_spark.sources.warc import iter_warc_records, parse_warc_records

    n_rec, body = 300, b"<p>" + b"abcdefgh" * ((1 << 20) // 8) + b"</p>"
    path = str(tmp_path / "big.warc.gz")
    with gzip.open(path, "wb", compresslevel=1) as g:
        for i in range(n_rec):
            g.write(_record(f"https://big/{i}", "2024-01-01T00:00:00", body))
    decompressed_mb = n_rec * len(body) / (1 << 20)
    assert decompressed_mb > 250

    rss0 = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss  # KiB on linux
    n = 0
    with gzip.open(path, "rb") as fp:
        for rec in iter_warc_records(fp):
            assert rec["html"] == body
            n += 1
    assert n == n_rec
    # and the blob entrypoint (what the Spark task runs) stays bounded too
    with open(path, "rb") as f:
        blob = f.read()
    assert sum(1 for _ in parse_warc_records(blob)) == n_rec
    delta_mb = (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss - rss0) / 1024
    assert delta_mb < 120, f"peak RSS grew {delta_mb:.0f} MiB for a " \
                           f"{decompressed_mb:.0f} MiB archive"
