"""WARC source: synthetic segments round-trip through the reader and the
extraction kernel (plain, gzip whole-file, and gzip member-per-record —
the Common Crawl layout)."""

import gzip
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from ocr_table_extractor_to_csv_spark.operators.extract import extract_pages
from ocr_table_extractor_to_csv_spark.sources.pages import grid_hocr, grid_tokens
from ocr_table_extractor_to_csv_spark.sources.warc import (
    parse_warc_records,
    read_warc,
    warc_record,
)

TS = "2025-01-01T00:00:0{i}Z"


def _docs():
    texts = [
        "alpha beta gamma delta epsilon zeta eta theta",
        "one two three four five six seven eight nine ten eleven twelve",
    ]
    return [
        (f"https://t.example/{i}", TS.format(i=i), grid_hocr(grid_tokens(t)))
        for i, t in enumerate(texts)
    ]


def _segment(docs) -> bytes:
    out = b""
    for url, ts, html in docs:
        # interleave non-response records: the reader must skip them
        out += warc_record(f"{url}#req", ts, b"GET / HTTP/1.1", warc_type="request")
        out += warc_record(url, ts, html)
    return out


def test_parse_warc_records_roundtrip():
    docs = _docs()
    recs = list(parse_warc_records(_segment(docs)))
    assert [(u, h) for u, _ts, h in recs] == [(u, h) for u, _t, h in docs]
    assert all(ts is not None for _u, ts, _h in recs)


def test_read_warc_all_layouts_and_extract(spark, tmp_path):
    docs = _docs()
    seg = _segment(docs)
    d = tmp_path / "warcs"
    d.mkdir()
    (d / "plain.warc").write_bytes(seg)
    (d / "whole.warc.gz").write_bytes(gzip.compress(seg))
    # Common Crawl layout: one gzip MEMBER per record, concatenated
    members = b"".join(
        gzip.compress(warc_record(u, t, h)) for u, t, h in docs
    )
    (d / "members.warc.gz").write_bytes(members)
    (d / "broken.warc").write_bytes(b"NOT A WARC FILE")

    pages = read_warc(spark, str(d))
    good = pages.where(F.col("error").isNull())
    bad = pages.where(F.col("error").isNotNull()).collect()
    rows = good.collect()
    # 2 docs x 3 readable layouts; the broken file yields ONE error row
    assert len(rows) == 6
    assert len(bad) == 1 and "broken.warc" in bad[0].url
    by_url = {}
    for r in rows:
        by_url.setdefault(r.url, []).append(bytes(r.html))
    for url, _ts, html in docs:
        assert by_url[url] == [html] * 3

    # the reader's output IS the kernel's input: extraction runs clean
    ext = extract_pages(good.select("url", "html"), layout="generic").collect()
    assert len(ext) == 6 and all(r.error is None for r in ext)
    assert {r.n_cols for r in ext} == {4}


def test_parse_warc_records_length_framed_not_delimiter_scanned():
    """Bodies containing CRLF CRLF (the classic WARC-parser trap) must not
    split records: framing is Content-Length, never delimiter scanning.
    Also: random seeded bodies with arbitrary bytes round-trip exactly."""
    import random

    rng = random.Random(3)
    docs = []
    for i in range(25):
        body = bytes(rng.randrange(256) for _ in range(rng.randrange(0, 400)))
        body += b"\r\n\r\nWARC/1.0\r\n"  # embedded fake record start
        docs.append((f"https://r.example/{i}", f"2025-01-01T00:{i:02d}:00Z", body))
    seg = b"".join(warc_record(u, t, b) for u, t, b in docs)
    recs = list(parse_warc_records(seg))
    assert [(u, h) for u, _t, h in recs] == [(u, h) for u, _t, h in docs]


def test_warc_through_extract_job_resume_path(spark, tmp_path):
    """Raw segments through the FULL batch job (resume anti-join, giants
    split, progress commit) — the --warc entry's job body."""
    from jobs.extract_job import run_extract

    d = tmp_path / "warcs"
    d.mkdir()
    (d / "seg.warc").write_bytes(_segment(_docs()))
    pages = read_warc(spark, str(d)).where(F.col("error").isNull())
    committed, facts = run_extract(
        spark,
        pages.select("url", "html"),
        out=str(tmp_path / "out"),
        progress_path=str(tmp_path / "progress"),
        batch_id=1,
        layout="generic",
    )
    rows = committed.collect()
    assert len(rows) == 2 and all(r.error is None for r in rows)
    assert facts == {
        "rows": 2,
        "failed": 0,
        "html_bytes": sum(r.html_bytes for r in rows),
        "batch_id": 1,
    }


def test_extract_job_warc_landing(spark, tmp_path):
    """The --warc ingest path: one WARC parse lands a parquet staging
    table, error segments are durably recorded, extraction reads the
    landing — never the raw bytes twice."""
    from jobs.extract_job import land_warc, run_extract

    docs = _docs()
    d = tmp_path / "warcs"
    d.mkdir()
    (d / "a.warc").write_bytes(_segment(docs))
    (d / "broken.warc").write_bytes(b"NOT A WARC FILE")
    out = str(tmp_path / "out")

    pages = land_warc(spark, str(d), out)
    landing = spark.read.parquet(f"{out}_warc_landing")
    assert landing.count() == len(docs) + 1  # 2 pages + 1 error row
    errs = spark.read.parquet(f"{out}_warc_errors")
    assert errs.count() == 1 and "broken" in errs.collect()[0].url

    run_extract(
        spark, pages.select("url", "html"), out=out,
        progress_path=str(tmp_path / "prog"), batch_id=0, layout="auto",
    )
    extracted = spark.read.parquet(out)
    assert extracted.count() == len(docs)
    assert extracted.where(F.col("error").isNotNull()).count() == 0


def test_wet_roundtrip_warcinfo_skipped_and_unicode(spark, tmp_path):
    """WET segments: warcinfo head member length-skipped, conversion
    members decoded utf-8, non-utf8 bytes replaced (never a crash),
    malformed file -> one error row."""
    from ocr_table_extractor_to_csv_spark.sources.warc import (
        read_wet,
        write_wet_segments,
    )

    texts = ["héllo wörld — § text", "plain ascii body", "tab\tand\nnewline"]
    d = tmp_path / "wet"
    n = write_wet_segments(
        (
            (i, f"https://w.example/{i}", TS.format(i=i), t)
            for i, t in enumerate(texts)
        ),
        str(d),
        n_segments=2,
    )
    assert n == len(texts)
    # a raw (non-gzip) malformed segment must become an error row
    (d / "broken.warc.wet").write_bytes(b"NOT A WET FILE")
    out = read_wet(spark, str(d)).collect()
    good = {r.url: r for r in out if r.error is None}
    assert {r.url.split("/")[-1] for r in good.values()} == {"0", "1", "2"}
    assert [good[f"https://w.example/{i}"].text for i in range(3)] == texts
    assert all(r.warc_ts is not None for r in good.values())
    bad = [r for r in out if r.error is not None]
    assert len(bad) == 1 and "broken" in bad[0].url


def test_wet_invalid_utf8_replaced_not_fatal():
    from ocr_table_extractor_to_csv_spark.sources.warc import (
        parse_warc_records,
        warc_record,
    )

    rec = warc_record(
        "https://w.example/x", "2025-01-01T00:00:00Z",
        b"ok \xff\xfe bytes", warc_type="conversion", http=False,
    )
    [(url, _ts, payload)] = list(parse_warc_records(rec, want="conversion"))
    assert payload.decode("utf-8", "replace") == "ok �� bytes"


@pytest.mark.parametrize("kind", ["warc", "wet"])
def test_segment_writes_do_not_depend_on_the_clock(kind, tmp_path, monkeypatch):
    """The same records written twice, 10 s apart, give byte-identical
    gzip-member segments: no member header carries the write time."""
    import time

    from ocr_table_extractor_to_csv_spark.sources import warc

    write = getattr(warc, f"write_{kind}_segments")
    body = (lambda t: t.encode()) if kind == "warc" else (lambda t: t)
    recs = [(i, f"https://w.example/{i}", TS.format(i=i), body(f"text {i}")) for i in range(3)]
    for run, now in enumerate((1_700_000_000.0, 1_700_000_010.0)):
        monkeypatch.setattr(time, "time", lambda now=now: now)
        write(recs, str(tmp_path / str(run)), n_segments=2, gzip_members=True)
    first = sorted((tmp_path / "0").glob("seg-*"))
    assert len(first) == 2
    for seg in first:
        assert seg.read_bytes() == (tmp_path / "1" / seg.name).read_bytes(), seg.name


def test_wet_to_documents_feeds_curation_surface(spark, tmp_path):
    """WET landing -> documents shape -> a real curation op: ids are the
    deterministic 60-bit md5(url) prefix (stable across runs/partitions),
    source is the host, and exact_dedup runs unmodified on the result."""
    import hashlib

    from ocr_table_extractor_to_csv_spark.operators import dedup
    from ocr_table_extractor_to_csv_spark.sources.warc import (
        read_wet,
        wet_to_documents,
        write_wet_segments,
    )

    rows = [
        (i, f"https://h{i % 2}.example/p/{i}", TS.format(i=i),
         "same text body" if i < 2 else f"unique {i}")
        for i in range(4)
    ]
    d = tmp_path / "wet"
    write_wet_segments(iter(rows), str(d), n_segments=1)
    docs = wet_to_documents(read_wet(spark, str(d)))
    got = {r.url: r for r in docs.collect()}
    assert len(got) == 4
    for _i, url, _ts, _t in rows:
        assert got[url].doc_id == int(
            hashlib.md5(url.encode()).hexdigest()[:15], 16
        )
        assert got[url].source == url.split("/")[2]
        assert got[url].lang == "und"  # no stopword hits in these texts
    out = dedup.exact_dedup(docs).collect()
    assert sum(r.n_docs for r in out) == 4
    assert max(r.n_docs for r in out) == 2  # the planted exact pair
