"""WARC source: Common-Crawl-style archives -> the canonical pages frame.

The reference consumes one local hOCR file per run (parser.py:23-25); a
web-scale corpus arrives as WARC segments.  This source turns a directory
of ``.warc`` / ``.warc.gz`` files into the engine's canonical
``pages(url, warc_ts, html)`` DataFrame with no external WARC library:

  * ``spark.read.format("binaryFile")`` scans the segment files (one task
    per file — WARC members are not splittable anyway; Common Crawl ships
    ~1 GB segments sized for exactly this);
  * one ``mapInArrow`` stage parses records per file: WARC/1.x headers are
    CRLF-delimited key:value blocks, each followed by ``Content-Length``
    payload bytes and a CRLF CRLF record separator — parsed with plain
    byte scanning;
  * only ``WARC-Type: response`` records with an http/html payload are
    emitted; the HTTP response header block is stripped so ``html`` is the
    body bytes the kernel expects;
  * ``.gz`` segments are decompressed with ``gzip.decompress``, which
    handles the member-per-record concatenation Common Crawl uses (each
    record its own gzip member) as well as whole-file compression.

Scale notes: parsing is bytes-proportional and embarrassingly parallel
(one file per task); memory is bounded by one decompressed segment per
task — the same envelope any WARC consumer has.  Malformed records are
skipped with a per-file error row (never a task failure), matching the
extraction kernel's error contract.
"""

from __future__ import annotations

import gzip
from datetime import datetime, timezone
from typing import Iterable, Iterator, List, Optional, Tuple

import pyarrow as pa

from pyspark.sql import DataFrame

from ..session import arrow_batch, worker_batches

WARC_PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, error string"

_CRLF2 = b"\r\n\r\n"


def _parse_headers(block: bytes) -> dict:
    headers: dict = {}
    for line in block.split(b"\r\n"):
        if b":" in line:
            k, _, v = line.partition(b":")
            headers[k.strip().lower().decode("latin-1")] = v.strip().decode("latin-1")
    return headers


def _strip_http_headers(payload: bytes) -> bytes:
    """Response records carry an HTTP header block before the body."""
    if payload[:5] in (b"HTTP/",):
        sep = payload.find(_CRLF2)
        if sep != -1:
            return payload[sep + 4 :]
    return payload


def _parse_warc_ts(raw: Optional[str]):
    if not raw:
        return None
    try:
        return datetime.strptime(raw, "%Y-%m-%dT%H:%M:%SZ").replace(
            tzinfo=timezone.utc
        )
    except ValueError:
        return None


def parse_warc_records(
    data: bytes, want: str = "response"
) -> Iterator[Tuple[str, object, bytes]]:
    """Yield (url, warc_ts, payload_bytes) for each record of type
    ``want``.  ``response`` (WARC crawl archives) strips the HTTP header
    block so the payload is the html body; ``conversion`` (WET
    extracted-text segments) payloads are the text itself — no HTTP
    framing to strip.  All other record types (request, warcinfo,
    metadata) are length-skipped."""
    pos = 0
    n = len(data)
    while pos < n:
        # skip inter-record CRLFs
        while data.startswith(b"\r\n", pos):
            pos += 2
        if pos >= n:
            break
        if not data.startswith(b"WARC/", pos):
            raise ValueError(f"not a WARC record at offset {pos}")
        hdr_end = data.find(_CRLF2, pos)
        if hdr_end == -1:
            raise ValueError("truncated WARC header block")
        headers = _parse_headers(data[pos:hdr_end])
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError):
            raise ValueError("WARC record missing Content-Length")
        body_start = hdr_end + 4
        body_end = body_start + length
        if body_end > n:
            raise ValueError("WARC record payload exceeds file size")
        if headers.get("warc-type") == want:
            url = headers.get("warc-target-uri", "")
            ts = _parse_warc_ts(headers.get("warc-date"))
            payload = data[body_start:body_end]
            if want == "response":
                payload = _strip_http_headers(payload)
            yield url, ts, payload
        pos = body_end


def _segment_batches(want: str, payload: pa.Field, decode):
    """mapInArrow kernel over (path, content) file batches -> one row
    (url, warc_ts, <payload>, error) per ``want`` record, the record body
    passed through ``decode``.  ``.gz`` segments are decompressed first
    (multi-member aware: Common Crawl gzips one member per record).  A
    parse failure adds ONE error row for the bad file (url = file path,
    payload NULL) after the rows it did parse, instead of a task failure."""
    schema = pa.schema(
        [("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")), payload, ("error", pa.string())]
    )

    def batches_fn(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            rows: List[tuple] = []
            for p, raw in zip(b.column("path").to_pylist(), b.column("content").to_pylist()):
                try:
                    data = bytes(raw or b"")
                    if data[:2] == b"\x1f\x8b":
                        data = gzip.decompress(data)
                    for url, ts, body in parse_warc_records(data, want):
                        rows.append((url, ts, decode(body), None))
                except Exception as exc:
                    rows.append((p, None, None, f"{type(exc).__name__}: {exc}"))
            yield arrow_batch(list(zip(*rows)) if rows else [()] * 4, schema)

    return batches_fn


def _read_segments(spark, path: str, glob: str, want: str, payload: pa.Field, decode, schema: str) -> DataFrame:
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("path", "content")
    )
    return files.mapInArrow(worker_batches(_segment_batches(want, payload, decode)), schema)


def read_warc(spark, path: str) -> DataFrame:
    """Directory/glob of .warc/.warc.gz files -> (url, warc_ts, html, error):
    ``response`` records, HTTP header block stripped."""
    return _read_segments(
        spark, path, "*.warc*", "response", pa.field("html", pa.binary()), bytes, WARC_PAGES_SCHEMA
    )


WET_PAGES_SCHEMA = "url string, warc_ts timestamp, text string, error string"


def read_wet(spark, path: str) -> DataFrame:
    """Directory/glob of .warc.wet(.gz) extracted-text segments ->
    (url, warc_ts, text, error) — the Common Crawl WET shortcut when the
    corpus build wants TEXT and can accept CC's own extraction instead of
    running this engine's (the curation/dedup surface consumes either).
    ``conversion`` records are decoded utf-8 with replacement: Common Crawl
    WET payloads are declaredly utf-8 but not guaranteed valid."""
    return _read_segments(
        spark, path, "*.wet*", "conversion", pa.field("text", pa.string()),
        lambda body: body.decode("utf-8", "replace"), WET_PAGES_SCHEMA,
    )


N_SEGMENTS = 8  # segment files per synthesized corpus


def _write_segments(records, out_dir: str, ext: str, head: bytes = b"") -> int:
    """Write (seg_key, record bytes) pairs into ``seg_key % N_SEGMENTS``
    files ``seg-K.<ext>.gz``, each file starting with ``head``, each
    record (and ``head``) its own gzip member (the Common Crawl layout);
    then a ``_COMPLETE`` marker.  Returns the record count."""
    import os

    segs: dict = {}
    n = 0
    for seg_key, rec in records:
        segs.setdefault(int(seg_key) % N_SEGMENTS, []).append(gzip.compress(rec, mtime=0))
        n += 1
    head = gzip.compress(head, mtime=0) if head else head
    os.makedirs(out_dir, exist_ok=True)
    for k, recs in segs.items():
        with open(os.path.join(out_dir, f"seg-{k:05d}.{ext}.gz"), "wb") as f:
            f.write(head + b"".join(recs))
    with open(os.path.join(out_dir, "_COMPLETE"), "w") as f:
        f.write(str(n))
    return n


def write_warc_segments(records, out_dir: str) -> int:
    """Deterministic WARC corpus synthesizer (fixture/sink helper).

    ``records``: iterable of (seg_key: int, url, ts, body: bytes).  Records
    are grouped into ``seg_key % N_SEGMENTS`` segment files, each record its
    own gzip member (the Common Crawl layout); a WARC request record precedes
    each response so readers must skip non-response types.  Writes
    ``seg-K.warc.gz`` files plus a ``_COMPLETE`` marker; returns the record
    count.

    This is driver-side fixture generation (bounded, test-scale) — a real
    100 TB corpus arrives as WARC already; the scale path is read_warc.
    """
    recs = (
        (
            seg_key,
            warc_record(f"{url}#req", ts, b"GET / HTTP/1.1", warc_type="request")
            + warc_record(url, ts, body),
        )
        for seg_key, url, ts, body in records
    )
    return _write_segments(recs, out_dir, "warc")


def warc_record(
    url: str, ts: str, body: bytes, warc_type: str = "response", http: bool = True
) -> bytes:
    """One WARC/1.0 record (test/sink helper; the byte layout is the one
    parse_warc_records consumes).  ``http=True`` wraps the body in an HTTP
    header block (response records); ``http=False`` writes the raw payload
    (conversion/warcinfo records — the WET layout)."""
    payload = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body
        if http
        else body
    )
    header = (
        f"WARC/1.0\r\n"
        f"WARC-Type: {warc_type}\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"WARC-Date: {ts}\r\n"
        f"Content-Length: {len(payload)}\r\n"
    ).encode()
    return header + b"\r\n" + payload + b"\r\n\r\n"


def wet_to_documents(pages: DataFrame) -> DataFrame:
    """Adapt a WET frame (url, warc_ts, text) to the documents shape the
    curation/dedup/textstats surface consumes: ``doc_id`` is the
    repo-standard 60-bit md5(url) prefix (deterministic on any cluster —
    keeper elections stay reproducible across runs; NOT
    monotonically-increasing, which no operator requires), ``source`` is
    the url host (the per-source rollup/sketch key), ``lang`` is the
    engine's own n-gram predictor (``lang_pred_col`` — WET carries no
    language metadata, and a NULL lang would fail every language gate
    downstream).  Map-only, zero shuffle."""
    from pyspark.sql import functions as F

    from ..operators.textstats import lang_pred_col, md5_int_col

    return pages.where(F.col("error").isNull() if "error" in pages.columns
                       else F.lit(True)).select(
        md5_int_col(F.col("url"), 1, 15).alias("doc_id"),
        "url",
        "warc_ts",
        "text",
        lang_pred_col(F.col("text")).alias("lang"),
        F.regexp_extract(F.col("url"), r"^[^:/?#]+://([^/?#]*)", 1).alias(
            "source"
        ),
        F.length(F.col("text")).cast("long").alias("n_chars"),
    )


def write_wet_segments(records, out_dir: str) -> int:
    """Deterministic WET corpus synthesizer (fixture helper, WET twin of
    ``write_warc_segments``).  ``records``: iterable of (seg_key, url, ts,
    text: str) grouped into ``seg_key % N_SEGMENTS`` segment files; each
    segment STARTS with a ``warcinfo`` member (the real WET layout —
    readers must length-skip it), then one ``conversion`` gzip member per
    record.  Writes ``seg-K.warc.wet.gz`` + ``_COMPLETE``; returns the
    record count."""
    recs = (
        (seg_key, warc_record(url, ts, text.encode("utf-8"), warc_type="conversion", http=False))
        for seg_key, url, ts, text in records
    )
    info = warc_record(
        "urn:wet-synthesizer", "2025-01-01T00:00:00Z",
        b"software: write_wet_segments", warc_type="warcinfo", http=False,
    )
    return _write_segments(recs, out_dir, "warc.wet", head=info)
