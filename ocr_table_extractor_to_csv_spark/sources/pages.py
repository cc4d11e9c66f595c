"""Deterministic page synthesis from the ``documents`` test table.

``pages_from_documents`` lays each document's normalized tokens onto a
4-column hOCR grid with geometry chosen so the generic-layout extraction is
EXACTLY predictable from the token list alone:

  * tokens: ``re.sub('[^a-z0-9]+',' ', text.lower()).strip().split(' ')``,
    each truncated to 12 chars; docs with < 4 tokens are skipped;
  * token i sits at row ``i // 4``, column ``i % 4``; column anchors
    ``(100, 500, 900, 1300)``; y = 100 + 56*row; box = 8px/char x 30px;
  * gutters (>= 204 px) and row gaps (26 px) are far beyond the reference
    thresholds (>5 px column gap, >2 px row gap), and every token center
    falls inside its own column interval.

Therefore the engine's generic extraction of these pages yields
``header = tokens[0:4]`` and body row r = ``tokens[4r:4r+4]`` — a fact a SQL
oracle (DuckDB) can recompute from ``documents.text`` directly, giving the
driver an end-to-end value-level check of the whole Spark pipeline
(CORRECTNESS gate), complementing the byte-identity pytest goldens.

The same grid in SQL (oracle_sql in __spark_entry__.py) reconstructs the
exact CSV text: rows joined by CRLF with a trailing CRLF, no quoting needed
(tokens are lowercase alnum).
"""

from __future__ import annotations

import re
from typing import Iterable, Iterator, List

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..plans.partitioning import fan_out
from ..session import worker_batches

TOKEN_RE = re.compile(r"[^a-z0-9]+")
ANCHORS = (100, 500, 900, 1300)
CHAR_W = 8
TOKEN_H = 30
ROW_PITCH = 56
Y0 = 100
MAX_TOKEN_LEN = 12

PAGES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("url", StringType()),
        StructField("html", BinaryType()),
    ]
)


def grid_tokens(text: str) -> List[str]:
    """The shared normalization spec (must match the SQL oracle verbatim)."""
    norm = TOKEN_RE.sub(" ", (text or "").lower()).strip()
    if not norm:
        return []
    return [t[:MAX_TOKEN_LEN] for t in norm.split(" ")]


def grid_hocr(tokens: List[str]) -> bytes:
    n = (len(tokens) // 4) * 4
    parts = [
        '<?xml version="1.0" encoding="UTF-8"?><html><body>'
        '<div class="ocr_page" title="image; bbox 0 0 1700 100000">'
    ]
    for i in range(n):
        r, c = divmod(i, 4)
        x1 = ANCHORS[c]
        y1 = Y0 + ROW_PITCH * r
        t = tokens[i]
        parts.append(
            f'<span class="ocrx_word" title="bbox {x1} {y1} '
            f"{x1 + CHAR_W * len(t)} {y1 + TOKEN_H}\">{t}</span>"
        )
    parts.append("</div></body></html>")
    return "".join(parts).encode()


# ---------------------------------------------------------------------------
# financial-grid synthesis: rows of (label, v1, v2) whose FINANCIAL-layout
# extraction is exactly (header Cuenta,Valor_1,Valor_2; one row per token
# triple).  Values are 1..999 (no thousands separators -> match the financial
# numeric regex, no CSV quoting); labels are 'l'+token (never numeric).
# All lines carry two numeric spans so merge_financial_rows never fuses rows
# and postprocess is the identity.  v-formulas are mirrored in the SQL oracle.
# ---------------------------------------------------------------------------

FIN_VX = (800, 1200)


def fin_value(tok_len: int, r: int, which: int) -> int:
    if which == 0:
        return (tok_len * 97 + r * 13) % 999 + 1
    return (tok_len * 89 + r * 31) % 999 + 1


def fin_hocr(tokens: List[str]) -> bytes:
    k = len(tokens) // 3
    parts = [
        '<?xml version="1.0" encoding="UTF-8"?><html><body>'
        '<div class="ocr_page" title="image; bbox 0 0 1700 100000">'
    ]
    for r in range(k):
        y = Y0 + ROW_PITCH * r
        lab = "l" + tokens[3 * r]
        parts.append(
            f'<span class="ocrx_word" title="bbox 100 {y} {100 + CHAR_W * len(lab)} {y + TOKEN_H}">{lab}</span>'
        )
        for which, vx in enumerate(FIN_VX):
            v = fin_value(len(tokens[3 * r + 1 + which]), r, which)
            s = str(v)
            parts.append(
                f'<span class="ocrx_word" title="bbox {vx} {y} {vx + CHAR_W * len(s)} {y + TOKEN_H}">{s}</span>'
            )
    parts.append("</div></body></html>")
    return "".join(parts).encode()


# ---------------------------------------------------------------------------
# dynamic-grid synthesis: dot-leader lines with K=2 value columns whose
# DYNAMIC-layout extraction is exactly derivable: >=39 leader dots per line
# keep the per-line P95 gap at 10 (-> merge threshold 12), so the label+dots
# form one span and each right-aligned value (center exactly on its anchor)
# its own span; bucket medians land exactly on the anchors; a 'periodo'
# year line (2021/2022) in the top band names the columns.
# ---------------------------------------------------------------------------

DYN_ANCHORS = (1210, 1540)
DYN_LEADER_TO = DYN_ANCHORS[0] - 350  # 860
DYN_DOT_W, DYN_DOT_STEP = 4, 14


def dyn_leader_count(label_len: int) -> int:
    """# of dots: x from 100+8*label_len+10 while x+4 <= 860 step 14
    (mirrored in SQL)."""
    start = 100 + CHAR_W * label_len + 10
    if start + DYN_DOT_W > DYN_LEADER_TO:
        return 0
    return (DYN_LEADER_TO - DYN_DOT_W - start) // DYN_DOT_STEP + 1


def _dyn_line(parts: List[str], label: str, values: List[str], y: int) -> None:
    lx2 = 100 + CHAR_W * len(label)
    parts.append(
        f'<span class="ocrx_word" title="bbox 100 {y} {lx2} {y + TOKEN_H}">{label}</span>'
    )
    x = lx2 + 10
    while x + DYN_DOT_W <= DYN_LEADER_TO:
        parts.append(
            f'<span class="ocrx_word" title="bbox {x} {y} {x + DYN_DOT_W} {y + TOKEN_H}">.</span>'
        )
        x += DYN_DOT_STEP
    for anchor, s in zip(DYN_ANCHORS, values):
        half = 4 * len(s)  # right/left symmetric: center exactly on anchor
        parts.append(
            f'<span class="ocrx_word" title="bbox {anchor - half} {y} {anchor + half} {y + TOKEN_H}">{s}</span>'
        )


DYN_MAX_ROWS = 12  # cap (mirrored in the SQL oracle): dot-leader docs are
# ~55 tokens/line, so uncapped synthesis dominates the correctness query


def dyn_hocr(tokens: List[str]) -> bytes:
    k = min(len(tokens) // 3, DYN_MAX_ROWS)
    parts = [
        '<?xml version="1.0" encoding="UTF-8"?><html><body>'
        '<div class="ocr_page" title="image; bbox 0 0 1700 100000">'
    ]
    _dyn_line(parts, "periodo", ["2021", "2022"], Y0)
    for r in range(k):
        y = Y0 + ROW_PITCH * (r + 1)
        lab = "l" + tokens[3 * r]
        vals = [str(fin_value(len(tokens[3 * r + 1 + w]), r, w)) for w in range(2)]
        _dyn_line(parts, lab, vals, y)
    parts.append("</div></body></html>")
    return "".join(parts).encode()


# ---------------------------------------------------------------------------
# professional-grid synthesis: uniform-indent rows of (label, v1, v2) whose
# PROFESSIONAL-layout extraction is exactly derivable: one y-group per row
# (pitch 56 >> tolerance 5), three chained x-projection intervals (labels
# 'lbl'+token are >=4 chars = 32 px wide > the strict 25 px minimum; values
# are always 4-digit so each value column is 32 px wide), no value-sparse
# rows -> empty hierarchy stack, and the first row wins header selection, so
# csv = all k lines (row 0 doubling as header) and body = rows 1..k-1.
# ---------------------------------------------------------------------------

PRO_VX = (800, 1200)


def pro_value(tok_len: int, r: int, which: int) -> int:
    if which == 0:
        return 1000 + (tok_len * 97 + r * 13) % 9000
    return 1000 + (tok_len * 89 + r * 31) % 9000


def pro_hocr(tokens: List[str]) -> bytes:
    k = len(tokens) // 3
    parts = [
        '<?xml version="1.0" encoding="UTF-8"?><html><body>'
        '<div class="ocr_page" title="image; bbox 0 0 1700 100000">'
    ]
    for r in range(k):
        y = Y0 + ROW_PITCH * r
        lab = "lbl" + tokens[3 * r]
        parts.append(
            f'<span class="ocrx_word" title="bbox 100 {y} {100 + CHAR_W * len(lab)} {y + TOKEN_H}">{lab}</span>'
        )
        for which, vx in enumerate(PRO_VX):
            s = str(pro_value(len(tokens[3 * r + 1 + which]), r, which))
            parts.append(
                f'<span class="ocrx_word" title="bbox {vx} {y} {vx + CHAR_W * len(s)} {y + TOKEN_H}">{s}</span>'
            )
    parts.append("</div></body></html>")
    return "".join(parts).encode()


# ---------------------------------------------------------------------------
# boiler synthesis: a regular (non-hOCR) web page whose boilerplate-strip
# output is exactly derivable: nav/footer junk is dropped by container rule,
# <p> paragraphs are 8-token chunks kept iff len >= MIN_CHARS (25), table
# cells are single tokens (< 25 chars, so they never leak into main_text),
# and the first <table> (header c0,c1 + 4 token rows) round-trips through
# the byte-exact CSV exporter.
# ---------------------------------------------------------------------------

BOILER_PARA_TOKENS = 8
BOILER_TABLE_ROWS = 4


def boiler_html(tokens: List[str]) -> bytes:
    paras = [
        " ".join(tokens[BOILER_PARA_TOKENS * i : BOILER_PARA_TOKENS * (i + 1)])
        for i in range(len(tokens) // BOILER_PARA_TOKENS)
    ]
    nav = "".join(f'<li><a href="/p{j}">nav link {j}</a></li>' for j in range(3))
    body_rows = "".join(
        f"<tr><td>{tokens[2 * j]}</td><td>{tokens[2 * j + 1]}</td></tr>"
        for j in range(BOILER_TABLE_ROWS)
    )
    return (
        "<html><head><title>t</title></head><body>"
        f"<nav><ul>{nav}</ul></nav>"
        "<article>" + "".join(f"<p>{p}</p>" for p in paras) +
        f"<table><tr><th>c0</th><th>c1</th></tr>{body_rows}</table></article>"
        "<footer><p>copyright boilerplate footer line that is long enough to pass</p></footer>"
        "</body></html>"
    ).encode()


_SYNTH_KINDS = {
    # kind -> (builder, eligibility predicate over the token list)
    "fin": (fin_hocr, lambda ts: len(ts) // 3 >= 1),
    "dyn": (dyn_hocr, lambda ts: len(ts) // 3 >= 6),
    "pro": (pro_hocr, lambda ts: len(ts) // 3 >= 2),
    "boiler": (boiler_html, lambda ts: len(ts) >= 2 * BOILER_TABLE_ROWS),
}


def _synth_kind_batches(kind: str):
    builder, ok = _SYNTH_KINDS[kind]

    def gen(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            ids, urls, htmls = [], [], []
            for i in range(len(batch)):
                toks = grid_tokens(batch["text"].iat[i])
                if not ok(toks):
                    continue
                doc_id = int(batch["doc_id"].iat[i])
                ids.append(doc_id)
                urls.append(f"{kind}://{doc_id}")
                htmls.append(builder(toks))
            yield pd.DataFrame({"doc_id": ids, "url": urls, "html": htmls})

    return gen


def fin_pages_from_documents(documents: DataFrame) -> DataFrame:
    return _spread(documents).mapInPandas(worker_batches(_synth_kind_batches("fin")), PAGES_SCHEMA)


def dyn_pages_from_documents(documents: DataFrame) -> DataFrame:
    return _spread(documents).mapInPandas(worker_batches(_synth_kind_batches("dyn")), PAGES_SCHEMA)


def pro_pages_from_documents(documents: DataFrame) -> DataFrame:
    return _spread(documents).mapInPandas(worker_batches(_synth_kind_batches("pro")), PAGES_SCHEMA)


MIXED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("url", StringType()),
        StructField("html", BinaryType()),
        StructField("layout", StringType()),
        StructField("args", StringType()),
    ]
)

_MIXED_KINDS = (
    # (url prefix, builder, eligibility, layout name)
    ("doc", grid_hocr, lambda ts: len(ts) >= 4, "generic"),
    ("fin", fin_hocr, lambda ts: len(ts) // 3 >= 1, "financial"),
    ("dyn", dyn_hocr, lambda ts: len(ts) // 3 >= 6, "dynamic"),
    ("pro", pro_hocr, lambda ts: len(ts) // 3 >= 2, "professional"),
)


def mixed_pages_from_documents(documents: DataFrame) -> DataFrame:
    """All four synthesized families in ONE scan of documents (one page row
    per eligible (doc, kind)), each row carrying its layout for per-row
    dispatch — the single-pass twin of unioning the four family sources
    (which would scan documents once per family)."""

    def gen(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            ids, urls, htmls, layouts = [], [], [], []
            for i in range(len(batch)):
                toks = grid_tokens(batch["text"].iat[i])
                doc_id = int(batch["doc_id"].iat[i])
                for prefix, builder, ok, layout in _MIXED_KINDS:
                    if not ok(toks):
                        continue
                    ids.append(doc_id)
                    urls.append(f"{prefix}://{doc_id}")
                    htmls.append(builder(toks))
                    layouts.append(layout)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "url": urls,
                    "html": htmls,
                    "layout": layouts,
                    "args": [None] * len(ids),
                }
            )

    return _spread(documents).mapInPandas(worker_batches(gen), MIXED_SCHEMA)


def boiler_pages_from_documents(documents: DataFrame) -> DataFrame:
    return _spread(documents).mapInPandas(
        worker_batches(_synth_kind_batches("boiler")), PAGES_SCHEMA
    )


# ---------------------------------------------------------------------------
# args-dispatch synthesis: three grid variants per document, each carrying a
# DIFFERENT per-row extraction arg whose effect is exactly SQL-derivable —
# the oracle-able twin of the fixture corpus's per-row-dispatch coverage:
#
#   crop: the generic grid plus a 4-token noise row at y=5 and
#     table_bbox=(0,50,...): the crop drops the noise (tokens must be FULLY
#     inside, parser.py:47-48), so output == the plain grid4 derivation; an
#     ignored crop would turn the noise row into the header -> driver red.
#   hdr:  a non-matching title row, then a fixed literal header row
#     ('cuenta v1 v2 v3'), then the token rows; header_regexes=['cuenta']
#     selects row 1 (rows.py:137-162 searches the first three rows), so
#     csv = header + title + token rows in that order.
#   cols: the plain generic grid with expected_n_cols=2: profile intervals
#     split at ZERO-RUN MIDPOINTS so adjacent intervals touch (every
#     inter-interval gap is exactly 0), making coerce_interval_count's
#     argmin-gap merge always pick the LEFTMOST pair (np.argmin first-tie,
#     geometry.py:116-127) — 4 columns deterministically fold to
#     (0+1+2, 3) regardless of token widths, so each output row is
#     't0 t1 t2,t3'.
# ---------------------------------------------------------------------------

ARGS_CROP_BBOX = (0, 50, 1700, 1000000000)
ARGS_NOISE_Y = 5
ARGS_HDR_TITLE = ("nota", "interna", "previa", "anexo")
ARGS_HDR_HEADER = ("cuenta", "v1", "v2", "v3")


def _grid_row(parts: List[str], toks, anchors, y: int) -> None:
    for c, t in enumerate(toks):
        x1 = anchors[c]
        x2 = x1 + CHAR_W * len(t)
        parts.append(
            f'<span class="ocrx_word" title="bbox {x1} {y} {x2} {y + TOKEN_H}">{t}</span>'
        )


def _hocr_open() -> List[str]:
    return [
        '<?xml version="1.0" encoding="UTF-8"?><html><body>'
        '<div class="ocr_page" title="image; bbox 0 0 1700 100000">'
    ]


def crop_hocr(tokens: List[str]) -> bytes:
    parts = _hocr_open()
    _grid_row(parts, ("ruido", "fuera", "del", "marco"), ANCHORS, ARGS_NOISE_Y)
    n = (len(tokens) // 4) * 4
    for i in range(n):
        r, c = divmod(i, 4)
        _grid_row(parts, (tokens[i],), ANCHORS[c:], Y0 + ROW_PITCH * r)
    parts.append("</div></body></html>")
    return "".join(parts).encode()


def hdr_hocr(tokens: List[str]) -> bytes:
    parts = _hocr_open()
    _grid_row(parts, ARGS_HDR_TITLE, ANCHORS, Y0)
    _grid_row(parts, ARGS_HDR_HEADER, ANCHORS, Y0 + ROW_PITCH)
    n = (len(tokens) // 4) * 4
    for i in range(n):
        r, c = divmod(i, 4)
        _grid_row(parts, (tokens[i],), ANCHORS[c:], Y0 + ROW_PITCH * (r + 2))
    parts.append("</div></body></html>")
    return "".join(parts).encode()


_ARGS_KINDS = (
    ("crop", crop_hocr, '{"table_bbox": [0, 50, 1700, 1000000000]}'),
    ("hdr", hdr_hocr, '{"header_regexes": ["cuenta"]}'),
    ("cols", grid_hocr, '{"expected_n_cols": 2}'),
)


def args_pages_from_documents(documents: DataFrame) -> DataFrame:
    """All three args-dispatch variants in ONE scan of documents; each row
    carries its own args JSON for per-row dispatch (layout 'generic')."""

    def gen(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            ids, urls, htmls, layouts, argss = [], [], [], [], []
            for i in range(len(batch)):
                toks = grid_tokens(batch["text"].iat[i])
                if len(toks) < 4:
                    continue
                doc_id = int(batch["doc_id"].iat[i])
                for prefix, builder, args in _ARGS_KINDS:
                    ids.append(doc_id)
                    urls.append(f"{prefix}://{doc_id}")
                    htmls.append(builder(toks))
                    layouts.append("generic")
                    argss.append(args)
            yield pd.DataFrame(
                {"doc_id": ids, "url": urls, "html": htmls, "layout": layouts, "args": argss}
            )

    return _spread(documents).mapInPandas(worker_batches(gen), MIXED_SCHEMA)


def _synth_batches(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for batch in batches:
        ids, urls, htmls = [], [], []
        for i in range(len(batch)):
            toks = grid_tokens(batch["text"].iat[i])
            if len(toks) < 4:
                continue
            doc_id = int(batch["doc_id"].iat[i])
            ids.append(doc_id)
            urls.append(f"doc://{doc_id}")
            htmls.append(grid_hocr(toks))
        yield pd.DataFrame({"doc_id": ids, "url": urls, "html": htmls})


def _spread(documents: DataFrame) -> DataFrame:
    """documents.parquet is a single file -> 1 scan partition; without a
    spread the whole synth+extract pipeline would run on one core."""
    return fan_out(documents.select("doc_id", "text"))


def pages_from_documents(documents: DataFrame) -> DataFrame:
    """documents(doc_id, text, ...) -> pages(doc_id, url, html)."""
    return _spread(documents).mapInPandas(worker_batches(_synth_batches), PAGES_SCHEMA)


def fixture_pages(spark, scale: float = 1.0, giant_tokens: int = 2000) -> DataFrame:
    """The FIXTURES.md corpus as a DataFrame (with layout/args columns for
    per-row dispatch)."""
    from .fixtures import generate_corpus

    rows = [
        (r["url"], r["warc_ts"], r["html"], r["text"], r["lang"], r["family"], r["layout"], r["args"])
        for r in generate_corpus(scale=scale, giant_tokens=giant_tokens)
    ]
    return spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string, family string, layout string, args string"
    )
