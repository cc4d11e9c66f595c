"""Deterministic page synthesis from the ``documents`` test table.

``KINDS`` is the one table of synthesized page kinds:
``prefix -> (builder, min_tokens, layout, args_json)``.  Each builder lays a
document's normalized tokens (``grid_tokens``) out so that extraction with
the kind's layout and args is EXACTLY derivable from the token list alone;
the comment above each builder says why.  A document is eligible for a kind
when it has at least ``min_tokens`` tokens.

``pages_from_documents(documents, kinds)`` renders every eligible
(document, kind) pair in one fanned-out scan and one generator, emitting
``(doc_id, url, html, layout, args)`` with url ``<prefix>://<doc_id>``.  The
DuckDB oracles in ``__spark_entry__.py`` recompute each kind's CSV text from
``documents.text`` and compare md5s, an end-to-end value check of the whole
Spark pipeline next to the byte-identity pytest goldens.  CSV rows are
joined by CRLF with a trailing CRLF; tokens are lowercase alnum, so no
quoting is ever needed.
"""

from __future__ import annotations

import json
import re
from typing import Iterable, Iterator, List, Sequence

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
        StructField("layout", StringType()),
        StructField("args", StringType()),
    ]
)


def grid_tokens(text: str) -> List[str]:
    """The shared normalization spec (must match the SQL oracle verbatim):
    lowercase, runs of non-alnum to one space, split, truncate to 12 chars."""
    norm = TOKEN_RE.sub(" ", (text or "").lower()).strip()
    if not norm:
        return []
    return [t[:MAX_TOKEN_LEN] for t in norm.split(" ")]


def _span(x1: int, y: int, x2: int, text: str) -> str:
    return f'<span class="ocrx_word" title="bbox {x1} {y} {x2} {y + TOKEN_H}">{text}</span>'


def _hocr_open() -> List[str]:
    return [
        '<?xml version="1.0" encoding="UTF-8"?><html><body>'
        '<div class="ocr_page" title="image; bbox 0 0 1700 100000">'
    ]


def _hocr_close(parts: List[str]) -> bytes:
    parts.append("</div></body></html>")
    return "".join(parts).encode()


def _grid_row(parts: List[str], toks, anchors, y: int) -> None:
    for x1, t in zip(anchors, toks):
        parts.append(_span(x1, y, x1 + CHAR_W * len(t), t))


def _grid_rows(parts: List[str], tokens: List[str], first_row: int = 0) -> None:
    for r in range(len(tokens) // 4):
        _grid_row(parts, tokens[4 * r : 4 * r + 4], ANCHORS, Y0 + ROW_PITCH * (first_row + r))


# ---------------------------------------------------------------------------
# generic grid (kinds doc, cols, tf): token i sits at row i // 4, column
# i % 4 (a partial last row is dropped); column anchors (100, 500, 900,
# 1300); y = 100 + 56*row; box = 8px/char x 30px.  Gutters (>= 204 px) and
# row gaps (26 px) are far beyond the reference thresholds (>5 px column
# gap, >2 px row gap), and every token center falls inside its own column
# interval, so generic extraction yields header = tokens[0:4] and body row
# r = tokens[4r:4r+4].
#   cols: expected_n_cols=2.  Profile intervals split at ZERO-RUN MIDPOINTS,
#     so adjacent intervals touch (every inter-interval gap is exactly 0) and
#     coerce_interval_count's argmin-gap merge always picks the LEFTMOST pair
#     (np.argmin first-tie, geometry.py): 4 columns fold to (0+1+2, 3)
#     regardless of token widths, so each output row is 't0 t1 t2,t3'.
#   tf: the transformers layout's non-model heuristic reconstruction with
#     expected_n_cols=4 is exactly the generic derivation (the body cell
#     strip is a no-op on single alnum tokens).
# ---------------------------------------------------------------------------


def grid_hocr(tokens: List[str]) -> bytes:
    parts = _hocr_open()
    _grid_rows(parts, tokens)
    return _hocr_close(parts)


# ---------------------------------------------------------------------------
# label/value rows (kinds fin, pro): one line per token triple, a label from
# the first token and two integer values from the other two tokens' lengths
# (``value_cell``, mirrored in the SQL oracles), at x = 100, 800, 1200.
#   fin: labels 'l'+token (never numeric); values 1..999 (no thousands
#     separators -> match the financial numeric regex, no CSV quoting).
#     Every line carries two numeric spans, so merge_financial_rows never
#     fuses rows and postprocess is the identity: FINANCIAL extraction is
#     header Cuenta,Valor_1,Valor_2 plus one row per triple.
#   pro: labels 'lbl'+token (>= 4 chars = 32 px wide > the strict 25 px
#     minimum); values always 4-digit, so each value column is 32 px wide.
#     One y-group per row (pitch 56 >> tolerance 5), three chained
#     x-projection intervals, no value-sparse rows (empty hierarchy stack),
#     and the first row wins header selection: PROFESSIONAL csv = all k
#     lines (row 0 doubling as header), body = rows 1..k-1.
# ---------------------------------------------------------------------------

LABEL_X = 100
VALUE_X = (800, 1200)
# value column w of row r from its token's length n: s = n*a + r*b with
# (a, b, m) = VALUE_COEFFS[w]; fin and dyn cells are s % m + 1, pro cells
# PRO_VALUE_OFFSET + s % PRO_VALUE_MOD
VALUE_COEFFS = ((97, 13, 999), (89, 31, 999))
PRO_VALUE_OFFSET, PRO_VALUE_MOD = 1000, 9000


def value_cell(tok_len: int, r: int, which: int, pro: bool) -> int:
    a, b, m = VALUE_COEFFS[which]
    s = tok_len * a + r * b
    return PRO_VALUE_OFFSET + s % PRO_VALUE_MOD if pro else s % m + 1


def _label_value_hocr(tokens: List[str], label_prefix: str, pro: bool) -> bytes:
    parts = _hocr_open()
    for r in range(len(tokens) // 3):
        label, *vals = tokens[3 * r : 3 * r + 3]
        values = [str(value_cell(len(v), r, w, pro)) for w, v in enumerate(vals)]
        _grid_row(parts, [label_prefix + label] + values, (LABEL_X,) + VALUE_X, Y0 + ROW_PITCH * r)
    return _hocr_close(parts)


def fin_hocr(tokens: List[str]) -> bytes:
    return _label_value_hocr(tokens, "l", False)


def pro_hocr(tokens: List[str]) -> bytes:
    return _label_value_hocr(tokens, "lbl", True)


# ---------------------------------------------------------------------------
# dot-leader lines (kind dyn): K=2 value columns whose DYNAMIC extraction is
# exactly derivable.  >= 39 leader dots per line keep the per-line P95 gap
# at 10 (-> merge threshold 12), so the label+dots form one span and each
# right-aligned value (center exactly on its anchor) its own span; bucket
# medians land exactly on the anchors; a 'periodo' year line (2021/2022) in
# the top band names the columns.  At most DYN_MAX_ROWS value lines (the
# cap is mirrored in the SQL oracle): dot-leader docs are ~55 tokens/line,
# so uncapped synthesis would dominate the correctness query.
# ---------------------------------------------------------------------------

DYN_ANCHORS = (1210, 1540)
DYN_LEADER_TO = DYN_ANCHORS[0] - 350  # 860
DYN_DOT_W, DYN_DOT_STEP = 4, 14
DYN_LEADER_GAP = 10  # px between a label and its first leader dot
DYN_MAX_ROWS = 12


def _dyn_line(parts: List[str], label: str, values: List[str], y: int) -> None:
    # dots from x = LABEL_X + CHAR_W*len(label) + DYN_LEADER_GAP while
    # x + DYN_DOT_W <= DYN_LEADER_TO, step DYN_DOT_STEP
    lx2 = LABEL_X + CHAR_W * len(label)
    parts.append(_span(LABEL_X, y, lx2, label))
    x = lx2 + DYN_LEADER_GAP
    while x + DYN_DOT_W <= DYN_LEADER_TO:
        parts.append(_span(x, y, x + DYN_DOT_W, "."))
        x += DYN_DOT_STEP
    for anchor, s in zip(DYN_ANCHORS, values):
        half = 4 * len(s)  # right/left symmetric: center exactly on anchor
        parts.append(_span(anchor - half, y, anchor + half, s))


def dyn_hocr(tokens: List[str]) -> bytes:
    parts = _hocr_open()
    _dyn_line(parts, "periodo", ["2021", "2022"], Y0)
    for r in range(min(len(tokens) // 3, DYN_MAX_ROWS)):
        vals = [str(value_cell(len(tokens[3 * r + 1 + w]), r, w, False)) for w in range(2)]
        _dyn_line(parts, "l" + tokens[3 * r], vals, Y0 + ROW_PITCH * (r + 1))
    return _hocr_close(parts)


# ---------------------------------------------------------------------------
# boilerplate page (kind boiler): a regular (non-hOCR) web page whose
# boilerplate-strip output is exactly derivable: nav/footer junk is dropped
# by container rule, <p> paragraphs are 8-token chunks kept iff
# len >= MIN_CHARS (25), table cells are single tokens (< 25 chars, so they
# never leak into main_text), and the first <table> (header c0,c1 + 4 token
# rows) round-trips through the byte-exact CSV exporter.
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


# ---------------------------------------------------------------------------
# per-row args variants of the generic grid (kinds crop, hdr; cols above):
#   crop: the grid plus a 4-token noise row at y=5 and table_bbox=(0,50,...):
#     the crop drops the noise (tokens must be FULLY inside), so output ==
#     the plain grid derivation; an ignored crop would turn the noise row
#     into the header.
#   hdr: a non-matching title row, then a fixed literal header row
#     ('cuenta v1 v2 v3'), then the token rows; header_regexes=['cuenta']
#     selects row 1 (the first three rows are searched), so csv = header +
#     title + token rows in that order.
# ---------------------------------------------------------------------------

ARGS_CROP_BBOX = (0, 50, 1700, 1000000000)
ARGS_NOISE_Y = 5
ARGS_HDR_TITLE = ("nota", "interna", "previa", "anexo")
ARGS_HDR_HEADER = ("cuenta", "v1", "v2", "v3")


def crop_hocr(tokens: List[str]) -> bytes:
    parts = _hocr_open()
    _grid_row(parts, ("ruido", "fuera", "del", "marco"), ANCHORS, ARGS_NOISE_Y)
    _grid_rows(parts, tokens)
    return _hocr_close(parts)


def hdr_hocr(tokens: List[str]) -> bytes:
    parts = _hocr_open()
    _grid_row(parts, ARGS_HDR_TITLE, ANCHORS, Y0)
    _grid_row(parts, ARGS_HDR_HEADER, ANCHORS, Y0 + ROW_PITCH)
    _grid_rows(parts, tokens, first_row=2)
    return _hocr_close(parts)


# prefix -> (builder, min_tokens, layout, args_json)
KINDS = {
    "doc": (grid_hocr, 4, "generic", None),
    "fin": (fin_hocr, 3, "financial", None),
    "dyn": (dyn_hocr, 18, "dynamic", None),
    "pro": (pro_hocr, 6, "professional", None),
    "boiler": (boiler_html, 2 * BOILER_TABLE_ROWS, "auto", None),
    "crop": (crop_hocr, 4, "generic", json.dumps({"table_bbox": list(ARGS_CROP_BBOX)})),
    "hdr": (hdr_hocr, 4, "generic", '{"header_regexes": ["cuenta"]}'),
    "cols": (grid_hocr, 4, "generic", '{"expected_n_cols": 2}'),
    "tf": (grid_hocr, 4, "transformers", '{"expected_n_cols": 4}'),
}


def pages_from_documents(documents: DataFrame, kinds: Sequence[str]) -> DataFrame:
    """documents(doc_id, text, ...) -> pages(doc_id, url, html, layout, args),
    one row per eligible (document, kind) from ONE scan of documents."""
    table = [(prefix, *KINDS[prefix]) for prefix in kinds]

    def gen(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for doc_id, text in zip(batch["doc_id"].tolist(), batch["text"]):
                toks = grid_tokens(text)
                for prefix, build, min_tokens, layout, args in table:
                    if len(toks) >= min_tokens:
                        rows.append((doc_id, f"{prefix}://{doc_id}", build(toks), layout, args))
            yield pd.DataFrame(rows, columns=PAGES_SCHEMA.names)

    # documents.parquet is a single file -> 1 scan partition; without the
    # fan-out the whole synth+extract pipeline would run on one core
    return fan_out(documents.select("doc_id", "text")).mapInPandas(
        worker_batches(gen), PAGES_SCHEMA
    )


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
