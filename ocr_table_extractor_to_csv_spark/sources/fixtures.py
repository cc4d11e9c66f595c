"""Deterministic synthetic fixture corpus (FIXTURES.md §1-3).

Generates hOCR / HTML documents with integer-pixel geometry on a 1700x2200
canvas, seeded per url — same url, same bytes, forever.  Families exercise
every reference code path (SURVEY.md §2).  No external data.

Each fixture row: (url, warc_ts, html, text, lang, family, layout, args)
where ``args`` is a JSON dict of extraction kwargs.  The canonical ``pages``
table per BASELINE.json input_hint is the first five columns.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone
from typing import Dict, Iterator, List, Optional, Sequence, Tuple

EPOCH = datetime(2025, 1, 1, tzinfo=timezone.utc)

LABEL_VOCAB = (
    "efectivo inversiones cuentas por cobrar inventarios propiedades planta "
    "equipo activos intangibles pasivos proveedores impuestos capital social "
    "utilidades retenidas reservas depreciacion amortizacion gastos ingresos "
    "operativos financieros ventas netas costos administracion"
).split()

EN_VOCAB = (
    "the quick brown fox jumps over lazy dog lorem ipsum dolor sit amet "
    "consectetur adipiscing elit sed do eiusmod tempor incididunt labore "
    "dolore magna aliqua enim minim veniam quis nostrud exercitation"
).split()

CHAR_W = 9  # px per character
TOKEN_H = 30
ROW_PITCH = 56
WORD_GAP = 8  # px between the words of a phrase
LEADER_PITCH = 14  # px between dot-leader tokens
Y0 = 120
PAGE_W, PAGE_H = 1700, 2200


@dataclass
class Word:
    text: str
    x1: int
    y1: int
    x2: int
    y2: int


def _word_xml(w: Word) -> str:
    t = (
        w.text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        .replace('"', "&quot;")
    )
    return (
        f'<span class="ocrx_word" title="bbox {w.x1} {w.y1} {w.x2} {w.y2}">{t}</span>'
    )


def render_hocr(
    pages: Sequence[Sequence[Word]],
    line_groups: Optional[Sequence[Sequence[Tuple[str, Tuple[int, int, int, int], Sequence[Word]]]]] = None,
) -> str:
    """Render one hOCR document.  When ``line_groups`` is given, words nest
    inside ``ocr_line`` spans (id, bbox, words); else words sit directly in
    the page."""
    parts = ['<?xml version="1.0" encoding="UTF-8"?>', "<html><body>"]
    for pi, page_words in enumerate(pages, start=1):
        parts.append(
            f'<div class="ocr_page" id="page_{pi}" '
            f'title="image; bbox 0 0 {PAGE_W} {PAGE_H}">'
        )
        if line_groups is not None:
            for (lid, (lx1, ly1, lx2, ly2), words) in line_groups[pi - 1]:
                idattr = f' id="{lid}"' if lid else ""
                parts.append(
                    f'<span class="ocr_line"{idattr} '
                    f'title="bbox {lx1} {ly1} {lx2} {ly2}">'
                )
                parts.extend(_word_xml(w) for w in words)
                parts.append("</span>")
        else:
            parts.extend(_word_xml(w) for w in page_words)
        parts.append("</div>")
    parts.append("</body></html>")
    return "".join(parts)


def _place(text: str, x: int, y: int) -> Word:
    return Word(text, x, y, x + CHAR_W * max(1, len(text)), y + TOKEN_H)


def _place_phrase(words: Sequence[str], x: int, y: int) -> List[Word]:
    out = []
    for w in words:
        ww = _place(w, x, y)
        out.append(ww)
        x = ww.x2 + WORD_GAP
    return out


def _fmt_thousands(n: int) -> str:
    return f"{n:,}"


def _money(rng: random.Random) -> str:
    n = rng.randint(1_000, 9_999_999)
    s = _fmt_thousands(n)
    style = rng.randrange(4)
    if style == 0:
        return s
    if style == 1:
        return f"${s}"
    if style == 2:
        return f"({s})"
    return f"{s}.{rng.randint(10, 99)}"


def _label(rng: random.Random, k: Optional[int] = None) -> List[str]:
    k = k or rng.randint(1, 3)
    return [rng.choice(LABEL_VOCAB) for _ in range(k)]


# ---------------------------------------------------------------------------
# Families
# ---------------------------------------------------------------------------

NUM_ANCHORS_4 = (640, 1000, 1360)  # 3 numeric columns; label col at x=100
LABEL_X = 100


def _gen_generic4(rng: random.Random) -> Tuple[str, dict]:
    words: List[Word] = []
    y = Y0
    words += _place_phrase(["Cuenta"], LABEL_X, y)
    for x, yr in zip(NUM_ANCHORS_4, ("2022", "2023", "2024")):
        words.append(_place(yr, x, y))
    n_rows = rng.randint(12, 30)
    for _ in range(n_rows):
        y += ROW_PITCH
        words += _place_phrase(_label(rng), LABEL_X, y)
        for x in NUM_ANCHORS_4:
            val = rng.choice(["-", _money(rng)])
            words.append(_place(val, x, y))
    return render_hocr([words]), {"layout": "generic", "expected_n_cols": 4}


def _gen_generic_wrap(rng: random.Random) -> Tuple[str, dict]:
    words: List[Word] = []
    y = Y0
    words += _place_phrase(["Descripcion"], LABEL_X, y)
    for x in NUM_ANCHORS_4[:2]:
        words.append(_place(str(rng.randint(2020, 2024)), x, y))
    for _ in range(rng.randint(6, 12)):
        y += ROW_PITCH
        words += _place_phrase(_label(rng, 2), LABEL_X, y)
        for x in NUM_ANCHORS_4[:2]:
            words.append(_place(_fmt_thousands(rng.randint(100, 99999)), x, y))
        # wrapped continuation lines with no row gap (<=2 px)
        for _ in range(rng.randint(1, 2)):
            y += TOKEN_H + 2  # leaves a 2px zero-run: NOT a row cut (>2 needed)
            words += _place_phrase(_label(rng, 2), LABEL_X + 30, y)
        y += ROW_PITCH - TOKEN_H  # restore inter-row gap
    return render_hocr([words]), {"layout": "generic"}


def _gen_generic_hdr_rx(rng: random.Random) -> Tuple[str, dict]:
    words: List[Word] = []
    y = Y0
    # title rows before the real header (forces the regex search window)
    n_title = rng.randint(1, 2)
    for _ in range(n_title):
        words += _place_phrase(["estado", "financiero"], LABEL_X, y)
        y += ROW_PITCH
    words += _place_phrase(["Cuenta"], LABEL_X, y)
    for x, yr in zip(NUM_ANCHORS_4[:2], ("2023", "2024")):
        words.append(_place(yr, x, y))
    for _ in range(rng.randint(8, 15)):
        y += ROW_PITCH
        words += _place_phrase(_label(rng), LABEL_X, y)
        for x in NUM_ANCHORS_4[:2]:
            words.append(_place(_fmt_thousands(rng.randint(1000, 999999)), x, y))
    return (
        render_hocr([words]),
        {"layout": "generic", "header_regexes": ["cuenta|descripcion", "20\\d{2}"]},
    )


def _fin_money(rng: random.Random) -> str:
    """Values matching the financial NUM_TOKEN_RE (needs , separators,
    <=3-digit, or parens/$ variants; bare 4+ digit runs don't match)."""
    pick = rng.randrange(5)
    if pick == 0:
        return "-"
    n = rng.randint(1_000, 9_999_999)
    if pick == 1:
        return f"({_fmt_thousands(n)})"
    if pick == 2:
        return f"${_fmt_thousands(n)}"
    if pick == 3:
        return str(rng.randint(1, 999))
    return _fmt_thousands(n)


def _gen_fin3(rng: random.Random) -> Tuple[str, dict]:
    words: List[Word] = []
    y = Y0
    vx1, vx2 = 1000, 1360
    n_sections = rng.randint(2, 3)
    for _ in range(n_sections):
        sec = " ".join(_label(rng, 2)).capitalize()
        words += _place_phrase((sec + ":").split(), LABEL_X, y)
        y += ROW_PITCH
        for _ in range(rng.randint(3, 6)):
            lbl = _label(rng)
            words += _place_phrase(lbl, LABEL_X + 40, y)
            words.append(_place(_fin_money(rng), vx1, y))
            words.append(_place(_fin_money(rng), vx2, y))
            if rng.random() < 0.25:  # wrapped label continuation
                y += TOKEN_H + 4
                words += _place_phrase(_label(rng, 1), LABEL_X + 70, y)
            y += ROW_PITCH
        # subtotal row: numbers only, no label
        words.append(_place(_fmt_thousands(rng.randint(10_000, 9_999_999)), vx1, y))
        words.append(_place(_fmt_thousands(rng.randint(10_000, 9_999_999)), vx2, y))
        y += ROW_PITCH
    words += _place_phrase("Las notas adjuntas son parte integrante".split(), LABEL_X, y)
    return render_hocr([words]), {"layout": "financial"}


def _leaders(x_from: int, x_to: int, y: int) -> List[Word]:
    """Dot-leader tokens (as real financial-statement OCR emits): many small
    gaps so the reference's per-line P95 gap threshold stays small and the
    value spans separate (column_model.py:18-27)."""
    out = []
    x = x_from
    while x + 4 <= x_to:
        out.append(Word(".", x, y, x + 4, y + TOKEN_H))
        x += LEADER_PITCH
    return out


def _gen_dyn(rng: random.Random, fallback: bool = False) -> Tuple[str, dict]:
    words: List[Word] = []
    y = Y0
    k = rng.randint(2, 4)
    anchors = [1540 - 330 * i for i in range(k)][::-1]
    words += _place_phrase(["balance", "general", "consolidado"], LABEL_X, y)
    y += ROW_PITCH
    # year header line inside top 20% band; leader dots keep year spans apart
    years = [str(2021 + i) for i in range(k)]
    words += _leaders(LABEL_X, anchors[0] - 330, y)
    for x, yr in zip(anchors, years):
        words.append(_place(yr, x - 18, y))
    y += ROW_PITCH
    n_lines = rng.randint(3, 4) if fallback else rng.randint(14, 24)
    for _ in range(n_lines):
        lbl = _place_phrase(_label(rng), LABEL_X, y)
        words += lbl
        words += _leaders(lbl[-1].x2 + 10, anchors[0] - 180, y)
        for x in anchors:
            jitter = rng.randint(-6, 6)
            val = _money(rng)
            w = _place(val, 0, y)
            width = w.x2 - w.x1
            cx = x + jitter
            words.append(Word(val, cx - width // 2, y, cx - width // 2 + width, y + TOKEN_H))
        y += ROW_PITCH
    if fallback:
        for _ in range(rng.randint(6, 10)):  # text-only filler lines
            words += _place_phrase(_label(rng, 3), LABEL_X, y)
            y += ROW_PITCH
    return render_hocr([words]), {"layout": "dynamic"}


def _gen_pro(rng: random.Random) -> Tuple[str, dict]:
    words: List[Word] = []
    y = Y0
    vx1, vx2 = 1000, 1360
    for _ in range(rng.randint(2, 3)):
        words += _place_phrase(_label(rng, 1), 40, y)  # level-1 parent
        y += ROW_PITCH
        for _ in range(rng.randint(1, 2)):
            words += _place_phrase(_label(rng, 1), 80, y)  # level-2 parent
            y += ROW_PITCH
            for _ in range(rng.randint(2, 4)):
                words += _place_phrase(_label(rng, 2), 120, y)
                words.append(_place(_fmt_thousands(rng.randint(100, 999999)), vx1, y))
                words.append(_place(_fmt_thousands(rng.randint(100, 999999)), vx2, y))
                y += ROW_PITCH
    return render_hocr([words]), {"layout": "professional"}


def _grid_doc(rng: random.Random, with_line_ids: bool) -> str:
    rows: List[List[Word]] = []
    y = Y0
    for _ in range(rng.randint(6, 12)):
        row = _place_phrase(_label(rng, 1), LABEL_X, y)
        for x in NUM_ANCHORS_4[:2]:
            row.append(_place(_fmt_thousands(rng.randint(1000, 99999)), x, y))
        rows.append(row)
        y += ROW_PITCH
    if not with_line_ids:
        return render_hocr([[w for r in rows for w in r]])
    groups = []
    for i, r in enumerate(rows, start=1):
        bbox = (min(w.x1 for w in r), min(w.y1 for w in r),
                max(w.x2 for w in r), max(w.y2 for w in r))
        groups.append((f"line_{i}", bbox, r))
    return render_hocr([[w for r in rows for w in r]], line_groups=[groups])


def _gen_lineid(rng: random.Random, i: int, seed: int = 42) -> Tuple[str, dict]:
    # pair (2j, 2j+1) shares one rng -> identical content; even docs carry
    # ocr_line nesting, odd docs are the bare twin (must extract identically)
    pair_rng = random.Random(f"{seed}:lineid-pair/{i // 2:06d}")
    return _grid_doc(pair_rng, with_line_ids=(i % 2 == 0)), {"layout": "generic"}


def _gen_bbox_crop(rng: random.Random) -> Tuple[str, dict]:
    words: List[Word] = []
    y = Y0 + 200
    for _ in range(rng.randint(6, 10)):
        words += _place_phrase(_label(rng, 1), LABEL_X, y)
        for x in NUM_ANCHORS_4[:2]:
            words.append(_place(_fmt_thousands(rng.randint(1000, 99999)), x, y))
        y += ROW_PITCH
    # noise outside the crop box
    words += _place_phrase(["pagina", "confidencial"], LABEL_X, 30)
    words += _place_phrase(["pie", "de", "pagina"], LABEL_X, 2120)
    return render_hocr([words]), {
        "layout": "generic",
        "table_bbox": [50, 250, 1650, 2000],
    }


def _gen_empty(rng: random.Random, i: int) -> Tuple[str, dict]:
    variant = i % 3
    if variant == 0:  # zero words
        return render_hocr([[]]), {"layout": rng.choice(["generic", "dynamic", "financial"])}
    if variant == 1:  # blank-text words only
        w = Word("   ", 100, 100, 150, 130)
        return render_hocr([[w]]), {"layout": "generic"}
    return render_hocr([[_place("solo", 100, 100)]]), {"layout": "generic"}


def _gen_multipage(rng: random.Random) -> Tuple[str, dict]:
    pages: List[List[Word]] = []
    for _p in range(rng.randint(2, 3)):
        words: List[Word] = []
        y = Y0
        for _ in range(rng.randint(4, 8)):
            words += _place_phrase(_label(rng, 1), LABEL_X, y)
            for x in NUM_ANCHORS_4[:2]:
                words.append(_place(_fmt_thousands(rng.randint(1000, 99999)), x, y))
            y += ROW_PITCH
        pages.append(words)
    return render_hocr(pages), {"layout": "generic"}


def _gen_weird_numbers(rng: random.Random, i: int) -> Tuple[str, dict]:
    layout = "financial" if i % 2 == 0 else "dynamic"
    words: List[Word] = []
    y = Y0
    specials = [
        ["(1,234.50)"],
        ["$", "101,606"],      # adjacent tokens -> one span "$ 101,606"
        ["1", "234", "567"],   # space thousands
        ["-"],
        ["$"],
        ["57,519"],
        ["(57,519)"],
    ]
    vx1, vx2 = 1000, 1360
    for _ in range(rng.randint(10, 16)):
        words += _place_phrase(_label(rng), LABEL_X, y)
        for x in (vx1, vx2):
            toks = rng.choice(specials)
            xx = x
            for t in toks:
                w = _place(t, xx, y)
                words.append(w)
                xx = w.x2 + 6  # <=18 so span-merge fuses them
        y += ROW_PITCH
    return render_hocr([words]), {"layout": layout}


def _gen_boiler(rng: random.Random) -> Tuple[str, dict]:
    nav = "".join(
        f'<li><a href="/p{j}">{rng.choice(EN_VOCAB)} {rng.choice(EN_VOCAB)}</a></li>'
        for j in range(rng.randint(5, 12))
    )
    paras = "".join(
        "<p>" + " ".join(rng.choice(EN_VOCAB) for _ in range(rng.randint(15, 40))) + ".</p>"
        for _ in range(rng.randint(3, 7))
    )
    tbl_rows = "".join(
        "<tr>" + "".join(f"<td>{rng.choice(EN_VOCAB)} {rng.randint(1, 999)}</td>" for _ in range(3)) + "</tr>"
        for _ in range(rng.randint(3, 6))
    )
    html = (
        "<html><head><title>t</title></head><body>"
        f"<nav><ul>{nav}</ul></nav>"
        f"<article><h1>{rng.choice(EN_VOCAB)} {rng.choice(EN_VOCAB)}</h1>{paras}"
        f"<table><tr><th>name</th><th>a</th><th>b</th></tr>{tbl_rows}</table></article>"
        f"<footer><ul>{nav}</ul></footer>"
        "</body></html>"
    )
    return html, {"layout": "html"}


def _gen_giant(rng: random.Random, n_tokens: int = 30000) -> Tuple[str, dict]:
    words: List[Word] = []
    y = Y0
    cols = [100, 420, 740, 1060, 1380]
    i = 0
    while i < n_tokens:
        for x in cols:
            words.append(_place(rng.choice(LABEL_VOCAB) if x == 100 else _fmt_thousands(rng.randint(100, 999999)), x, y))
            i += 1
        y += ROW_PITCH
        if y > 100_000_000:
            break
    return render_hocr([words]), {"layout": "generic"}


FAMILY_SPECS: List[Tuple[str, int]] = [
    ("generic4", 40),
    ("generic_wrap", 20),
    ("generic_hdr_rx", 10),
    ("fin3", 30),
    ("dyn", 30),
    ("dyn_fallback", 10),
    ("pro", 15),
    ("lineid", 10),
    ("bbox_crop", 10),
    ("empty", 6),
    ("multipage", 8),
    ("weird_numbers", 12),
    ("boiler", 20),
    ("giant", 3),
]


def generate_fixture(family: str, i: int, seed: int = 42, giant_tokens: int = 30000) -> Dict[str, object]:
    url = f"https://fixtures.test/{family}/{i:06d}"
    rng = random.Random(f"{seed}:{url}")
    if family == "generic4":
        html, args = _gen_generic4(rng)
    elif family == "generic_wrap":
        html, args = _gen_generic_wrap(rng)
    elif family == "generic_hdr_rx":
        html, args = _gen_generic_hdr_rx(rng)
    elif family == "fin3":
        html, args = _gen_fin3(rng)
    elif family == "dyn":
        html, args = _gen_dyn(rng)
    elif family == "dyn_fallback":
        html, args = _gen_dyn(rng, fallback=True)
    elif family == "pro":
        html, args = _gen_pro(rng)
    elif family == "lineid":
        html, args = _gen_lineid(rng, i, seed=seed)
    elif family == "bbox_crop":
        html, args = _gen_bbox_crop(rng)
    elif family == "empty":
        html, args = _gen_empty(rng, i)
    elif family == "multipage":
        html, args = _gen_multipage(rng)
    elif family == "weird_numbers":
        html, args = _gen_weird_numbers(rng, i)
    elif family == "boiler":
        html, args = _gen_boiler(rng)
    elif family == "giant":
        html, args = _gen_giant(rng, giant_tokens)
    else:
        raise ValueError(family)

    layout = args.pop("layout")
    lang = "es" if family in ("fin3", "dyn", "dyn_fallback", "weird_numbers") else "en"
    # pre-extraction raw text: whatever visible text the page carries
    import re as _re

    raw_text = " ".join(_re.findall(r">([^<>]+)<", html)).strip()
    idx = sum(n for f, n in FAMILY_SPECS if f < family) + i  # stable-ish offset
    return {
        "url": url,
        "warc_ts": EPOCH + timedelta(seconds=idx),
        "html": html.encode("utf-8"),
        "text": raw_text,
        "lang": lang,
        "family": family,
        "layout": layout,
        "args": json.dumps(args, sort_keys=True),
    }


def generate_corpus(scale: float = 1.0, giant_tokens: int = 30000) -> Iterator[Dict[str, object]]:
    for family, count in FAMILY_SPECS:
        n = max(1, int(count * scale))
        for i in range(n):
            yield generate_fixture(family, i, giant_tokens=giant_tokens)
