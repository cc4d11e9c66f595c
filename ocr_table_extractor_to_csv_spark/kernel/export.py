"""CSV byte emission — exact byte parity with the reference exporters.

Reference: exporters.py:7-48, main.py:40-44.  Verified byte behaviors:
  * normal CSV: utf-8-sig BOM + csv.writer default dialect (CRLF,
    QUOTE_MINIMAL, '"' doubling);
  * ``rows_to_csv([], [], ...)`` writes a **0-byte** file (the BOM is only
    emitted on first actual write);
  * the explicit empty-CSV path (``main.py:40-44``) writes ``""`` through
    the utf-8-sig codec -> a **3-byte BOM-only** file;
  * ``_to_number`` quirks: "-"->"0"; "$ 101,606"->"101606";
    "1,234.50"->"1234.5"; parens-negatives keep the ")" after the character
    strip so float() raises and the ORIGINAL text is returned unchanged
    ("(57,519)" -> "(57,519)"); integral floats collapse to int strings.

The Spark engine never uses ``df.write.csv`` for the payload — bytes are
built in-kernel and stored in a BINARY column so per-url output is exactly
the file the reference would have written.
"""

from __future__ import annotations

import csv
import io
import math
import re
from typing import List, Optional, Sequence

_STRIP_RE = re.compile(r"[^\d\-\.\)]")  # exporters.py:14

BOM_ONLY = b"\xef\xbb\xbf"


def csv_bytes(rows: Sequence[Sequence[str]], header: Sequence[str]) -> bytes:
    """exporters.py:7-12 as bytes; 0 bytes when nothing is written."""
    sio = io.StringIO()
    w = csv.writer(sio)
    if header:
        w.writerow(header)
    w.writerows(rows)
    data = sio.getvalue()
    return data.encode("utf-8-sig") if data else b""


def empty_csv_bytes() -> bytes:
    """main.py:40-44 — the BOM-only empty file variant."""
    return BOM_ONLY


def to_number(s: Optional[str]) -> str:
    """exporters.py:16-34 verbatim semantics (incl. the ')' quirk), except
    that a value overflowing a float keeps its original text, as a
    non-numeric one does, where the reference raises ``OverflowError``."""
    if s is None:
        return ""
    s = s.strip()
    if not s:
        return ""
    if s == "-":
        return "0"
    neg = s.startswith("(") and s.endswith(")")
    stripped = _STRIP_RE.sub("", s)
    if not stripped:
        return ""
    try:
        val = float(stripped)
    except Exception:
        return s  # e.g. "(57,519)" -> "57519)" -> ValueError -> original
    if not math.isfinite(val):
        return s  # e.g. 309+ digits -> inf; int(inf) would raise OverflowError
    if neg:
        val = -val
    if abs(val - int(val)) < 1e-9:
        return str(int(val))
    return str(val)


def csv_bytes_numeric(rows: Sequence[Sequence[str]], header: Sequence[str]) -> bytes:
    """exporters.py:36-48: col 0 is the label, the rest run through
    to_number."""
    norm: List[Sequence[str]] = []
    for r in rows:
        if not r:
            norm.append(r)
            continue
        norm.append([r[0]] + [to_number(x) for x in r[1:]])
    return csv_bytes(norm, header)
