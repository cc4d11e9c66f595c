#!/usr/bin/env python
"""Single-core kernel A/B harness — the tool behind BENCH.md's
docs/s-per-core numbers.

Runs the pure-Python extraction kernel (no Spark) over the deterministic
fixture mix and prints a byte-identity digest plus the best-of-3 rate.
Usage for an adjacent A/B:

    python tools/kernel_ab.py          # side B (current tree)
    git stash && python tools/kernel_ab.py && git stash pop   # side A

The first digest covers every document's CSV bytes and header, the
second its main text and numeric CSV — if either changes between A and B,
the optimization changed semantics and the rate delta is meaningless.  Interleave runs (B A B) when the host is noisy; this box's
throughput weather is ±40% over minutes (BENCH.md header).
"""

import hashlib
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from ocr_table_extractor_to_csv_spark.kernel.extract import extract_document
from ocr_table_extractor_to_csv_spark.sources.fixtures import generate_fixture

FAMILIES = [
    "generic4", "generic_wrap", "generic_hdr_rx", "fin3", "dyn", "pro",
    "lineid", "bbox_crop", "multipage", "weird_numbers", "boiler",
]


def main(per_family: int = 24, trials: int = 3) -> None:
    docs = []
    for fam in FAMILIES:
        for i in range(per_family):
            fx = generate_fixture(fam, i, seed=42)
            html = fx["html"]
            a = fx.get("args") or "{}"
            docs.append((
                html.encode() if isinstance(html, str) else html,
                fx.get("layout", "auto"),
                json.loads(a) if isinstance(a, str) else a,
            ))

    h = hashlib.sha256()
    h_text = hashlib.sha256()
    for html, layout, args in docs:
        r = extract_document(html, layout=layout, **args)
        h.update(r.csv or b"")
        h.update(str(r.header).encode())
        h_text.update(repr((r.main_text, r.csv_numeric)).encode())
    print(f"digest: {h.hexdigest()[:16]}")
    print(f"main-text digest: {h_text.hexdigest()[:16]}")

    best = 0.0
    for _ in range(trials):
        t0 = time.perf_counter()
        for html, layout, args in docs:
            extract_document(html, layout=layout, **args)
        best = max(best, len(docs) / (time.perf_counter() - t0))
    print(f"{len(docs)} docs, best {best:.0f} docs/s single-core")


if __name__ == "__main__":
    main()
