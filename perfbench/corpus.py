"""Seeded benchmark inputs and their expected outputs.

Every input is a pure function of the workload seed.  The seed picks the
content; the amount of work (token counts, page kinds, duplicate pairs,
giants) is the same for every seed, so runs on different seeds measure the
same work:

* ``documents`` — the page text: rows shaped like the sf0.1 ``documents``
  test table (31-word vocabulary, 10-100 tokens, five languages, 20
  sources, 5% near-duplicates that append `` dup`` to another document);
* ``pages`` — each document rendered through every eligible
  ``sources.pages`` builder (grid, fin, dyn and pro hOCR, boiler HTML, and
  the crop/hdr/cols argument variants), plus the golden fixture corpus of
  ``sources.fixtures`` and a few seeded giants above the giant threshold.

The program only ever sees the parquet written by ``land``.  The expected
outputs are computed here, outside Spark and once per run, before any
timed region: per-url digests from the in-process kernel.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from ocr_table_extractor_to_csv_spark.sources import pages as P
from ocr_table_extractor_to_csv_spark.sources.fixtures import (
    generate_corpus,
    generate_fixture,
)
from tests.freeze_goldens import GIANT_TOKENS as GOLDEN_GIANT_TOKENS

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (41, 15, 15, 15, 14)
N_SOURCES = 20
NEAR_DUP_SHARE = 0.05
MIN_TOKENS, MAX_TOKENS = 10, 100

EXTRACT_DOCS = 100  # documents rendered into pages (8 kinds each)
GIANTS = 4
GIANT_TOKENS = 18000  # ~1.25 MiB of hOCR, above the 1 MiB threshold
GIANT_THRESHOLD = 1024 * 1024
RESUME_PENDING = 4  # one page in four is left for the resumed batch
FILES = 16  # parquet files per landed table

# (url prefix, builder, minimum token count, layout, args json)
PAGE_KINDS = (
    ("doc", P.grid_hocr, 4, "generic", None),
    ("fin", P.fin_hocr, 3, "financial", None),
    ("dyn", P.dyn_hocr, 18, "dynamic", None),
    ("pro", P.pro_hocr, 6, "professional", None),
    ("boiler", P.boiler_html, 2 * P.BOILER_TABLE_ROWS, "auto", None),
    ("crop", P.crop_hocr, 4, "generic", json.dumps({"table_bbox": list(P.ARGS_CROP_BBOX)})),
    ("hdr", P.hdr_hocr, 4, "generic", json.dumps({"header_regexes": ["cuenta"]})),
    ("cols", P.grid_hocr, 4, "generic", json.dumps({"expected_n_cols": 2})),
)

PAGES_SCHEMA = pa.schema(
    [("url", pa.string()), ("html", pa.binary()), ("layout", pa.string()), ("args", pa.string())]
)

def documents(seed: int, n: int) -> list[dict]:
    """``n`` documents whose shape is the same for every seed: the token
    counts, the language mix and the near-duplicate pairs (each copies a
    distinct original) are fixed; the seed picks the words and the order."""
    rng = random.Random(f"documents:{seed}")
    n_dup = round(n * NEAR_DUP_SHARE)
    n_orig = n - n_dup
    lengths = [MIN_TOKENS + (MAX_TOKENS - MIN_TOKENS) * i // max(1, n_orig - 1) for i in range(n_orig)]
    rng.shuffle(lengths)
    texts = [" ".join(rng.choices(VOCAB, k=k)) for k in lengths]
    texts += [texts[i] + " dup" for i in rng.sample(range(n_orig), n_dup)]
    rng.shuffle(texts)
    langs = [lang for lang, w in zip(LANGS, LANG_WEIGHTS) for _ in range(round(n * w / 100))]
    langs = (langs + [LANGS[0]] * n)[:n]
    rng.shuffle(langs)
    return [
        {
            "doc_id": doc_id,
            "text": text,
            "lang": lang,
            "source": f"src{doc_id % N_SOURCES}",
            "n_chars": len(text),
        }
        for doc_id, (text, lang) in enumerate(zip(texts, langs))
    ]


def is_giant(row: dict) -> bool:
    return len(row["html"]) >= GIANT_THRESHOLD


def pages(seed: int) -> list[dict]:
    """The extraction corpus for ``seed``, in a seed-shuffled order."""
    rows = []
    for doc in documents(seed, EXTRACT_DOCS):
        toks = P.grid_tokens(doc["text"])
        for prefix, build, min_tokens, layout, args in PAGE_KINDS:
            if len(toks) >= min_tokens:
                rows.append(
                    {
                        "url": f"{prefix}://{seed}/{doc['doc_id']}",
                        "html": build(toks),
                        "layout": layout,
                        "args": args,
                    }
                )
    for fx in generate_corpus(giant_tokens=GOLDEN_GIANT_TOKENS):
        rows.append({k: fx[k] for k in ("url", "html", "layout", "args")})
    for i in range(GIANTS):
        fx = generate_fixture("giant", i, seed=seed, giant_tokens=GIANT_TOKENS)
        rows.append(
            {
                "url": f"https://giants.test/{seed}/{i}",
                "html": fx["html"],
                "layout": fx["layout"],
                "args": fx["args"],
            }
        )
    random.Random(f"order:{seed}").shuffle(rows)
    # giants first, so ``land`` puts them all in one file (one scan split):
    # the giant pass's round-robin repartition then hands every task exactly
    # one giant for every seed, instead of a seed-dependent memory peak
    rows.sort(key=lambda r: not is_giant(r))
    return rows


def done_urls(rows: list[dict], seed: int) -> set[str]:
    """The urls an earlier batch committed: in every (layout, args) group
    of non-giant pages, all but every ``RESUME_PENDING``-th in a
    seed-shuffled order.  Every giant stays pending."""
    groups: dict[tuple, list[str]] = {}
    for r in rows:
        if not is_giant(r):
            groups.setdefault((r["layout"], r["args"]), []).append(r["url"])
    rng = random.Random(f"done:{seed}")
    done = set()
    for key in sorted(groups, key=str):
        urls = sorted(groups[key])
        rng.shuffle(urls)
        done.update(u for i, u in enumerate(urls) if i % RESUME_PENDING)
    return done


def hash_share(keys: list[str], num: int, den: int) -> set[str]:
    """``num/den`` of ``keys`` (urls) chosen by hash: the keys
    whose rank in hash order is ``< num`` modulo ``den`` — an exact share
    for any size."""
    ordered = sorted(keys, key=lambda k: hashlib.md5(k.encode()).digest())
    return {k for i, k in enumerate(ordered) if i % den < num}


def land_progress(urls: list[str], batch_id: int, path: str) -> None:
    """A progress table in which batch ``batch_id`` committed ``urls``, in
    the column types ``commit_progress`` writes."""
    n = len(urls)
    table = pa.table(
        {
            "url": pa.array(urls, pa.string()),
            "batch_id": pa.array([batch_id] * n, pa.int32()),
            "status": pa.array(["done"] * n, pa.string()),
            "n_rows": pa.array([None] * n, pa.int32()),
            "error": pa.array([None] * n, pa.string()),
            "ts": pa.array([0] * n, pa.timestamp("us", tz="UTC")),
        }
    )
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def land(rows: list[dict], schema: pa.Schema, path: str) -> None:
    """Write ``rows`` as ``FILES`` parquet files under a fresh ``path``."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    per = -(-len(rows) // FILES)
    for i in range(FILES):
        chunk = rows[i * per : (i + 1) * per]
        if chunk:
            table = pa.Table.from_pylist(chunk, schema=schema)
            pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))


# ---------------------------------------------------------------------------
# expected outputs
# ---------------------------------------------------------------------------


def row_digest(csv: bytes | None, csv_numeric: bytes | None, main_text: str | None) -> str:
    h = hashlib.sha256()
    for part in (csv, csv_numeric, None if main_text is None else main_text.encode()):
        if part is None:
            h.update(b"\xff")
        else:
            h.update(len(part).to_bytes(8, "little"))
            h.update(part)
    return h.hexdigest()[:32]


def _kernel_digests(rows: list[tuple[str, bytes, str, str | None]]) -> list[tuple[str, str]]:
    from ocr_table_extractor_to_csv_spark.kernel import extract_document

    out = []
    for url, html, layout, raw_args in rows:
        args = json.loads(raw_args) if raw_args else {}
        if args.get("table_bbox") is not None:
            args["table_bbox"] = tuple(args["table_bbox"])
        res = extract_document(html, layout=layout, **args)
        if res.error is not None:
            raise RuntimeError(f"kernel error on {url}: {res.error}")
        out.append((url, row_digest(res.csv, res.csv_numeric, res.main_text)))
    return out


def expected_pages(rows: list[dict], procs: int) -> dict[str, str]:
    """url -> digest of (csv, csv_numeric, main_text) from the in-process
    kernel, computed in ``procs`` forked processes before the Spark session
    starts.  Fork, not spawn: spawn also starts multiprocessing's resource
    tracker, a process that lives until this one exits."""
    items = [(r["url"], r["html"], r["layout"], r["args"]) for r in rows]
    chunks = [items[i :: procs * 4] for i in range(procs * 4)]
    pool = multiprocessing.get_context("fork").Pool(procs)
    try:
        parts = pool.map(_kernel_digests, chunks)
    finally:
        pool.close()
        pool.join()
    return dict(d for part in parts for d in part)
