"""The benchmark workloads: one job call each, with fresh state per call and
a correctness check of everything the call committed.

* ``extract_fresh``  — ``jobs/extract_job.run_extract`` over the whole
  seeded corpus from an empty progress table;
* ``extract_resume`` — the same call on the same corpus after an earlier
  batch committed three pages in four: the anti-join against the progress
  table leaves the other quarter and every giant.

Each job's ``share(num, den)`` is the same job on a hash share of its
input, with its own expected output: the weak-scaling base.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from perfbench import corpus

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GOLDENS = os.path.join(ROOT, "tests", "goldens", "fixture_manifest.json")
BATCH_ID = 1


@dataclass
class Outcome:
    rows: int  # rows the call was asked to produce
    errors: int = 0  # error rows among them
    failures: list[str] = field(default_factory=list)  # failed checks
    giant_rows: int = 0


def _sha(b: bytes | None) -> str | None:
    return None if b is None else hashlib.sha256(b).hexdigest()


class ExtractJob:
    """``run_extract`` over landed pages.  The urls in ``done`` were
    committed by batch ``BATCH_ID - 1``: every call starts from a progress
    table that marks them done (empty when ``done`` is), and must commit
    exactly the others."""

    def __init__(self, rows: list[dict], expected: dict[str, str], goldens: dict, done=frozenset()):
        self.rows = rows
        self.expected = expected
        self.goldens = goldens
        self.done = set(done)
        self.all_urls = {r["url"] for r in rows}
        self.urls = self.all_urls - self.done
        self.giants = {r["url"] for r in rows if corpus.is_giant(r)}
        self.items = len(self.urls)
        self.source_dir = ""
        self.progress_dir = ""

    def share(self, num: int, den: int) -> "ExtractJob":
        """``num/den`` of the pages by url hash, giants and the rest apart."""
        small = sorted(self.all_urls - self.giants)
        keep = corpus.hash_share(small, num, den) | corpus.hash_share(
            sorted(self.giants), num, den
        )
        rows = [r for r in self.rows if r["url"] in keep]
        return ExtractJob(rows, self.expected, self.goldens, self.done & keep)

    def land(self, input_dir: str) -> None:
        self.source_dir = os.path.join(input_dir, "pages")
        corpus.land(self.rows, corpus.PAGES_SCHEMA, self.source_dir)
        if self.done:
            self.progress_dir = os.path.join(input_dir, "progress")
            corpus.land_progress(sorted(self.done), BATCH_ID - 1, self.progress_dir)

    def prepare(self, call_dir: str) -> dict:
        shutil.rmtree(call_dir, ignore_errors=True)
        os.makedirs(call_dir)
        st = {k: os.path.join(call_dir, k) for k in ("out", "progress", "manifests")}
        if self.progress_dir:
            shutil.copytree(self.progress_dir, st["progress"])
        return st

    def call(self, spark, st: dict) -> None:
        from jobs.extract_job import run_extract

        pages = spark.read.parquet(self.source_dir).select(
            "url", "html", "layout", "args"
        )
        run_extract(
            spark,
            pages,
            out=st["out"],
            progress_path=st["progress"],
            batch_id=BATCH_ID,
            layout="auto",
            per_row_dispatch=True,
            giant_threshold=corpus.GIANT_THRESHOLD,
            manifests=st["manifests"],
        )

    def check(self, st: dict) -> Outcome:
        cols = ["url", "csv", "csv_numeric", "main_text", "n_rows", "n_cols", "error", "pass"]
        rows = pq.read_table(st["out"], columns=cols).to_pylist()
        res = Outcome(rows=self.items, errors=sum(r["error"] is not None for r in rows))
        fail = res.failures.append
        urls = [r["url"] for r in rows]
        if len(urls) != len(set(urls)):
            fail(f"{len(urls) - len(set(urls))} urls committed more than once")
        if set(urls) != self.urls:
            fail(f"committed {len(set(urls))} urls, {self.items} were attempted")
        differ = sum(
            corpus.row_digest(r["csv"], r["csv_numeric"], r["main_text"]) != self.expected.get(r["url"])
            for r in rows
        )
        if differ:
            fail(f"{differ} rows differ from the in-process kernel")
        golden_bad = 0
        for r in rows:
            want = self.goldens.get(r["url"])
            if want is not None and (
                _sha(r["csv"]) != want["csv_sha"]
                or _sha(r["csv_numeric"]) != want["csv_numeric_sha"]
                or _sha((r["main_text"] or "").encode()) != want["main_text_sha"]
                or (r["n_rows"], r["n_cols"]) != (want["n_rows"], want["n_cols"])
            ):
                golden_bad += 1
        if golden_bad:
            fail(f"{golden_bad} fixture rows differ from the goldens")
        giant_urls = {r["url"] for r in rows if r["pass"] == "giant"}
        res.giant_rows = len(giant_urls)
        if giant_urls != self.giants:
            fail(f"giant pass holds {len(giant_urls)} urls, expected {len(self.giants)}")
        manifests = pq.read_table(st["manifests"], columns=["n_urls", "batch_id"]).to_pylist()
        n_manifest = sum(m["n_urls"] for m in manifests if m["batch_id"] == BATCH_ID)
        if n_manifest != self.items:
            fail(f"manifests count {n_manifest} urls, {self.items} were attempted")
        progress = pq.read_table(st["progress"], columns=["url", "batch_id", "status"]).to_pylist()
        done = {p["url"] for p in progress if p["status"] == "done"}
        committed = sum(p["batch_id"] == BATCH_ID for p in progress)
        if committed != self.items or done != self.all_urls:
            fail(f"progress holds {committed} rows of batch {BATCH_ID} and {len(done)} done urls")
        return res


def build(name: str, seed: int, procs: int) -> ExtractJob:
    """The job of workload ``name`` on the inputs of ``seed``."""
    if name not in WORKLOADS:
        raise ValueError(f"unknown workload {name!r}")
    rows = corpus.pages(seed)
    with open(GOLDENS) as f:
        goldens = json.load(f)
    done = corpus.done_urls(rows, seed) if name == "extract_resume" else set()
    pending = [r for r in rows if r["url"] not in done]
    return ExtractJob(rows, corpus.expected_pages(pending, procs), goldens, done)


WORKLOADS = ("extract_fresh", "extract_resume")
