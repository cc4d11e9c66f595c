#!/usr/bin/env python
"""Batch extraction job with checkpoint resume + lineage manifests.

Usage (sandbox; on a real cluster ship via
``spark-submit --py-files engine.zip jobs/extract_job.py ...``):

  python jobs/extract_job.py --pages <parquet dir or table> \
      --out /data/extracted --progress /data/progress \
      --manifests /data/manifests --batch-id 7 \
      [--layout auto] [--giant-threshold 8388608]

Plan (all declarative; extraction prunes the page columns it does not read):
  unless the batch's progress landed (batch ids are immutable):
    pages LEFT ANTI JOIN progress(done) ON url   -- resume
      -> isolate_giants, fan_out(giants)          -- skew tail spread
      -> mapInArrow extraction kernel             -- the only Python stage
      -> ONE overwrite of <out>/batch_id=<B>/     -- idempotent; `pass`
                                                     (small/giant) is a
                                                     column; observed: rows,
                                                     failed, html_bytes
  ONE read of the committed batch, feeding concurrent writes:
    append progress rows derived from it         -- fresh batch only
    overwrite the batch's per-partition lineage manifests
Every read-back is given its schema (plans/resume.py): no Spark job is
spent inferring the schema of a table this job wrote.  A root written in
the older two-level batch_id=<B>/pass=<P>/ layout cannot be mixed with
this one: start a new extraction root.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import Observation
from pyspark.sql import functions as F

from ocr_table_extractor_to_csv_spark.operators.extract import extract_pages
from ocr_table_extractor_to_csv_spark.plans.lineage import build_manifests
from ocr_table_extractor_to_csv_spark.plans.partitioning import (
    GIANT_THRESHOLD,
    fan_out,
    isolate_giants,
)
from ocr_table_extractor_to_csv_spark.plans.resume import (
    batch_committed,
    commit_progress,
    pending_pages,
    read_committed,
    read_progress,
    write_batch,
)
from ocr_table_extractor_to_csv_spark.plans.scope import run_branches
from ocr_table_extractor_to_csv_spark.session import get_spark


def run_extract(
    spark,
    pages,
    out: str,
    progress_path: str,
    batch_id: int,
    layout: str = "auto",
    per_row_dispatch: bool = False,
    giant_threshold: int = GIANT_THRESHOLD,
    manifests: str | None = None,
    size_col: str = "html",
):
    """The job body, callable from tests.  One write action commits the
    batch: small docs extract in the scan's byte-proportional splits, and
    the giants ``isolate_giants`` splits off are spread over the cores by
    ``fan_out`` (a file full of giants would otherwise run them in series
    in one task).  Worker memory is bounded by the session's Arrow batch
    limits in rows and in bytes (``session.DEFAULT_CONF``); no session conf
    is changed.

    The write overwrites the batch's directory ``<out>/batch_id=<B>/``, so
    a re-run replaces rather than duplicates (see plans/resume.py); each
    row's ``pass`` column (``small``/``giant``) records which branch
    extracted it.  ``size_col`` is the column whose byte/char length
    classifies giants (default the html payload itself); extraction prunes
    it away, so a caller may attach a precomputed size column without
    touching the kernel input.

    After the data write commits, the batch is read back once
    (``read_committed``); that frame feeds the progress commit and, with
    ``manifests``, the batch's lineage manifests, written concurrently
    (``plans.scope.run_branches``; a failure names its branch).  Returns
    ``(committed, facts)``: the committed DataFrame for this batch and the
    write's observed ``rows``, ``failed`` and ``html_bytes`` with its
    ``batch_id``, taken from the write itself without another scan.

    A batch id is immutable once its progress has landed
    (``batch_committed``): re-running such a batch extracts and appends
    nothing, rewrites its manifests from the committed rows, and reports
    zero rows; ``pages`` is not read then, so a caller that checked
    ``batch_committed`` first may pass None.  Failed urls are retried under
    a new batch id.
    """
    progress = read_progress(spark, progress_path)
    fresh = not batch_committed(spark, out, progress, batch_id)
    facts = {"rows": 0, "failed": 0, "html_bytes": 0}
    if fresh:
        small, giants = isolate_giants(pending_pages(pages, progress), giant_threshold, size_col)

        def extract(df, pass_name):
            return extract_pages(df, layout=layout, per_row_dispatch=per_row_dispatch).withColumn(
                "pass", F.lit(pass_name)
            )

        observed = Observation()
        write_batch(
            extract(small, "small")
            .unionByName(extract(fan_out(giants), "giant"))
            .observe(
                observed,
                F.count("*").alias("rows"),
                F.count("error").alias("failed"),
                F.coalesce(F.sum("html_bytes"), F.lit(0)).alias("html_bytes"),
            ),
            batch_id,
            out,
        )
        facts = observed.get

    committed = read_committed(spark, out, batch_id)
    # the branches look commit_progress and write_batch up in this module's
    # globals when they run, so tests and the perfbench tracer can wrap them
    branches = {}
    if fresh:
        branches["progress"] = lambda: commit_progress(committed, progress_path)
    if manifests:
        branches["manifests"] = lambda: write_batch(build_manifests(committed), batch_id, manifests)
    if branches:
        run_branches("run_extract", branches)
    return committed, dict(facts, batch_id=batch_id)


def land_warc(spark, warc_dir: str, out: str, batch_id: int):
    """Ingest raw WARC segments: land the parsed frame as parquet ONCE
    (the WARC parse pass), then read everything downstream from the
    landing table — the error count scans only the pruned (url, error)
    columns, never the html, and extraction gets a columnar, splittable
    input.  A persist() here instead would copy the full decompressed
    corpus into executor storage and silently re-parse evicted
    partitions; the landing table is also what you WANT at Common-Crawl
    scale (no downstream job should ever re-parse raw WARC bytes).
    Returns the good-pages frame; error segments are durably recorded in
    ``<out>_warc_errors/batch_id=<B>/``, overwritten per batch
    (``write_batch``), so a re-run of the batch records them once."""
    from ocr_table_extractor_to_csv_spark.sources.warc import read_warc

    staging = f"{out.rstrip('/')}_warc_landing"
    parsed = read_warc(spark, warc_dir)
    parsed.write.mode("overwrite").parquet(staging)
    raw = spark.read.schema(parsed.schema).parquet(staging)
    bad = raw.where(F.col("error").isNotNull())
    n_bad = bad.count()
    if n_bad:
        print(f"warc: {n_bad} unreadable segment(s) skipped")
        # never a silent drop: the skipped segments are durably recorded
        write_batch(bad.select("url", "error"), batch_id, f"{out.rstrip('/')}_warc_errors")
    return raw.where(F.col("error").isNull())


def main() -> None:
    ap = argparse.ArgumentParser()
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--pages", help="pages parquet dir or table")
    src.add_argument(
        "--warc",
        help="directory/glob of raw .warc/.warc.gz segments (Common Crawl "
        "layout; parsed by sources/warc.py, parse-error rows dropped with "
        "a count printed)",
    )
    ap.add_argument("--out", required=True)
    ap.add_argument("--progress", required=True)
    ap.add_argument("--manifests", default=None)
    ap.add_argument("--batch-id", type=int, required=True)
    ap.add_argument("--layout", default="auto")
    ap.add_argument(
        "--per-row-dispatch",
        action="store_true",
        help="use the input's layout/args columns instead of --layout",
    )
    ap.add_argument("--giant-threshold", type=int, default=GIANT_THRESHOLD)
    ap.add_argument("--lang", default=None, help="optional lang pushdown filter")
    args = ap.parse_args()
    if args.warc and args.lang:
        # WARC pages carry no lang column; refuse before landing the segments
        ap.error("--lang requires a source with a lang column, which --warc is not")

    spark = get_spark(app_name=f"extract-batch-{args.batch_id}")
    if args.warc:
        # run_extract reads no page of a committed batch: parse no segment
        done = batch_committed(
            spark, args.out, read_progress(spark, args.progress), args.batch_id
        )
        pages = None if done else land_warc(spark, args.warc, args.out, args.batch_id)
    else:
        pages = spark.read.parquet(args.pages)
    if args.lang:
        if "lang" not in pages.columns:
            raise SystemExit("--lang requires a source with a lang column")
        # pushdown filter reaches the parquet scan (check .explain PushedFilters)
        pages = pages.where(F.col("lang") == args.lang)

    _, facts = run_extract(
        spark,
        pages,
        out=args.out,
        progress_path=args.progress,
        batch_id=args.batch_id,
        layout=args.layout,
        per_row_dispatch=args.per_row_dispatch,
        giant_threshold=args.giant_threshold,
        manifests=args.manifests,
    )
    print(json.dumps(facts))
    spark.stop()


if __name__ == "__main__":
    main()
