#!/usr/bin/env python
"""Batch extraction job with checkpoint resume + lineage manifests.

Usage (sandbox; on a real cluster ship via
``spark-submit --py-files engine.zip jobs/extract_job.py ...``):

  python jobs/extract_job.py --pages <parquet dir or table> \
      --out /data/extracted --progress /data/progress \
      --manifests /data/manifests --batch-id 7 \
      [--layout auto] [--giant-threshold 8388608]

Plan (all declarative; Catalyst prunes the page columns not selected):
  pages LEFT ANTI JOIN progress(done) ON url     -- resume
    -> isolate_giants, fan_out(giants)            -- skew tail spread
    -> mapInArrow extraction kernel               -- the only Python stage
    -> ONE write partitioned by (batch_id, pass)  -- idempotent overwrite
    -> append progress rows derived from the committed output
    -> append per-partition lineage manifests
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from ocr_table_extractor_to_csv_spark.operators.extract import extract_pages
from ocr_table_extractor_to_csv_spark.plans.lineage import build_manifests
from ocr_table_extractor_to_csv_spark.plans.partitioning import fan_out, isolate_giants
from ocr_table_extractor_to_csv_spark.plans.resume import (
    commit_progress,
    pending_pages,
    read_progress,
    write_batch,
)
from ocr_table_extractor_to_csv_spark.session import get_spark


def run_extract(
    spark,
    pages,
    out: str,
    progress_path: str,
    batch_id: int,
    layout: str = "auto",
    per_row_dispatch: bool = False,
    giant_threshold: int = 8 * 1024 * 1024,
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

    Each row's ``pass`` (``small``/``giant``) is a partition of the
    committed ``(batch_id, pass)`` layout, so a re-run replaces rather
    than duplicates (see plans/resume.py).  ``size_col`` is the column
    whose byte/char length classifies giants (default the html payload
    itself); extraction prunes it away, so a caller may attach a
    precomputed size column without touching the kernel input.  Returns
    the committed DataFrame for this batch.
    """
    progress = read_progress(spark, progress_path)
    pending = pending_pages(pages, progress)

    small, giants = isolate_giants(pending, giant_threshold, size_col=size_col)

    def extract(df, pass_name):
        return extract_pages(df, layout=layout, per_row_dispatch=per_row_dispatch).withColumn(
            "pass", F.lit(pass_name)
        )

    write_batch(
        extract(small, "small").unionByName(extract(fan_out(giants), "giant")),
        batch_id,
        out,
    )

    commit_progress(spark, batch_id, out, progress_path)

    committed = spark.read.parquet(out).where(F.col("batch_id") == batch_id)
    if manifests:
        build_manifests(committed).withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(manifests)
    return committed


def land_warc(spark, warc_dir: str, out: str):
    """Ingest raw WARC segments: land the parsed frame as parquet ONCE
    (the WARC parse pass), then read everything downstream from the
    landing table — the error count scans only the pruned (url, error)
    columns, never the html, and extraction gets a columnar, splittable
    input.  A persist() here instead would copy the full decompressed
    corpus into executor storage and silently re-parse evicted
    partitions; the landing table is also what you WANT at Common-Crawl
    scale (no downstream job should ever re-parse raw WARC bytes).
    Returns the good-pages frame; error segments are durably recorded in
    ``<out>_warc_errors``."""
    from ocr_table_extractor_to_csv_spark.sources.warc import read_warc

    staging = f"{out.rstrip('/')}_warc_landing"
    read_warc(spark, warc_dir).write.mode("overwrite").parquet(staging)
    raw = spark.read.parquet(staging)
    bad = raw.where(F.col("error").isNotNull())
    n_bad = bad.count()
    if n_bad:
        print(f"warc: {n_bad} unreadable segment(s) skipped")
        # never a silent drop: the skipped segments are durably recorded
        bad.select("url", "error").write.mode("append").parquet(
            f"{out.rstrip('/')}_warc_errors"
        )
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
    ap.add_argument("--giant-threshold", type=int, default=8 * 1024 * 1024)
    ap.add_argument("--lang", default=None, help="optional lang pushdown filter")
    args = ap.parse_args()
    if args.warc and args.lang:
        # WARC pages carry no lang column; refuse before landing the segments
        ap.error("--lang requires a source with a lang column, which --warc is not")

    spark = get_spark(app_name=f"extract-batch-{args.batch_id}")
    if args.warc:
        pages = land_warc(spark, args.warc, args.out)
    else:
        pages = spark.read.parquet(args.pages)
    if args.lang:
        if "lang" not in pages.columns:
            raise SystemExit("--lang requires a source with a lang column")
        # pushdown filter reaches the parquet scan (check .explain PushedFilters)
        pages = pages.where(F.col("lang") == args.lang)
    cols = ["url", "html"] + (["layout", "args"] if args.per_row_dispatch else [])
    pages = pages.select(*cols)

    committed = run_extract(
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
    stats = committed.agg(
        F.count("*").alias("n"),
        F.coalesce(
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)), F.lit(0)
        ).alias("failed"),
    ).collect()[0]
    print(f"batch {args.batch_id}: {stats.n} pages extracted, {stats.failed} failed")
    spark.stop()


if __name__ == "__main__":
    main()
