#!/usr/bin/env python
"""Corpus-curation job — the operational entry for the LLM-data pipeline
side of the engine (no reference analogue; the reference is extraction-only).

Reads a documents parquet (doc_id, text, lang, source, ...), applies the
composed keep/drop decision, and writes:

  * ``<out>/keepers``   — the surviving (doc_id, n_tokens, quality_score,
    lang_pred) rows (exact-dup keepers by default; ``--neardup`` elects
    keepers per MinHash-LSH cluster instead; ``--pipeline`` appends the
    packing columns, and ``--incremental-old`` appends an ``origin``
    column in {'retained','fresh'} — the keepers schema varies by mode);
  * ``<out>/bucket_stats`` — per-band LSH hot-bucket drop accounting
    (no-silent-caps rule: what the MAX_BUCKET cap skipped, next to the
    results it affected) when ``--neardup`` is set;
  * a one-line JSON summary on stdout, with the run's recorded facts
    (CC iterations and convergence, decontamination strategy, landed
    tables) under ``"facts"``.

Intermediate artifacts belong to one ``RunScope`` around the keepers
write.  Cluster use: pass ``--work-dir hdfs://...``: the connected-
components iterations are then durable parquet round-trips (executor loss
recovers instead of killing the job) and ``--pipeline`` reuses its corpus
projection through a pruned parquet landing table (the 100 TB choice)
instead of an executor cache.  The run directory under it is deleted when
the job ends.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def run_curate(
    spark,
    documents,
    out: str,
    neardup: bool = False,
    min_quality: float | None = None,
    langs: list[str] | None = None,
    work_dir: str | None = None,
    url_dedup: bool = False,
    incremental_old=None,
    prev_keepers=None,
    clean_chunks: int | None = None,
):
    """Write ``<out>/keepers`` (and bucket stats); return the keepers frame
    read back from ``out`` and the run scope's facts."""
    from ocr_table_extractor_to_csv_spark.operators import dedup
    from ocr_table_extractor_to_csv_spark.operators.curation import (
        DEFAULT_LANGS,
        DEFAULT_MIN_QUALITY,
        curate,
        curate_incremental,
        curate_neardup,
        curate_pipeline,
    )
    from ocr_table_extractor_to_csv_spark.plans.scope import RunScope

    if url_dedup:
        # URL-level dedup runs FIRST — O(n) string work + one groupBy is
        # far cheaper than any content pass, so the content passes below
        # see only canonical-URL keepers.  url_keepers elects min doc_id
        # per canonical URL and passes null/empty-URL docs through
        # (URL-less docs cannot be URL-deduped; collapsing them onto the
        # shared null key would silently drop all but one).
        if "url" not in documents.columns:
            raise ValueError("--url-dedup requires a 'url' column")
        from ocr_table_extractor_to_csv_spark.operators.weburl import url_keepers

        documents = documents.join(url_keepers(documents), "doc_id")

    # mode exclusivity FIRST, so an invalid flag combo reports the mode
    # the user actually asked for
    if incremental_old is not None and neardup:
        raise ValueError("--incremental-old is exclusive with "
                         "--neardup/--pipeline (full-corpus modes)")
    if neardup != "pipeline" and clean_chunks is not None:
        raise ValueError("--clean-chunks applies only with --pipeline "
                         "(the C4 cleaning pass is a pipeline stage)")
    if clean_chunks is not None and clean_chunks < 1:
        raise ValueError(f"--clean-chunks must be >= 1 (got {clean_chunks})")
    if prev_keepers is not None and incremental_old is None:
        # never a silent flag no-op: prev_keepers only feeds the
        # incremental verdict carry-over (r6 review)
        raise ValueError("--prev-keepers applies only with "
                         "--incremental-old (verdict carry-over is an "
                         "incremental-mode input)")
    mq = DEFAULT_MIN_QUALITY if min_quality is None else min_quality
    ls = tuple(langs) if langs else DEFAULT_LANGS
    with RunScope(spark, work_dir=work_dir) as scope:
        if incremental_old is not None:
            # O(delta) refresh: `documents` is the NEW snapshot; unchanged
            # docs carry their previous verdicts, the delta is
            # bloom-prefiltered and curated (curate_incremental).  Exclusive
            # with the content-cluster modes (those are full-corpus passes).
            kept = curate_incremental(
                incremental_old, documents, prev_keepers=prev_keepers,
                min_quality=mq, langs=ls,
            )
        elif neardup == "pipeline":
            kept = curate_pipeline(
                documents, min_quality=mq, langs=ls, clean_chunks=clean_chunks,
                scope=scope,
            )
        elif neardup:
            kept = curate_neardup(documents, min_quality=mq, langs=ls, scope=scope)
        else:
            kept = curate(documents, min_quality=mq, langs=ls)
        kept.write.mode("overwrite").parquet(f"{out}/keepers")
    if neardup:
        dedup.lsh_bucket_stats(documents).write.mode("overwrite").parquet(
            f"{out}/bucket_stats"
        )
    return spark.read.parquet(f"{out}/keepers"), scope.facts


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--documents", help="documents parquet dir")
    ap.add_argument("--wet", help="WET segment dir (.warc.wet/.gz) to "
                    "curate directly — exclusive with --documents; docs "
                    "get md5(url) ids + host sources (wet_to_documents)")
    ap.add_argument("--out", required=True, help="output directory")
    ap.add_argument("--neardup", action="store_true",
                    help="elect keepers per MinHash-LSH cluster (default: exact-dup)")
    ap.add_argument("--pipeline", action="store_true",
                    help="full composed pipeline: gates + decontaminate + "
                    "near-dup keepers + sequence packing (one cached corpus scan)")
    ap.add_argument("--min-quality", type=float, default=None)
    ap.add_argument("--lang", action="append", default=None)
    ap.add_argument("--work-dir", default=None,
                    help="HDFS/S3 dir for the run's intermediate tables: "
                    "durable CC iterations and the --pipeline corpus "
                    "landing table (set on clusters; default: executor "
                    "cache and local checkpoints)")
    ap.add_argument("--url-dedup", action="store_true",
                    help="pre-pass: keep one doc per canonical URL before "
                    "any content pass (requires a 'url' column)")
    ap.add_argument("--clean-chunks", type=int, default=None,
                    help="--pipeline only: insert the C4 line-dedup "
                    "cleaning transform as pass 1 with this chunk size "
                    "in tokens (downstream stages see cleaned text)")
    ap.add_argument("--incremental-old", default=None,
                    help="previous-snapshot parquet dir: O(delta) refresh — "
                    "--documents is the NEW snapshot; exclusive with "
                    "--neardup/--pipeline")
    ap.add_argument("--prev-keepers", default=None,
                    help="stored keepers parquet from the previous run "
                    "(recommended with --incremental-old; default recurates "
                    "the old snapshot)")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from ocr_table_extractor_to_csv_spark.session import get_spark

    if bool(args.documents) == bool(args.wet):
        ap.error("exactly one of --documents / --wet is required")
    spark = get_spark(app_name="curate")
    if args.wet:
        from ocr_table_extractor_to_csv_spark.sources.warc import (
            read_wet,
            wet_to_documents,
        )

        docs = wet_to_documents(read_wet(spark, args.wet))
    else:
        docs = spark.read.parquet(args.documents)
    kept, facts = run_curate(
        spark,
        docs,
        out=args.out,
        neardup="pipeline" if args.pipeline else args.neardup,
        min_quality=args.min_quality,
        langs=args.lang,
        work_dir=args.work_dir,
        url_dedup=args.url_dedup,
        incremental_old=(
            spark.read.parquet(args.incremental_old)
            if args.incremental_old else None
        ),
        prev_keepers=(
            spark.read.parquet(args.prev_keepers) if args.prev_keepers else None
        ),
        clean_chunks=args.clean_chunks,
    )
    stats = kept.agg(
        F.count("*").alias("n_kept"), F.sum("n_tokens").alias("kept_tokens")
    ).collect()[0]
    n_in = docs.count()
    print(json.dumps({
        "n_documents": n_in,
        "n_kept": stats.n_kept,
        "kept_tokens": int(stats.kept_tokens or 0),
        "keep_rate": round(stats.n_kept / max(1, n_in), 4),
        "mode": (
            "incremental" if args.incremental_old
            else "pipeline" if args.pipeline
            else "neardup" if args.neardup
            else "exact"
        ),
        "url_dedup": args.url_dedup,
        "out": args.out,
        "facts": facts,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
