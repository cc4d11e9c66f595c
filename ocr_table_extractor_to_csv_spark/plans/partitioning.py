"""Skew handling and fan-out for the map-only extraction stage.

Why this exists (SURVEY.md §4.2): AQE's skew handling only rebalances
shuffle JOINS — a ``mapInArrow`` stage inherits the scan's partitioning, so
a handful of 50 MB pages can stall single tasks while the other cores idle.

* ``isolate_giants`` splits off the pathological tail, which
  ``jobs/extract_job.run_extract`` fans out over the cores in the same
  write that extracts the rest in the scan's byte-proportional splits (no
  shuffle of the small pages).  Worker memory needs no per-tail setting:
  the session bounds every Arrow batch by bytes as well as rows.
* ``fan_out`` round-robins a frame that arrives in too few partitions (the
  giant tail, a single-file table) over the default parallelism.

Anti-pattern measured here first-hand: ``repartitionByRange(size_bucket,
salt)`` CO-LOCATES each size class into few partitions — all giants land in
one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

GIANT_THRESHOLD = 8 * 1024 * 1024  # bytes of a page's size column


def fan_out(df: DataFrame) -> DataFrame:
    """Round-robin ``df`` over the session's default parallelism."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def isolate_giants(
    pages: DataFrame, giant_threshold_bytes: int, size_col: str
) -> tuple[DataFrame, DataFrame]:
    """Split ``pages`` into (small, giant) by the length of ``size_col``."""
    size = F.length(F.col(size_col))
    return (
        pages.where(size < giant_threshold_bytes),
        pages.where(size >= giant_threshold_bytes),
    )
