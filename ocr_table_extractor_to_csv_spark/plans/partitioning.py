"""Skew handling and fan-out for the map-only extraction stage.

Why this exists (SURVEY.md §4.2): AQE's skew handling only rebalances
shuffle JOINS — a ``mapInArrow`` stage inherits the scan's partitioning, so
a handful of 50 MB pages can stall single tasks while the other cores idle.

* ``isolate_giants`` splits the pathological tail into its own pass, which
  ``jobs/extract_job.run_extract`` runs with its own Arrow batch size while
  the main pass keeps the scan's byte-proportional splits (no shuffle).
* ``fan_out`` round-robins a frame that arrives in too few partitions (the
  giant tail, a single-file table) over the default parallelism.

Anti-pattern measured here first-hand: ``repartitionByRange(size_bucket,
salt)`` CO-LOCATES each size class into few partitions — all giants land in
one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fan_out(df: DataFrame) -> DataFrame:
    """Round-robin ``df`` over the session's default parallelism."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def isolate_giants(
    pages: DataFrame, giant_threshold_bytes: int = 8 * 1024 * 1024, size_col: str = "html"
) -> tuple[DataFrame, DataFrame]:
    """Split the pathological tail into its own pass."""
    size = F.length(F.col(size_col))
    return (
        pages.where(size < giant_threshold_bytes),
        pages.where(size >= giant_threshold_bytes),
    )
