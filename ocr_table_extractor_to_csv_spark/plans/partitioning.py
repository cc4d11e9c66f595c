"""Skew handling and fan-out: the map-only extraction stage, per-group min-k.

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
* ``salted_min_k`` is the skew-safe per-group min-k of the curation surface
  (``weburl.domain_cap``, ``sketches.kmv_state``): a window over a hot key
  cannot be split, so the first window ranks within (group, salt).

Anti-pattern measured here first-hand: ``repartitionByRange(size_bucket,
salt)`` CO-LOCATES each size class into few partitions — all giants land in
one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
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


def salted_min_k(frame: DataFrame, group: str, key: str, k: int, salt_mod: int) -> DataFrame:
    """(group, key, rk): the ``k`` smallest ``key`` rows of every ``group``,
    ranked ``rk`` = 1..k by ``key`` (ties keep one row each, so distinct
    keys rank distinct values), in two phases:

    * phase 1 ranks within (group, pmod(key, salt_mod)) — the salt bounds
      every window partition to ~1/salt_mod of the hottest group, so no
      task sorts a whole viral group (the window sort itself spills);
    * phase 2 re-ranks the survivors within the group, whose input is
      capped at salt_mod x k rows per group by construction, not by data.

    The union of the per-salt min-k sets holds the global min-k, so the
    result is exactly ROW_NUMBER() OVER (PARTITION BY group ORDER BY key)
    <= k for any salt (the oracles' formulation).  Shuffled bytes are
    (group, salt, key) triples; pick salt_mod ~ largest group / 10^6 so
    phase-1 partitions stay executor-sized."""
    salted = frame.select(group, key, F.pmod(F.col(key), F.lit(salt_mod)).cast("int").alias("_salt"))
    local = salted.withColumn(
        "_r", F.row_number().over(Window.partitionBy(group, "_salt").orderBy(key))
    ).where(F.col("_r") <= k)
    ranked = local.select(group, key, F.row_number().over(Window.partitionBy(group).orderBy(key)).alias("rk"))
    return ranked.where(F.col("rk") <= k)
