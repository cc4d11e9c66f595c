"""Checkpoint-based resume over a progress table (north_rule requirement).

Batch protocol (exactly-once at the batch granularity, SURVEY.md §4.2):
  1. ``pending = pages LEFT ANTI JOIN progress(status='done') ON url`` —
     Catalyst broadcasts the progress url set when small, sort-merge joins
     otherwise; AQE picks at runtime.
  2. extract ``pending`` and write ``extracted`` partitioned by ``batch_id``
     with dynamic partition overwrite — a re-run of a failed batch REPLACES
     its partition instead of duplicating rows.
  3. append ``(url, batch_id, status, n_rows, error)`` to ``progress`` only
     after the data write commits.

On Iceberg the same protocol maps to ``overwritePartitions()`` + a snapshot
commit; here the warehouse is parquet directories (no Iceberg runtime jar in
this sandbox) with identical semantics via the per-write
``partitionOverwriteMode=dynamic`` option (the session conf is untouched).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException


def read_progress(spark: SparkSession, progress_path: str) -> DataFrame | None:
    try:
        return spark.read.parquet(progress_path)
    except AnalysisException:
        return None  # first run: no progress table yet


def pending_pages(pages: DataFrame, progress: DataFrame | None) -> DataFrame:
    if progress is None:
        return pages
    done = progress.where(F.col("status") == "done").select("url")
    return pages.join(done, "url", "left_anti")


def write_batch(extracted: DataFrame, batch_id: int, extracted_path: str) -> None:
    """Idempotently (re)write a batch.

    ``extracted`` carries a ``pass`` column (``small``/``giant``, see
    ``jobs/extract_job.run_extract``).  Dynamic partition overwrite on
    ``(batch_id, pass)`` replaces exactly the partitions this write fills,
    so a re-run of the batch never duplicates rows of either pass.

    Layout note: ``extracted_path`` is partitioned (batch_id, pass); a
    directory written by a pre-``pass`` version of this engine has a
    different partition depth and cannot be mixed — write new batches to a
    fresh root (Spark fails loudly with "conflicting directory structures"
    otherwise).
    """
    (
        extracted.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id", "pass")
        .parquet(extracted_path)
    )


def commit_progress(
    spark: SparkSession, batch_id: int, extracted_path: str, progress_path: str
) -> None:
    # progress rows are derived from the COMMITTED output, not the input:
    # re-reading guarantees the anti-join key set reflects durable data only
    committed = spark.read.parquet(extracted_path).where(F.col("batch_id") == batch_id)
    progress = committed.select(
        "url",
        "batch_id",
        F.when(F.col("error").isNull(), F.lit("done")).otherwise(F.lit("failed")).alias("status"),
        "n_rows",
        "error",
        F.current_timestamp().alias("ts"),
    )
    progress.write.mode("append").parquet(progress_path)
