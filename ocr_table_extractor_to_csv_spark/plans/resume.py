"""Checkpoint-based resume over a progress table (north_rule requirement).

Batch protocol (exactly-once at the batch granularity, SURVEY.md §4.2):
  1. ``pending = pages LEFT ANTI JOIN progress(status='done') ON url`` —
     Catalyst broadcasts the progress url set when small, sort-merge joins
     otherwise; AQE picks at runtime.
  2. extract ``pending`` and write ``extracted`` partitioned by ``batch_id``
     with dynamic partition overwrite — a re-run of a failed batch REPLACES
     its partition instead of duplicating rows.
  3. only after the data write commits, read the batch back ONCE
     (``read_committed``) and, from that one frame and concurrently,
     append ``(url, batch_id, status, n_rows, error, ts)`` to ``progress``
     and overwrite the batch's lineage manifests (plans/lineage.py).  The
     manifests go through ``write_batch`` too, so whichever of the two
     writes a failed run completed, its re-run replaces the batch's
     manifests instead of counting the batch twice.

Every read-back of a table this protocol wrote carries its schema
(``PROGRESS_SCHEMA``, ``COMMITTED_SCHEMA``): the job knows what it wrote,
and inferring it would cost one footer-reading Spark job per read.

On Iceberg the same protocol maps to ``overwritePartitions()`` + a snapshot
commit; here the warehouse is parquet directories (no Iceberg runtime jar in
this sandbox) with identical semantics via the per-write
``partitionOverwriteMode=dynamic`` option (the session conf is untouched).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)
from pyspark.sql.utils import AnalysisException

from ..operators.extract import EXTRACTED_SCHEMA

PROGRESS_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("batch_id", IntegerType()),
        StructField("status", StringType()),
        StructField("n_rows", IntegerType()),
        StructField("error", StringType()),
        StructField("ts", TimestampType()),
    ]
)

# the extraction output as committed: partition columns last, as a
# partitioned parquet read returns them
COMMITTED_SCHEMA = StructType(
    EXTRACTED_SCHEMA.fields
    + [StructField("batch_id", IntegerType()), StructField("pass", StringType())]
)


def read_progress(spark: SparkSession, progress_path: str) -> DataFrame | None:
    try:
        return spark.read.schema(PROGRESS_SCHEMA).parquet(progress_path)
    except AnalysisException:
        return None  # first run: no progress table yet


def pending_pages(pages: DataFrame, progress: DataFrame | None) -> DataFrame:
    if progress is None:
        return pages
    done = progress.where(F.col("status") == "done").select("url")
    return pages.join(done, "url", "left_anti")


def write_batch(
    frame: DataFrame,
    batch_id: int,
    path: str,
    partition_cols: tuple[str, ...] = ("batch_id", "pass"),
) -> None:
    """Idempotently (re)write a batch's rows of one table.

    Dynamic partition overwrite on ``partition_cols`` (``batch_id`` first)
    replaces exactly the partitions this write fills, so a re-run of the
    batch never duplicates its rows.  The extraction output carries a
    ``pass`` column (``small``/``giant``, see
    ``jobs/extract_job.run_extract``) and is partitioned
    ``(batch_id, pass)``; the manifests are partitioned ``(batch_id,)``.

    Layout note: a directory written with a different partition depth (a
    pre-``pass`` extraction root, a flat manifests table) cannot be mixed
    with this layout — write new batches to a fresh root (Spark fails
    loudly with "conflicting directory structures" otherwise).
    """
    (
        frame.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def read_committed(spark: SparkSession, path: str, batch_id: int) -> DataFrame:
    """The committed rows of batch ``batch_id`` under the extraction root
    ``path``.  Only the batch's own partition directory is listed, so the
    cost does not grow with the number of batches already committed; a
    batch that committed no rows has no directory and reads empty."""
    try:
        return (
            spark.read.schema(COMMITTED_SCHEMA)
            .option("basePath", path)
            .parquet(f"{path.rstrip('/')}/batch_id={batch_id}")
        )
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return spark.createDataFrame([], COMMITTED_SCHEMA)


def commit_progress(committed: DataFrame, progress_path: str) -> None:
    """Append one progress row per committed url.  The rows come from the
    COMMITTED output (``read_committed``), not the input, so the anti-join
    key set reflects durable data only."""
    progress = committed.select(
        "url",
        "batch_id",
        F.when(F.col("error").isNull(), F.lit("done")).otherwise(F.lit("failed")).alias("status"),
        "n_rows",
        "error",
        F.current_timestamp().alias("ts"),
    )
    progress.write.mode("append").parquet(progress_path)
