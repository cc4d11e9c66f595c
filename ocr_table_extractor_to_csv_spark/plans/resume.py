"""Checkpoint-based resume over a progress table (north_rule requirement).

Batch protocol (exactly-once at the batch granularity, SURVEY.md §4.2):
  0. a batch id is immutable once its progress rows have landed
     (``batch_committed``): re-running it changes no data or progress row.
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

from ..operators.extract import EXTRACTED_SCHEMA
from .scope import hadoop_path

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


def _exists(spark: SparkSession, path: str) -> bool:
    fs, p = hadoop_path(spark, path)
    return fs.exists(p)


def _batch_dir(path: str, batch_id: int) -> str:
    return f"{path.rstrip('/')}/batch_id={batch_id}"


def read_progress(spark: SparkSession, progress_path: str) -> DataFrame | None:
    """The progress table, or None on a first run (no table yet).  The
    path is probed, not read and caught: once an ``Observation`` has run
    in the session, every failed read logs a listener stack trace."""
    if not _exists(spark, progress_path):
        return None
    return spark.read.schema(PROGRESS_SCHEMA).parquet(progress_path)


def batch_committed(
    spark: SparkSession, out: str, progress: DataFrame | None, batch_id: int
) -> bool:
    """Whether batch ``batch_id`` has committed: its partition exists under
    the extraction root ``out`` and its progress rows have landed.  The
    partition probe asks the filesystem, so a batch that has not written
    yet costs no Spark job; only a re-run of a written batch reads its
    progress rows."""
    if progress is None or not _exists(spark, _batch_dir(out, batch_id)):
        return False
    return progress.where(F.col("batch_id") == batch_id).limit(1).count() > 0


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
    batch_dir = _batch_dir(path, batch_id)
    if not _exists(spark, batch_dir):
        return spark.createDataFrame([], COMMITTED_SCHEMA)
    return spark.read.schema(COMMITTED_SCHEMA).option("basePath", path).parquet(batch_dir)


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
