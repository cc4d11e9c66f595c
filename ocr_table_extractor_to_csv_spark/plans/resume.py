"""Checkpoint-based resume over a progress table (north_rule requirement).

Batch protocol (exactly-once at the batch granularity, SURVEY.md §4.2):
  0. a batch id is immutable once its progress rows have landed
     (``batch_committed``): re-running it changes no data or progress row.
  1. ``pending = pages LEFT ANTI JOIN progress(status='done') ON url <=> url``
     (``pending_pages``) — Catalyst broadcasts the progress url set when
     small, sort-merge joins otherwise; AQE picks at runtime.
  2. extract ``pending`` and overwrite ``<root>/batch_id=<B>/``
     (``write_batch``) — a re-run of a failed batch REPLACES all it wrote
     before; the extraction pass (``small``/``giant``) is a ``pass`` column.
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

A root in the older two-level ``batch_id=<B>/pass=<P>/`` layout cannot be
mixed with this one (Spark reports conflicting directory structures):
start a new extraction root.  On Iceberg the protocol maps to
``overwritePartitions()`` on a table partitioned by ``batch_id``.
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

# the extraction output as committed: the ``pass`` column, then the
# ``batch_id`` partition column last, as a partitioned parquet read returns it
COMMITTED_SCHEMA = StructType(
    EXTRACTED_SCHEMA.fields
    + [StructField("pass", StringType()), StructField("batch_id", IntegerType())]
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
    """Whether batch ``batch_id`` has committed: its directory exists under
    the extraction root ``out`` and its progress rows have landed.  The
    directory probe asks the filesystem, so a batch that has not written
    yet costs no Spark job; only a re-run of a written batch reads its
    progress rows."""
    if progress is None or not _exists(spark, _batch_dir(out, batch_id)):
        return False
    return progress.where(F.col("batch_id") == batch_id).limit(1).count() > 0


def pending_pages(pages: DataFrame, progress: DataFrame | None) -> DataFrame:
    """The pages without a ``done`` progress row.  The anti-join is
    null-safe, so a page whose url is NULL is one more url: it commits
    once, in the first batch that sees it, and a failed one is retried
    like any failed url.  (A plain equality never matches NULL, so every
    batch would commit it again.)"""
    if progress is None:
        return pages
    done = progress.where(F.col("status") == "done").select(F.col("url").alias("done_url"))
    return pages.join(done, pages["url"].eqNullSafe(done["done_url"]), "left_anti")


def write_batch(frame: DataFrame, batch_id: int, root: str) -> None:
    """Idempotently (re)write a batch's rows of one table: a re-run of the
    batch replaces all an earlier run wrote.  Readers of ``root`` get
    ``batch_id`` from the directory name; an empty frame still leaves the
    directory, with one schema-only part file."""
    frame.write.mode("overwrite").parquet(_batch_dir(root, batch_id))


def read_committed(spark: SparkSession, path: str, batch_id: int) -> DataFrame:
    """The committed rows of batch ``batch_id`` under the extraction root
    ``path``.  Only the batch's own directory is listed, so the cost does
    not grow with the number of batches already committed."""
    reader = spark.read.schema(COMMITTED_SCHEMA).option("basePath", path)
    return reader.parquet(_batch_dir(path, batch_id))


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
