"""SparkSession factory with scale-appropriate defaults.

Tuned for a pages table whose ``html`` BINARY column is MB-scale: Arrow
batches bounded in rows and in bytes bound Python-worker memory (the real
spill control for a map-only kernel stage), AQE coalesces post-shuffle
partitions, and shuffle partition count matches local cores (overridden on
a real cluster via spark-submit conf).

``worker_batches`` wraps every Python batch function a ``mapInArrow`` /
``mapInPandas`` stage runs.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

from pyspark.sql import SparkSession

DEFAULT_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # an Arrow batch closes at whichever limit it reaches first, so it holds
    # at most 256 rows and 32 MiB plus one document: per-worker memory stays
    # bounded in the same write for ~3-100KB pages (256 rows, measured ~20%
    # faster than 64) and for giant pages (8 MiB ones arrive ~4 per batch).
    "spark.sql.execution.arrow.maxRecordsPerBatch": "256",
    "spark.sql.execution.arrow.maxBytesPerBatch": str(32 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.selfDestruct.enabled": "true",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.driver.memory": "8g",
}


def get_spark(
    app_name: str = "ocr-table-extractor-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_MASTER", f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]")
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(DEFAULT_CONF)
    if shuffle_partitions is None:
        # local[N] -> N; local[*]/cluster -> leave Spark default unless set
        if master.startswith("local[") and master[6:-1].isdigit():
            shuffle_partitions = int(master[6:-1])
    if shuffle_partitions:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf.update(extra_conf or {})
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def worker_batches(fn):
    """Wrap a ``mapInArrow``/``mapInPandas`` batch function so that, when the
    task's iterator ends (exhausted, closed or raising), the worker drops its
    cached ``zipimporter`` finders.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
    every task; on CPython 3.10-3.12 that makes each cached zipimporter
    re-read its archive's whole central directory (pyspark.zip, its
    subpackage dirs, the py4j zip, the spark-core jar): 90-170 ms per task
    with 4 tasks in flight.  With the finders gone the next task's
    invalidation has nothing to re-read.  Imports are unchanged: the cache
    refills on demand.
    """

    @functools.wraps(fn)
    def batches(iterator):
        try:
            yield from fn(iterator)
        finally:
            # an import that needs a zip finder again builds it from
            # zipimport's directory cache, without re-reading the archive
            for path, finder in list(sys.path_importer_cache.items()):
                if isinstance(finder, zipimport.zipimporter):
                    sys.path_importer_cache.pop(path, None)

    return batches
