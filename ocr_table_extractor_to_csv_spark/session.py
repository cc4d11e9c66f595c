"""SparkSession factory with scale-appropriate defaults.

Tuned for a pages table whose ``html`` BINARY column is MB-scale: small
Arrow batches bound Python-worker memory (the real spill control for a
map-only kernel stage), AQE coalesces post-shuffle partitions, and shuffle
partition count matches local cores (overridden on a real cluster via
spark-submit conf).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # bounds per-worker memory (rows x avg doc size per batch); 256 measured
    # ~20% faster than 64 on ~3-100KB pages. Giant pages must NOT go through
    # this default — run_extract (jobs/extract_job.py) extracts the giants
    # isolate_giants splits off with maxRecordsPerBatch=4.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "256",
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
