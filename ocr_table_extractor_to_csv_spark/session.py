"""SparkSession factory with scale-appropriate defaults.

Tuned for a pages table whose ``html`` BINARY column is MB-scale: Arrow
batches bounded in rows and in bytes bound Python-worker memory (the real
spill control for a map-only kernel stage), AQE coalesces post-shuffle
partitions, and shuffle partition count matches local cores (overridden on
a real cluster via spark-submit conf).

Two helpers keep the Python worker's fixed cost down:

* ``worker_batches`` wraps every Python batch function a ``mapInArrow`` /
  ``mapInPandas`` stage runs, so a task's end drops the worker's cached zip
  finders;
* ``arrow_batch`` builds every ``mapInArrow`` output batch from Arrow
  buffers.  ``pa.array`` imports pandas on its first call (it checks whether
  its input is a pandas object), 29-36 MB of RSS and 0.2-0.3 s of CPU per
  worker process on CPython 3.11; a stage whose output goes through
  ``arrow_batch`` never loads pandas.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport
from array import array
from datetime import datetime, timedelta, timezone
from itertools import accumulate
from typing import Sequence

import numpy as np
import pyarrow as pa

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


_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)
_MICROSECOND = timedelta(microseconds=1)


def _bits(flags: list) -> pa.Buffer:
    """An Arrow bitmap (least significant bit first) of ``flags``."""
    return pa.py_buffer(np.packbits(np.array(flags, dtype=bool), bitorder="little"))


def _offsets(lengths) -> pa.Buffer:
    """int32 offsets of consecutive values of ``lengths``; a total past
    2**31 - 1 raises ``OverflowError``."""
    return pa.py_buffer(array("i", accumulate(lengths, initial=0)))


def _arrow_array(values: Sequence, typ: pa.DataType) -> pa.Array:
    """``pa.array(values, typ)`` for the types the map stages emit (string,
    binary, int32, bool, timestamp[us] from aware datetimes, and lists of
    them), built from buffers; a value out of its type's range raises
    ``OverflowError``."""
    n = len(values)
    valid = [v is not None for v in values]
    nulls = n - sum(valid)
    buffers = [_bits(valid) if nulls else None]
    children = None
    if pa.types.is_list(typ):
        lists = [() if v is None else v for v in values]
        buffers.append(_offsets(map(len, lists)))
        children = [_arrow_array([x for v in lists for x in v], typ.value_type)]
    elif pa.types.is_string(typ) or pa.types.is_binary(typ):
        encode = pa.types.is_string(typ)
        blobs = [b"" if v is None else v.encode() if encode else v for v in values]
        buffers += [_offsets(map(len, blobs)), pa.py_buffer(b"".join(blobs))]
    elif pa.types.is_int32(typ):
        buffers.append(pa.py_buffer(array("i", [0 if v is None else v for v in values])))
    elif pa.types.is_boolean(typ):
        buffers.append(_bits([bool(v) for v in values]))
    elif pa.types.is_timestamp(typ) and typ.unit == "us":
        micros = [0 if v is None else (v - _EPOCH) // _MICROSECOND for v in values]
        buffers.append(pa.py_buffer(array("q", micros)))
    else:
        raise TypeError(f"arrow_batch: unsupported type {typ}")
    return pa.Array.from_buffers(typ, n, buffers, nulls, children=children)


def arrow_batch(columns: Sequence[Sequence], schema: pa.Schema) -> pa.RecordBatch:
    """The record batch of ``columns`` (Python values, one sequence per
    field of ``schema``, in its order), equal to
    ``pa.RecordBatch.from_arrays([pa.array(c, f.type) ...], schema=schema)``
    but assembled from Arrow buffers, so the worker never imports pandas."""
    if len(columns) != len(schema):
        raise ValueError(f"arrow_batch: {len(columns)} columns for {len(schema)} fields")
    return pa.RecordBatch.from_arrays(
        [_arrow_array(c, f.type) for c, f in zip(columns, schema)], schema=schema
    )
