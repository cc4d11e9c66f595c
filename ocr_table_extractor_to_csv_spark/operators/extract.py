"""The extraction operator: pages DataFrame -> extracted DataFrame.

One Arrow-batched map stage wraps the whole per-document kernel
(SURVEY.md §2.9).  Implementation uses ``mapInArrow`` rather than
``mapInPandas``: the kernel consumes raw bytes/strings, so skipping the
pandas block-manager conversion on both sides of the Arrow boundary is a
measured ~35% throughput win at 32 cores with zero semantic difference.

Scale design:
  * upstream, select only (url, html [, layout, args]) — Catalyst prunes the
    remaining page columns out of the parquet/Iceberg scan;
  * parquet/Iceberg scans split by BYTES (maxPartitionBytes), which is
    already size-aware partitioning for a bytes-proportional kernel — do NOT
    add a blanket repartition (a full shuffle of the html payload costs ~30%
    end to end; measured).  The pathological tail is split off by
    plans.partitioning.isolate_giants and fanned out over the cores in the
    same write (see jobs/extract_job.run_extract);
  * worker memory: the session bounds every Arrow batch by bytes as well as
    rows (session.DEFAULT_CONF), so giant pages arrive a few per batch
    without a separate batch-size setting;
  * per-row try/except: a malformed document yields an ``error`` row, never
    a task failure (at 10^12 docs, something is always malformed);
  * lineage columns (partition_id, task_attempt) are stamped in-kernel via
    TaskContext so manifests aggregate with a plain groupBy afterwards;
  * per-task worker cost: the kernel runs under ``session.worker_batches``,
    which drops the worker's cached zip finders when a task ends, so the
    next task's ``importlib.invalidate_caches()`` does not re-read
    pyspark.zip on CPython 3.10-3.12 (90-170 ms per task with 4 tasks in
    flight on 4 vCPUs).
"""

from __future__ import annotations

import json
from typing import Iterable, Iterator, Optional, Union

import pyarrow as pa

from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..kernel import extract_document
from ..kernel.extract import ExtractResult
from ..session import worker_batches

EXTRACTED_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("layout", StringType()),
        StructField("csv", BinaryType()),
        StructField("csv_numeric", BinaryType()),
        StructField("main_text", StringType()),
        StructField("n_rows", IntegerType()),
        StructField("n_cols", IntegerType()),
        StructField("header", ArrayType(StringType())),
        StructField("n_tokens", IntegerType()),
        StructField("n_lines", IntegerType()),
        StructField("is_hocr", BooleanType()),
        StructField("error", StringType()),
        StructField("html_bytes", IntegerType()),
        StructField("partition_id", IntegerType()),
        StructField("task_attempt", IntegerType()),
    ]
)

_ARROW_SCHEMA = to_arrow_schema(EXTRACTED_SCHEMA)
# the columns copied from ExtractResult; the wrapper stamps the other four
_STAMPED = ("url", "html_bytes", "partition_id", "task_attempt")
_RESULT_FIELDS = [f for f in _ARROW_SCHEMA.names if f not in _STAMPED]


def _kernel_args(args: Optional[dict]) -> dict:
    """The kernel keyword arguments, ``table_bbox`` as the tuple it expects."""
    args = dict(args or {})
    if args.get("table_bbox") is not None:
        args["table_bbox"] = tuple(args["table_bbox"])
    return args


def _parse_args(raw: Optional[str]) -> Union[dict, str]:
    """A row's args JSON as kernel keyword arguments, or, when it is not a
    usable JSON object, the ``args: ...`` message its error row carries."""
    if not raw:
        return {}
    try:
        args = json.loads(raw)
        if not isinstance(args, dict):
            raise TypeError(f"expected a JSON object, got {type(args).__name__}")
        return _kernel_args(args)
    except (ValueError, TypeError) as exc:
        return f"args: {type(exc).__name__}: {exc}"


def _extract_one(html: bytes, layout: Optional[str], args: Union[dict, str]) -> ExtractResult:
    """One document; unparseable args or a kernel exception becomes the
    result's ``error``."""
    if isinstance(args, str):
        return ExtractResult(layout=str(layout), error=args)
    try:
        return extract_document(html, layout=layout or "auto", **args)
    except Exception as exc:
        return ExtractResult(layout=str(layout), error=f"{type(exc).__name__}: {exc}")


def make_extract_fn(default_layout: str = "auto", default_args: Optional[dict] = None):
    """Build the mapInArrow kernel. Input batches need columns (url, html)
    and optionally (layout, args) for per-row dispatch."""
    base_args = _kernel_args(default_args)

    def extract_batches(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx else -1
        attempt = ctx.attemptNumber() if ctx else -1
        for batch in batches:
            names = batch.schema.names
            n = batch.num_rows
            htmls = [h or b"" for h in batch.column("html").to_pylist()]
            layouts = (
                batch.column("layout").to_pylist() if "layout" in names else [default_layout] * n
            )
            argss = (
                [_parse_args(a) for a in batch.column("args").to_pylist()]
                if "args" in names
                else [base_args] * n
            )
            results = [_extract_one(*row) for row in zip(htmls, layouts, argss)]
            cols = {f: [getattr(r, f) for r in results] for f in _RESULT_FIELDS}
            cols["url"] = batch.column("url").to_pylist()
            cols["html_bytes"] = [len(h) for h in htmls]
            cols["partition_id"] = [pid] * n
            cols["task_attempt"] = [attempt] * n
            yield pa.RecordBatch.from_arrays(
                [pa.array(cols[f.name], f.type) for f in _ARROW_SCHEMA],
                schema=_ARROW_SCHEMA,
            )

    return extract_batches


def extract_pages(
    pages: DataFrame, layout: str = "auto", per_row_dispatch: bool = False
) -> DataFrame:
    """Declarative entry: prune columns, then one map stage.

    ``per_row_dispatch=True`` expects ``layout``/``args`` columns on the
    input (e.g. the fixtures table) instead of one global ``layout`` with
    default kernel arguments — the Spark analogue of the reference CLI's
    per-invocation arguments.
    """
    cols = ["url", "html"] + (["layout", "args"] if per_row_dispatch else [])
    pruned = pages.select(*cols)
    return pruned.mapInArrow(
        worker_batches(make_extract_fn(layout)),
        EXTRACTED_SCHEMA,
    )
