"""Dataset-builder operator: pages -> LayoutLM training examples (JSONL).

Distributed analogue of the reference's dataset CLI (dataset_cli.py:70-215 +
dataset_builder.py:167-265): one mapInArrow stage builds labeled examples;
``df.write.json(path)`` is the S9 JSONL sink (SURVEY.md §2.1)."""

from __future__ import annotations

from typing import Iterable, Iterator, Optional

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..kernel.dataset import build_layoutlm_example
from ..session import worker_batches

EXAMPLE_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("words", ArrayType(StringType())),
        StructField("bboxes", ArrayType(ArrayType(IntegerType()))),
        StructField("labels", ArrayType(StringType())),
        StructField("row_ids", ArrayType(IntegerType())),
        StructField("col_ids", ArrayType(IntegerType())),
        StructField("is_header", ArrayType(BooleanType())),
        StructField("table_header", ArrayType(StringType())),
        StructField("table_rows", ArrayType(ArrayType(StringType()))),
        StructField("n_columns", IntegerType()),
        StructField("header_index", IntegerType()),
        StructField("error", StringType()),
    ]
)

_ARROW = to_arrow_schema(EXAMPLE_SCHEMA)


def build_examples(
    pages: DataFrame,
    expected_n_cols: Optional[int] = None,
    header_regexes=None,
    max_columns: int = 6,
    table_bbox=None,
) -> DataFrame:
    bbox = tuple(table_bbox) if table_bbox else None

    def fn(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            urls = b.column("url").to_pylist()
            htmls = b.column("html").to_pylist()
            rows = []
            for u, h in zip(urls, htmls):
                try:
                    ex = build_layoutlm_example(
                        h or b"",
                        url=u,
                        table_bbox=bbox,
                        expected_n_cols=expected_n_cols,
                        header_regexes=header_regexes,
                        max_columns=max_columns,
                    )
                    ex["error"] = None
                except Exception as exc:
                    ex = {f.name: None for f in _ARROW}
                    ex["url"] = u
                    ex["error"] = f"{type(exc).__name__}: {exc}"
                rows.append(ex)
            yield pa.RecordBatch.from_arrays(
                [pa.array([r[f.name] for r in rows], f.type) for f in _ARROW],
                schema=_ARROW,
            )

    return pages.select("url", "html").mapInArrow(worker_batches(fn), EXAMPLE_SCHEMA)
