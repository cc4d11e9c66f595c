"""Dataset-builder operator: pages -> LayoutLM training examples (JSONL).

Distributed analogue of the reference's dataset CLI (dataset_cli.py:70-215 +
dataset_builder.py:167-265): one mapInArrow stage builds labeled examples;
``df.write.json(path)`` is the S9 JSONL sink (SURVEY.md §2.1)."""

from __future__ import annotations

from typing import Iterable, Iterator, Optional

import pyarrow as pa

from pyspark.sql import DataFrame

from ..kernel.dataset import build_layoutlm_example
from ..session import worker_batches

EXAMPLE_SCHEMA = (
    "url string, words array<string>, bboxes array<array<int>>, "
    "labels array<string>, row_ids array<int>, col_ids array<int>, "
    "is_header array<boolean>, table_header array<string>, "
    "table_rows array<array<string>>, n_columns int, header_index int, "
    "error string"
)

_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("words", pa.list_(pa.string())),
        ("bboxes", pa.list_(pa.list_(pa.int32()))),
        ("labels", pa.list_(pa.string())),
        ("row_ids", pa.list_(pa.int32())),
        ("col_ids", pa.list_(pa.int32())),
        ("is_header", pa.list_(pa.bool_())),
        ("table_header", pa.list_(pa.string())),
        ("table_rows", pa.list_(pa.list_(pa.string()))),
        ("n_columns", pa.int32()),
        ("header_index", pa.int32()),
        ("error", pa.string()),
    ]
)


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
