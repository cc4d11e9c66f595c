"""Worker-side tracing of the extraction kernel.

A driver-side patch does not reach the Python workers, so the traced run
replaces ``operators.extract.make_extract_fn`` on the driver with
``traced_extract_fn(side_dir)``.  The function it builds is shipped to the
workers like the original; on each task it wraps the kernel stage functions
in the worker process, runs the original ``make_extract_fn`` closure batch by
batch, restores the stage functions, and writes the task's sums as one JSON
file under ``side_dir``.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections import defaultdict

# kernel.extract names that implement layout reconstruction
LAYOUT_FNS = (
    "assign_dynamic",
    "assign_financial_three_columns",
    "assign_words_to_columns",
    "build_professional_grid",
    "detect_header_row",
    "estimate_columns",
    "infer_numeric_columns",
    "merge_financial_rows",
    "merge_lines_into_rows",
    "postprocess_financial",
    "resolve_dynamic_header",
)


class KernelTrace:
    """Self time per kernel stage, and the duration of every document."""

    def __init__(self) -> None:
        self.self_s: dict[str, float] = defaultdict(float)
        self.doc_s: list[float] = []
        self.tokens = 0
        self._stack: list[float] = []  # time covered by children, per open span

    def wrap(self, stage: str, fn):
        stack, self_s = self._stack, self.self_s

        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            stack.append(0.0)
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                self_s[stage] += dt - stack.pop()
                if stack:
                    stack[-1] += dt

        return timed

    def wrap_document(self, fn):
        stack = self._stack

        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            stack.append(0.0)
            try:
                res = fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                self.self_s["document"] += dt - stack.pop()
                self.doc_s.append(dt)
            self.tokens += res.n_tokens
            return res

        return timed

    def install(self):
        """Wrap the stage functions in this process; returns the undo."""
        from ocr_table_extractor_to_csv_spark.kernel import boilerplate, layouts
        from ocr_table_extractor_to_csv_spark.kernel import extract as kx
        from ocr_table_extractor_to_csv_spark.operators import extract as ox

        targets = [
            (kx, "parse_dom", "parse_dom"),
            (kx, "scan_tokens_from_dom", "scan_tokens"),
            (kx, "build_lines", "build_lines"),
            *[(kx, name, "layout") for name in LAYOUT_FNS],
            # imported inside extract_document at call time
            (layouts, "compute_line_spans", "layout"),
            (boilerplate, "extract_html_document", "html"),
            (kx, "csv_bytes", "export"),
            (kx, "csv_bytes_numeric", "export"),
            (kx, "empty_csv_bytes", "export"),
            (boilerplate, "csv_bytes", "export"),
        ]
        saved = [(mod, name, getattr(mod, name)) for mod, name, _ in targets]
        saved.append((ox, "extract_document", ox.extract_document))
        for mod, name, stage in targets:
            setattr(mod, name, self.wrap(stage, getattr(mod, name)))
        ox.extract_document = self.wrap_document(ox.extract_document)

        def undo() -> None:
            for mod, name, fn in saved:
                setattr(mod, name, fn)

        return undo


def run_task(batches, default_layout, default_args, side_dir: str):
    """The traced body of one extraction task (a generator of batches)."""
    import pyarrow.compute as pc

    from ocr_table_extractor_to_csv_spark.operators import extract as ox

    trace = KernelTrace()
    extract = ox.make_extract_fn(default_layout, default_args)
    undo = trace.install()
    n_batches = rows = html_bytes = 0
    py_batch_s = 0.0
    try:
        for batch in batches:
            t0 = time.perf_counter()
            out = next(extract(iter([batch])))
            py_batch_s += time.perf_counter() - t0
            n_batches += 1
            rows += batch.num_rows
            html_bytes += pc.sum(pc.binary_length(batch.column("html"))).as_py() or 0
            yield out
    finally:
        undo()
    record = {
        "batches": n_batches,
        "rows": rows,
        "html_bytes": html_bytes,
        "py_batch_s": py_batch_s,
        "doc_s": trace.doc_s,
        "tokens": trace.tokens,
        "self_s": dict(trace.self_s),
    }
    path = os.path.join(side_dir, f"{os.getpid()}-{uuid.uuid4().hex}.json")
    with open(path, "w") as f:
        json.dump(record, f)


def traced_extract_fn(side_dir: str):
    """A drop-in for ``operators.extract.make_extract_fn``."""

    def make_extract_fn(default_layout: str = "auto", default_args=None):
        def traced_batches(batches):
            return run_task(batches, default_layout, default_args, side_dir)

        return traced_batches

    return make_extract_fn
