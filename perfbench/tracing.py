"""The traced run: spans around calls into the package, kernel stage times
from the workers (perfbench/trace_worker.py), and the Spark event log.

``Spans`` patches module attributes for the duration of one traced job call
and records ``(name, start, end)`` wall-clock spans.  A span opened with
``label_jobs`` also tags the Spark jobs its thread submits (a thread-local
Spark property), so the jobs of each extraction pass can be told apart.

``EventLog`` reads the JSON event log Spark writes when
``spark.eventLog.enabled`` is set, and sums task metrics over the jobs a
call submitted.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time

LABEL = "perfbench.span"


class Spans:
    def __init__(self, sc):
        self.sc = sc
        self.records: list[tuple[str, float, float]] = []

    def timed(self, name, fn, label_jobs: bool = False):
        sc, records = self.sc, self.records

        def wrapper(*args, **kwargs):
            span = name(*args, **kwargs) if callable(name) else name
            t0 = time.time()
            if label_jobs:
                sc.setLocalProperty(LABEL, span)
            try:
                return fn(*args, **kwargs)
            finally:
                if label_jobs:
                    sc.setLocalProperty(LABEL, None)
                records.append((span, t0, time.time()))

        return wrapper

    @contextlib.contextmanager
    def patched(self, targets):
        """``targets``: (module, attribute, span name or namer, label_jobs)."""
        saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _, _ in targets]
        try:
            for mod, attr, name, label_jobs in targets:
                setattr(mod, attr, self.timed(name, getattr(mod, attr), label_jobs))
            yield self
        finally:
            for mod, attr, fn in saved:
                setattr(mod, attr, fn)

    def total(self, name: str) -> float:
        return sum(t1 - t0 for n, t0, t1 in self.records if n == name)

    def end(self, name: str) -> float | None:
        ends = [t1 for n, _, t1 in self.records if n == name]
        return max(ends) if ends else None


class EventLog:
    """Jobs and task metrics from a Spark JSON event log directory."""

    def __init__(self, event_dir: str):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        for path in sorted(glob.glob(os.path.join(event_dir, "*"))):
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = ev["Job ID"]
            self.jobs[job] = {
                "submit": ev["Submission Time"] / 1000.0,
                "label": (ev.get("Properties") or {}).get(LABEL),
            }
            for stage in ev["Stage IDs"]:
                self.stage_job[stage] = job
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            self.tasks.append(
                {
                    "stage": ev["Stage ID"],
                    "run_s": m.get("Executor Run Time", 0) / 1000.0,
                    "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                    "shuffle_bytes": sw.get("Shuffle Bytes Written", 0)
                    + sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    "spill_bytes": m.get("Disk Bytes Spilled", 0),
                    "input_records": (m.get("Input Metrics") or {}).get("Records Read", 0),
                }
            )

    def window(self, t0: float, t1: float) -> "CallEvents":
        jobs = {j: v for j, v in self.jobs.items() if t0 <= v["submit"] <= t1}
        tasks = [
            dict(t, job=self.stage_job[t["stage"]])
            for t in self.tasks
            if self.stage_job.get(t["stage"]) in jobs
        ]
        return CallEvents(jobs, tasks)


class CallEvents:
    """The jobs submitted during one call, and their tasks."""

    def __init__(self, jobs: dict[int, dict], tasks: list[dict]):
        self.jobs = jobs
        self.tasks = tasks

    def labelled(self, label: str) -> "CallEvents":
        jobs = {j: v for j, v in self.jobs.items() if v["label"] == label}
        return CallEvents(jobs, [t for t in self.tasks if t["job"] in jobs])

    def sum(self, key: str) -> float:
        return sum(t[key] for t in self.tasks)

    def skew(self) -> float:
        """max/median task run time of the stage that ran longest in total."""
        by_stage: dict[int, list[float]] = {}
        for t in self.tasks:
            by_stage.setdefault(t["stage"], []).append(t["run_s"])
        if not by_stage:
            return 0.0
        runs = max(by_stage.values(), key=sum)
        med = statistics.median(runs)
        return max(runs) / med if med > 0 else 0.0


def read_side_files(side_dir: str) -> list[dict]:
    out = []
    for path in glob.glob(os.path.join(side_dir, "*.json")):
        with open(path) as f:
            out.append(json.load(f))
    return out


def _quantile(values: list[float], q: int) -> float:
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


class TracedCall:
    """Context manager around one traced job call: driver spans on the
    package calls the jobs make, kernel tracing in the workers, and the
    wall-clock window that selects the call's Spark jobs."""

    def __init__(self, sc, side_dir: str):
        self.spans = Spans(sc)
        self.side_dir = side_dir
        self.t0 = self.t1 = 0.0
        self._stack = contextlib.ExitStack()

    def __enter__(self) -> "TracedCall":
        import jobs.extract_job as xj
        from ocr_table_extractor_to_csv_spark.operators import extract as ox

        from perfbench.trace_worker import traced_extract_fn

        os.makedirs(self.side_dir, exist_ok=True)
        self._stack.enter_context(
            self.spans.patched(
                [
                    (xj, "read_progress", "resume.read_progress", False),
                    (xj, "write_batch", lambda *a, sub="all", **k: f"resume.write_{sub}", True),
                    (xj, "commit_progress", "resume.commit", True),
                ]
            )
        )
        saved = ox.make_extract_fn
        ox.make_extract_fn = traced_extract_fn(self.side_dir)
        self._stack.callback(setattr, ox, "make_extract_fn", saved)
        self.t0 = time.time()
        return self

    def __exit__(self, *exc) -> None:
        self.t1 = time.time()
        self._stack.close()


def call_layers(call: TracedCall, events: EventLog, wall: float, outcome, cores: int) -> dict:
    """Per-layer metrics of one traced call."""
    ev = events.window(call.t0, call.t1)
    side = read_side_files(call.side_dir)
    spans = call.spans

    def stage(name: str) -> float:
        return sum(t["self_s"].get(name, 0.0) for t in side)

    doc_s = [d for t in side for d in t["doc_s"]]
    py = sum(t["py_batch_s"] for t in side)
    batches = sum(t["batches"] for t in side)
    task_run = ev.sum("run_s")
    # the two extraction passes scan the pages inside write_batch
    scanned = sum(ev.labelled(f"resume.write_{sub}").sum("input_records") for sub in ("small", "giant"))
    commit_end = spans.end("resume.commit")
    return {
        "kernel.parse_dom_s": stage("parse_dom"),
        "kernel.scan_tokens_s": stage("scan_tokens"),
        "kernel.build_lines_s": stage("build_lines"),
        "kernel.layout_s": stage("layout"),
        "kernel.html_s": stage("html"),
        "kernel.export_s": stage("export"),
        "kernel.doc_s": sum(doc_s),
        "kernel.docs": len(doc_s),
        "kernel.tokens": sum(t["tokens"] for t in side),
        "kernel.doc_p50_ms": _quantile(doc_s, 50) * 1e3,
        "kernel.doc_p99_ms": _quantile(doc_s, 99) * 1e3,
        "extract.batches": batches,
        "extract.html_bytes": sum(t["html_bytes"] for t in side),
        "extract.rows_per_batch": sum(t["rows"] for t in side) / batches if batches else 0.0,
        "extract.py_batch_s": py,
        "extract.wrapper_s": py - sum(doc_s),
        "extract.jvm_s": task_run - py,
        "extract.idle_core_s": cores * wall - task_run,
        "extract.task_skew": ev.labelled("resume.write_small").skew(),
        "resume.read_progress_s": spans.total("resume.read_progress"),
        "resume.write_small_s": spans.total("resume.write_small"),
        "resume.write_giant_s": spans.total("resume.write_giant"),
        "resume.commit_s": spans.total("resume.commit"),
        "lineage.manifests_s": call.t1 - commit_end if commit_end else 0.0,
        "partitioning.giant_pages": outcome.giant_rows,
        "resume.useful_ratio": len(doc_s) / scanned if scanned else 0.0,
        "spark.jobs": len(ev.jobs),
        "spark.tasks": len(ev.tasks),
        "spark.gc_s": ev.sum("gc_s"),
        "spark.shuffle_bytes": ev.sum("shuffle_bytes"),
        "spark.spill_bytes": ev.sum("spill_bytes"),
    }


SCANS = 3  # noop scans of the landed input
MIN_TRACED_CALLS = 4  # calls per traced run, half of them traced, even past --seconds


def traced_run(bench, job, seconds: float) -> tuple[dict, dict]:
    """Untraced and traced calls in ABBA order for ``seconds`` (at least
    ``MIN_TRACED_CALLS``), then noop scans of the input and the weak-scaling
    base.  Each per-layer metric is its median over the traced calls."""
    from perfbench.harness import median_rate

    event_dir = bench.path("events")
    bench.setup(job, bench.procs, "input", event_dir)
    sc = bench.spark.sparkContext
    traced, plain = [], []
    deadline = time.perf_counter() + seconds
    i = 0
    while i < MIN_TRACED_CALLS or time.perf_counter() < deadline:
        if i % 4 in (1, 2):
            call = TracedCall(sc, bench.path(f"side-{i}"))
            wall, outcome = bench.call(job, call)
            traced.append((call, wall, outcome))
        else:
            plain.append(bench.call(job)[0])
        i += 1

    scans = []
    source = bench.spark.read.parquet(job.source_dir)
    for _ in range(SCANS):
        t0 = time.perf_counter()
        source.write.format("noop").mode("overwrite").save()
        scans.append(time.perf_counter() - t0)
    bench.stop()  # completes the event log
    low, low_rate, low_walls = bench.low_level_rate(job)

    events = EventLog(event_dir)
    per_call = [call_layers(c, events, w, o, bench.procs) for c, w, o in traced]
    walls = [w for _, w, _ in traced]
    layers = {k: statistics.median(m[k] for m in per_call) for k in per_call[0]}
    layers["sources.scan_s"] = statistics.median(scans)
    layers["trace.overhead_s"] = statistics.median(walls) - statistics.median(plain)
    layers["scaling.eff"] = (median_rate(job.items, plain) / bench.procs) / (low_rate / low)
    arrays = {
        "items": job.items,
        "traced_wall_s": walls,
        "untraced_wall_s": plain,
        "scan_s": scans,
        "low_cores": low,
        "low_wall_s": low_walls,
        "traced_calls": per_call,
    }
    return layers, arrays
