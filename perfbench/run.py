#!/usr/bin/env python3
"""Job-level benchmark of the extraction job.

    python3 perfbench/run.py --workload extract_fresh --seed 1 --seconds 6 --trace 0

Workloads (perfbench/workloads.py): ``extract_fresh`` and
``extract_resume``.  Each run is a closed loop: one batch client submits
one job call at a time to a Spark session at ``local[nproc]`` and waits for
its committed output.

``--trace 0`` measures the end-to-end metrics:

* ``setup_s``     median of three set-ups (session start, landing the
                  seeded input, one warm call);
* ``wall_s``      median job call, from start to committed output; each
                  set-up is followed by timed calls for a third of
                  ``--seconds``, at least two;
* ``items_per_s`` pages committed per second, median over calls;
* ``cpu_s``       user+system CPU of the whole process tree (driver, JVM,
                  Python workers) during a call, median over calls;
* ``peak_rss_mb`` peak resident memory of that tree during a call, median
                  over calls.

``--trace 1`` reports the per-layer metrics instead (perfbench/tracing.py).

Every call's output is checked (perfbench/workloads.py).  The last stdout
line is one JSON object: ``correct``, ``attempted`` (rows the calls were
asked to produce), ``failed`` (error rows plus failed checks) and
``metrics``; the line before it gives ``failed_ratio``.  Per-call arrays go
to ``.perfbench_work/reports/``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# import the benchmark as the ``perfbench`` package, never as top-level
# modules that could shadow the standard library
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]

SETUPS = 3  # set-ups per run; setup_s is their median
# timed calls after each set-up, even past its third of --seconds.  The JVM
# still compiles hot code over the first ten or so calls (a call's CPU time
# falls by a third), so a run whose call count depended on how fast the
# host was would take its median at another point of that slope.
CALLS_PER_SETUP = 2


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def measured_run(bench, job, seconds: float) -> tuple[dict, dict]:
    from perfbench.harness import median_rate
    from perfbench.procstat import TreeSampler

    # each set-up is followed by its share of the timed calls, so the calls
    # sample the whole run: CPU steal on a shared host changes from one
    # half-minute to the next, and calls bunched at the end of a run would
    # all land in the same slow or fast stretch
    setups, walls, cpus, rss = [], [], [], []
    for i in range(SETUPS):
        setups.append(bench.setup(job, bench.procs, f"input-{i}"))
        deadline = time.perf_counter() + seconds / SETUPS
        calls = 0
        while calls < CALLS_PER_SETUP or time.perf_counter() < deadline:
            sampler = TreeSampler()
            walls.append(bench.call(job, sampler)[0])
            cpus.append(sampler.cpu_s)
            rss.append(sampler.peak_rss_mb)
            calls += 1
    metrics = {
        "setup_s": statistics.median(setups),
        "wall_s": statistics.median(walls),
        "items_per_s": median_rate(job.items, walls),
        "cpu_s": statistics.median(cpus),
        "peak_rss_mb": statistics.median(rss),
    }
    arrays = {"items": job.items, "setup_s": setups, "wall_s": walls, "cpu_s": cpus, "peak_rss_mb": rss}
    return metrics, arrays


def main() -> int:
    """Run the benchmark; on every way out, wait for all processes it
    started (the JVM, the worker daemon and its workers) to end."""
    from perfbench import procstat

    args = parse_args()
    procstat.adopt_orphans()
    # a SIGTERM unwinds like an error, through the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        return run(args)
    finally:
        procstat.reap_descendants()


def run(args) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    # imports the package under test: fails in a tree without it
    from perfbench import harness, tracing, workloads

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {workloads.WORKLOADS}")
    procs = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work")
    bench = harness.Bench(work, procs)
    try:
        job = workloads.build(args.workload, args.seed, procs)
        if args.trace:
            metrics, arrays = tracing.traced_run(bench, job, args.seconds)
            declared = spec["per_layer"]
        else:
            metrics, arrays = measured_run(bench, job, args.seconds)
            declared = spec["end_to_end"]
    finally:
        bench.shutdown()

    units = {m["name"]: m["unit"] for m in declared}
    if set(metrics) != set(units):
        raise SystemExit(f"metrics {sorted(metrics)} do not match BENCHMARK.json {sorted(units)}")
    tally = bench.tally
    os.makedirs(os.path.join(work, "reports"), exist_ok=True)
    report = os.path.join(work, "reports", f"{args.workload}-{args.seed}-t{args.trace}.json")
    with open(report, "w") as f:
        json.dump(
            {"workload": args.workload, "seed": args.seed, "cores": procs,
             "metrics": metrics, "arrays": arrays, "failures": tally.failures},
            f,
            indent=1,
        )
    for line in tally.failures:
        print(f"check failed: {line}")
    print(
        f"{args.workload} seed={args.seed} local[{procs}]: failed_ratio="
        f"{tally.failed / max(1, tally.attempted):.6f} ({tally.failed}/{tally.attempted})"
    )
    result = {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {name: {"value": metrics[name], "unit": unit} for name, unit in units.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
