#!/usr/bin/env python
"""Interleaved timing of driver-bench queries (BENCH.md protocol).

Run in one solo session, never next to pytest or another bench.  Each
query gets 2 warm passes, then N round-robin trials, so a slow minute on
a drifting host hits every query alike.  Prints per-query trial arrays
and medians as JSON.

    python tools/query_ab.py [--sf-dir DIR] [--trials 5] [--queries NAME ...]
"""

import argparse
import json
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

QUERIES = ["extract_corpus", "dedup_clusters", "decontaminate"]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--trials", type=int, default=5)
    ap.add_argument("--queries", nargs="*", default=QUERIES)
    args = ap.parse_args()

    import bench
    import __spark_entry__ as entry_mod

    spark = bench._spark(bench.CPUS)
    reg = entry_mod.queries()
    if "extract_corpus" in args.queries:
        bench.materialize_corpus(
            spark, args.sf_dir, bench.CORPUS_DIR, bench.FIXTURE_SCALE,
            bench.REPLICAS,
        )

    def run(name: str) -> float:
        if name == "extract_corpus":
            # use the harness's own timing (excludes the setup count())
            return bench.bench_extraction(
                spark, bench.CORPUS_DIR, warm_passes=0, trials=1
            )["seconds"]
        t0 = time.perf_counter()
        bench._force(reg[name](spark, args.sf_dir))
        return time.perf_counter() - t0

    for name in args.queries:  # warm: 2 passes each (JIT + cache)
        for _ in range(2):
            run(name)

    trials: dict[str, list[float]] = {q: [] for q in args.queries}
    for _ in range(args.trials):  # round-robin so weather hits all equally
        for name in args.queries:
            trials[name].append(round(run(name), 3))

    out = {
        q: {"trials": ts, "median": round(statistics.median(ts), 3)}
        for q, ts in trials.items()
    }
    print(json.dumps(out, indent=2))
    spark.stop()


if __name__ == "__main__":
    main()
