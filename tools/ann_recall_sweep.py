#!/usr/bin/env python
"""Recall-vs-config sweep for the two approximate-nearest-neighbor paths
(r4 verdict #7): IVF-flat over (n_centroids, n_probe) and multi-table
hyperplane LSH over n_tables, each scored against the exact brute-force
top-k on the same embeddings.

Usage:
  python tools/ann_recall_sweep.py [--sf-dir /root/testdata/sf0.1] [--k 5]

Prints one row per operating point: recall@k (fraction of the exact top-k
recovered, averaged over the query sample), candidate-generation cost
proxy (rows scored), and wall seconds — the table a user needs to pick a
production point (published in BENCH.md).
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from ocr_table_extractor_to_csv_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    lsh_topk,
)
from ocr_table_extractor_to_csv_spark.session import get_spark


def _topk_sets(df):
    """{query_id: frozenset(neighbor_id)} from a topk frame."""
    out: dict = {}
    for r in df.collect():
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return out


def recall_at_k(approx: dict, exact: dict, k: int) -> float:
    hits = sum(len(approx.get(q, set()) & nbrs) for q, nbrs in exact.items())
    return hits / (k * len(exact)) if exact else 0.0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--k", type=int, default=5)
    ap.add_argument("--json", default=None, help="optional JSON output path")
    args = ap.parse_args()

    spark = get_spark(app_name="ann-recall-sweep")
    emb = spark.read.parquet(f"{args.sf_dir}/embeddings.parquet")
    n_vecs = emb.count()

    t0 = time.monotonic()
    exact = _topk_sets(brute_force_topk(emb, k=args.k))
    t_exact = time.monotonic() - t0
    print(
        f"# {n_vecs} vectors, {len(exact)} queries, exact brute-force "
        f"baseline {t_exact:.1f}s"
    )

    rows = []

    def trial(label: str, df_builder, **cfg) -> None:
        t = time.monotonic()
        approx = _topk_sets(df_builder())
        sec = time.monotonic() - t
        r = recall_at_k(approx, exact, args.k)
        rows.append({"path": label, **cfg, "recall": round(r, 3), "sec": round(sec, 2)})
        print(f"{label:8s} {cfg} recall@{args.k}={r:.3f}  {sec:.1f}s")

    for n_centroids in (16, 32, 64):
        for n_probe in (2, 4, 8):
            if n_probe > n_centroids:
                continue
            trial(
                "ivf",
                lambda nc=n_centroids, np_=n_probe: ivf_topk(
                    emb, k=args.k, n_centroids=nc, n_probe=np_
                ),
                n_centroids=n_centroids,
                n_probe=n_probe,
            )
    # int8-shortlist variant (r5 verdict #7): same IVF candidates, scored
    # with quantized codes, float re-rank on the top k*refine — the recall
    # DELTA vs float-candidate IVF at the same (nc, np) is the number that
    # tells you whether int8 candidate scoring loses anything
    for n_probe in (4, 8):
        for refine in (2, 4, 8):
            trial(
                "ivf_q8",
                lambda np_=n_probe, rf=refine: ivf_topk(
                    emb, k=args.k, n_centroids=16, n_probe=np_, refine_q8=rf
                ),
                n_centroids=16,
                n_probe=n_probe,
                refine=refine,
            )
    for n_tables in (4, 8, 16):
        trial(
            "lsh",
            lambda nt=n_tables: lsh_topk(emb, k=args.k, n_tables=nt),
            n_tables=n_tables,
        )

    out = {"n_vecs": n_vecs, "k": args.k, "exact_sec": round(t_exact, 2), "rows": rows}
    if args.json:
        Path(args.json).write_text(json.dumps(out, indent=1))
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
