"""Host-graph centrality for domain-level quality weighting.

Web-curation pipelines weight training sources by crawl-graph centrality
(Common Crawl publishes host-level web graphs and ranks exactly for this);
``pagerank`` implements the fixed-iteration damped PageRank over a
(src, dst) host edge list as a sequence of DataFrame joins + aggregations.

Why FIXED-POINT integer arithmetic instead of doubles: a distributed
float sum is non-associative — at 1,000 executors the per-partition
addition ORDER changes run to run, so float PageRank is not even
self-reproducible, let alone cross-engine comparable.  All rank math here
is BIGINT in units of ``1/PAGERANK_SCALE`` (1e-12): integer sums are exact
and order-free, and integer floor-division is identical in Spark (``div``)
and DuckDB (``//``) for non-negative operands, so the operator is
bit-exact on any partitioning, any retry, and against the SQL oracle.

Divergences from textbook PageRank, both deliberate and documented:

* dangling mass (nodes with no out-edges) is DROPPED, not redistributed —
  the common one-pass simplification; ranks still order identically for
  graphs whose dangling fraction is small (host graphs: ~0);
* per-edge shares floor instead of round, so total mass decays by
  < n_nodes ulps per iteration — deterministic in both engines.

No reference analogue (the reference has no graph surface); the CC
connected-components iteration in ``operators/dedup.py`` is this module's
sibling — same iterate-join-aggregate shape, and for iteration counts
beyond ~5 the same parquet-round-trip durability pattern applies (here 3
iterations chain in one lineage, which Spark handles fine).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.scope import RunScope

PAGERANK_SCALE = 10**12
PAGERANK_DAMPING_NUM = 85  # damping = 85 / 100
PAGERANK_DAMPING_DEN = 100
PAGERANK_ITERS = 3  # damped iterations per pagerank call
LINK_HOSTS = 97  # hosts of the synthetic link graph
HOST_LINKS = ((31, 7), (17, 3))  # (mul, add): out-link to (doc_id*mul+add) % hosts


def host_link_graph(documents: DataFrame) -> DataFrame:
    """Deterministic synthetic host link graph for tests/benchmarks (the
    documents table carries no link data): every doc lives on host
    ``doc_id % LINK_HOSTS`` and emits one out-link per ``HOST_LINKS``
    pair, to host ``(doc_id*mul+add) % LINK_HOSTS`` — pure column
    expressions the SQL oracle reproduces byte-for-byte (the
    ``with_synth_url`` convention).  Multi-edges are intentional: the
    aggregated edge weight exercises weighted PageRank."""
    src = (F.col("doc_id") % LINK_HOSTS).alias("src")
    links = [
        documents.select(src, ((F.col("doc_id") * mul + add) % LINK_HOSTS).alias("dst"))
        for mul, add in HOST_LINKS
    ]
    return reduce(DataFrame.unionByName, links)


def pagerank(edges: DataFrame, *, scope: RunScope) -> DataFrame:
    """Fixed-point damped PageRank over a (src, dst) edge list; returns
    (node, rank_fp) with ``rank_fp`` in units of ``1/scale``
    (``PAGERANK_SCALE``).

    ``PAGERANK_ITERS`` iterations, each: ``share(src) = (rank *
    damping_num) div (damping_den * out_weight)`` (``PAGERANK_DAMPING_NUM`` /
    ``PAGERANK_DAMPING_DEN``), each edge carries ``share * weight`` to
    its dst, and ``rank' = base + sum(carried)`` with
    ``base = (scale * (damping_den - damping_num)) div (damping_den * n)``.
    All BIGINT (see module docstring for why).

    Scale shape: edge weights and out-degrees are ONE groupBy each,
    computed once and persisted; every iteration is one equi-join of the
    (n_nodes)-row rank table against the edge table on ``src`` + one
    groupBy(dst) with map-side partial aggregation + one left join back
    to nodes.  The rank table is tiny relative to edges (hosts ~1e8 vs
    edges ~1e10 at crawl scale) so AQE broadcasts it when it fits and
    falls back to sort-merge when it doesn't; nothing in the loop
    collects to the driver except the one up-front node count (a single
    scalar, same class as the Bloom bitmap collect).

    ``PAGERANK_ITERS`` must be a positive Python int (checked).

    The edge/node tables and every iteration's rank frame are persisted
    through ``scope`` (see ``plans.scope.RunScope``); intermediate rank
    frames are released as the loop advances, the rest when the scope
    closes.
    """
    iterations = PAGERANK_ITERS
    if not isinstance(iterations, int) or isinstance(iterations, bool) or iterations <= 0:
        raise ValueError("pagerank iterations must be a positive int")
    ew = edges.groupBy("src", "dst").agg(F.count("*").cast("long").alias("w"))
    outw = ew.groupBy("src").agg(F.sum("w").cast("long").alias("out_w"))
    nodes = (
        ew.select(F.col("src").alias("node"))
        .unionByName(ew.select(F.col("dst").alias("node")))
        .distinct()
    )
    ew_out = scope.persist(ew.join(outw, "src"))
    nodes = scope.persist(nodes)
    n = nodes.count()  # the loop's only driver scalar
    if n == 0:
        raise ValueError("pagerank: empty edge list (no nodes)")
    num, den = PAGERANK_DAMPING_NUM, PAGERANK_DAMPING_DEN
    base = (PAGERANK_SCALE * (den - num)) // (den * n)
    share_expr = F.expr(f"(rank_fp * {num}) div ({den} * out_w)")

    ranks = nodes.withColumn("rank_fp", F.lit(PAGERANK_SCALE // n).cast("long"))
    prev = None
    for _ in range(iterations):
        carried = (
            ew_out.join(ranks.withColumnRenamed("node", "src"), "src")
            .select("dst", (share_expr * F.col("w")).alias("carry"))
            .groupBy("dst")
            .agg(F.sum("carry").cast("long").alias("c"))
        )
        ranks = scope.persist(
            nodes.join(carried.withColumnRenamed("dst", "node"), "node", "left")
            .select(
                "node",
                (F.lit(base).cast("long") + F.coalesce(F.col("c"), F.lit(0)))
                .cast("long")
                .alias("rank_fp"),
            )
        )
        if prev is not None:
            prev.unpersist()
        prev = ranks
    scope.note("pagerank", nodes=n, iterations=iterations)
    return ranks
