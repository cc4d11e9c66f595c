"""Hand-derived and property checks for the fixed-point PageRank operator.

The operator's whole claim is BIT-exactness: integer rank units make the
result independent of partitioning, task order, and engine.  So every test
here compares against either a hand-derived closed form or an exact
pure-Python integer re-implementation — no tolerances anywhere.
"""

from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from ocr_table_extractor_to_csv_spark.operators import graph
from ocr_table_extractor_to_csv_spark.operators.graph import (
    PAGERANK_SCALE,
    host_link_graph,
    pagerank,
)
from ocr_table_extractor_to_csv_spark.plans.scope import RunScope


def _pyrank(edges, iterations=3, dn=85, dd=100, scale=PAGERANK_SCALE):
    """Exact pure-Python twin of operators.graph.pagerank (floor division
    everywhere; dangling mass dropped; per-edge flooring)."""
    ew = {}
    for s, d in edges:
        ew[(s, d)] = ew.get((s, d), 0) + 1
    outw = {}
    for (s, _d), w in ew.items():
        outw[s] = outw.get(s, 0) + w
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    n = len(nodes)
    base = (scale * (dd - dn)) // (dd * n)
    rank = {v: scale // n for v in nodes}
    for _ in range(iterations):
        carry = {}
        for (s, d), w in ew.items():
            share = (rank[s] * dn) // (dd * outw[s])
            carry[d] = carry.get(d, 0) + share * w
        rank = {v: base + carry.get(v, 0) for v in nodes}
    return rank


def _run(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    with RunScope(spark) as scope:
        return {r["node"]: r["rank_fp"] for r in pagerank(df, scope=scope).collect()}


def test_two_node_cycle_is_a_fixed_point(spark, monkeypatch):
    # 0->1, 1->0: symmetric, so rank stays exactly scale/2 every iteration
    # (base 75e9 + carried (scale/2*85)//100 = 425e9 = 500e9).
    for iters in (1, 3):
        monkeypatch.setattr(graph, "PAGERANK_ITERS", iters)
        got = _run(spark, [(0, 1), (1, 0)])
        assert got == {0: PAGERANK_SCALE // 2, 1: PAGERANK_SCALE // 2}


def test_star_and_multiedge_match_python_reference_exactly(spark):
    # hub 0 -> {1,2,3}, a doubled edge 1->0 (weight 2 via multi-edge),
    # 2->3; node 3 dangling (its mass drops — spec'd divergence).
    edges = [(0, 1), (0, 2), (0, 3), (1, 0), (1, 0), (2, 3)]
    got = _run(spark, edges)
    assert got == _pyrank(edges, iterations=3)
    # dangling drop: total mass strictly below scale but positive
    assert 0 < sum(got.values()) < PAGERANK_SCALE


def test_partitioning_invariance_bit_exact(spark):
    # the exactness claim: identical output (not approximately — ==) on
    # 1-partition vs 7-partition input with different row orders
    edges = [(i % 11, (i * 31 + 7) % 11) for i in range(200)] + [
        (i % 11, (i * 17 + 3) % 11) for i in range(200)
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    with RunScope(spark) as scope:
        a = {r["node"]: r["rank_fp"] for r in pagerank(df.coalesce(1), scope=scope).collect()}
        b = {
            r["node"]: r["rank_fp"]
            for r in pagerank(df.repartition(7, "dst"), scope=scope).collect()
        }
    assert a == b == _pyrank(edges)


def test_concurrent_calls_share_no_state(spark):
    # two graphs ranked at once from two driver threads, each call owning
    # its scope: both exact, and nothing stays persisted once both close
    graphs = [
        [(i % 11, (i * 31 + 7) % 11) for i in range(200)],
        [(0, 1), (0, 2), (0, 3), (1, 0), (1, 0), (2, 3)],
    ]
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persisted().keySet())  # other tests share the session
    with ThreadPoolExecutor(max_workers=2) as pool:
        got = list(pool.map(lambda edges: _run(spark, edges), graphs))
    assert got == [_pyrank(edges) for edges in graphs]
    assert set(persisted().keySet()) <= before


def test_host_link_graph_shape(spark, monkeypatch):
    monkeypatch.setattr(graph, "LINK_HOSTS", 13)
    docs = spark.range(0, 300).select(F.col("id").alias("doc_id"))
    e = host_link_graph(docs)
    assert e.columns == ["src", "dst"]
    assert e.count() == 600  # two out-links per doc, multi-edges kept
    mx = e.agg(F.max("src"), F.max("dst")).first()
    assert mx[0] <= 12 and mx[1] <= 12


def test_pagerank_empty_graph_raises(spark):
    df = spark.createDataFrame([], "src long, dst long")
    with pytest.raises(ValueError, match="empty"), RunScope(spark) as scope:
        pagerank(df, scope=scope)


def test_pagerank_rejects_non_int_params(spark, monkeypatch):
    df = spark.createDataFrame([(0, 1)], "src long, dst long")
    for iters in (0, 2.0, True, -1):
        monkeypatch.setattr(graph, "PAGERANK_ITERS", iters)
        with pytest.raises(ValueError), RunScope(spark) as scope:
            pagerank(df, scope=scope)


def test_pagerank_plan_no_python_no_cartesian(spark):
    # iterative joins stay JVM-side: no Python eval nodes, no cartesian
    df = spark.createDataFrame([(0, 1), (1, 0)], "src long, dst long")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    with RunScope(spark) as scope:
        plan = pagerank(df, scope=scope)._jdf.queryExecution().explainString(mode)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
