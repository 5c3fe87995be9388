"""PageRank (operators/graph.py): python power-iteration cross-check,
dangling mass, determinism."""

from __future__ import annotations

from rnadam_spark.operators.graph import pagerank


def _py_pagerank(edges, iterations=10, damping=0.85):
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    n = len(nodes)
    deg = {}
    for a, _ in edges:
        deg[a] = deg.get(a, 0) + 1
    r = {v: 1.0 / n for v in nodes}
    for _ in range(iterations):
        dangling = sum(r[v] for v in nodes if v not in deg)
        inflow = {v: 0.0 for v in nodes}
        for a, b in edges:
            inflow[b] += r[a] / deg[a]
        tel = (1 - damping) / n + damping * dangling / n
        r = {v: tel + damping * inflow[v] for v in nodes}
    return r


def test_pagerank_matches_python_reference(spark):
    edges = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3)]  # 4 dangles? no: 4->3; none dangle except none
    edges += [(5, 1)]  # 5 has out-edge; 2 links only to 3
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.node: r.rank for r in pagerank(df, iterations=12).collect()}
    want = _py_pagerank(edges, iterations=12)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-6, (v, got[v], want[v])
    assert abs(sum(got.values()) - 1.0) < 1e-6  # mass conserved
    # 3 receives from most nodes -> highest rank
    assert max(got, key=got.get) == 3


def test_pagerank_dangling_and_determinism(spark):
    edges = [(1, 2), (2, 3)]  # 3 is dangling
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.node: r.rank for r in pagerank(df, iterations=15).collect()}
    want = _py_pagerank(edges, iterations=15)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-6
    assert abs(sum(got.values()) - 1.0) < 1e-6
    got2 = {r.node: r.rank for r in pagerank(df.repartition(5), iterations=15).collect()}
    assert got == got2


def test_pagerank_edge_cache_forms_agree(spark):
    # r13: a caller-materialized, repartitioned edge table (what the
    # docstring advises for expensive edge subtrees) must give the
    # lazy form's ranks on a graph with hubs, dangling nodes and
    # parallel edges (duplicate (1,2) counts as two edges both ways).
    from rnadam_spark.lineage import truncate_lineage

    edges = [(1, 2), (1, 2), (1, 3), (2, 4), (3, 4), (4, 1), (5, 2), (6, 7)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    a = {r.node: r.rank for r in pagerank(df, iterations=8).collect()}
    cached = truncate_lineage(df.repartition(3, "src"))
    b = {r.node: r.rank for r in pagerank(cached, iterations=8).collect()}
    assert a.keys() == b.keys()
    assert all(abs(a[v] - b[v]) < 1e-12 for v in a)
    want = _py_pagerank(edges, iterations=8)
    for v in want:
        assert abs(a[v] - want[v]) < 1e-6
