"""Connected-components dedup clustering (operators/clustering.py)."""

import pytest

from pyspark.sql import functions as F

from rnadam_spark.operators import clustering


def _cc(spark, pairs, **kw):
    df = spark.createDataFrame(pairs, "doc_a BIGINT, doc_b BIGINT")
    return {
        r.node: r.component
        for r in clustering.connected_components(df, **kw).collect()
    }


def test_chain_collapses_to_min(spark):
    # worst case for naive min-propagation: a pure chain — star rounds
    # collapse it in O(log n)
    pairs = [(i, i + 1) for i in range(1, 12)]
    got = _cc(spark, pairs)
    assert got == {i: 1 for i in range(1, 13)}


def test_two_components_and_reversed_edges(spark):
    pairs = [(5, 2), (2, 9), (40, 30), (30, 41)]
    got = _cc(spark, pairs)
    assert got == {2: 2, 5: 2, 9: 2, 30: 30, 40: 30, 41: 30}


def test_clique_and_singleton_pair(spark):
    pairs = [(1, 2), (2, 3), (1, 3), (100, 200)]
    got = _cc(spark, pairs)
    assert got == {1: 1, 2: 1, 3: 1, 100: 100, 200: 100}


def test_empty_edges(spark):
    df = spark.createDataFrame([], "doc_a BIGINT, doc_b BIGINT")
    assert clustering.connected_components(df).count() == 0


def test_converges_within_log_rounds(spark):
    # 64-node chain: naive propagation needs 63 rounds; stars need ~log.
    # max_rounds=10 bounds the loop — convergence inside it proves the
    # O(log n) behavior (10 rounds of naive propagation would leave the
    # far end of the chain unlabeled).
    pairs = [(i, i + 1) for i in range(1, 64)]
    got = _cc(spark, pairs, max_rounds=10)
    assert got == {i: 1 for i in range(1, 65)}


def test_round_cap_without_fixpoint_raises(spark):
    # the 64-node chain needs 7 rounds to reach its fixpoint; a cap of 3
    # must fail loudly instead of returning unconverged labels
    pairs = [(i, i + 1) for i in range(1, 64)]
    with pytest.raises(RuntimeError, match="max_rounds=3"):
        _cc(spark, pairs, max_rounds=3)


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    # same components with reliable checkpointing into a directory
    from rnadam_spark.operators.clustering import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "doc_a BIGINT, doc_b BIGINT",
    )
    got = {
        (r.node, r.component)
        for r in connected_components(
            pairs, checkpoint_dir=str(tmp_path / "cc_ckpt")
        ).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20), (23, 20),
    }
    import os

    assert any(os.scandir(tmp_path / "cc_ckpt"))
    # a 64-node chain needs several star rounds, each reliably
    # checkpointed in turn; the labels must be the localCheckpoint run's
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 163)], "doc_a BIGINT, doc_b BIGINT"
    )
    local = sorted(tuple(r) for r in connected_components(chain).collect())
    reliable = sorted(
        tuple(r)
        for r in connected_components(
            chain, checkpoint_dir=str(tmp_path / "cc_chain_ckpt")
        ).collect()
    )
    assert reliable == local == [(i, 100) for i in range(100, 164)]


def test_random_graph_matches_union_find(spark):
    # seeded random graph, cross-checked against a driver-side
    # union-find oracle — the distributed star rounds must produce the
    # identical min-label components on arbitrary topology (mix of
    # chains, cliques, singleton pairs, hubs)
    import random

    rng = random.Random(20260813)
    n = 300
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(260)]
    edges = [(a, b) for a, b in edges if a != b]

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {v for e in edges for v in e}
    expected = {v: find(v) for v in touched}

    got = _cc(spark, edges)
    assert got == expected


def _load_unionfind_oracle():
    import importlib.util
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "unionfind_oracle.py",
    )
    spec = importlib.util.spec_from_file_location("unionfind_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_union_find_oracle_min_root_invariant():
    # the sf1 verification tool's core claim: the union-find root IS the
    # component minimum (smaller id stays root at every union) — pinned
    # on the adversarial topologies for that invariant: a chain unioned
    # in descending order (root changes every step) and a hub whose
    # minimum arrives last
    uf = _load_unionfind_oracle()
    chain = [(i + 1, i) for i in range(9, 0, -1)]  # (10,9),(9,8),…,(2,1)
    got = uf.union_find_components(chain)
    assert got == {i: 1 for i in range(1, 11)}
    hub = [(50, 60), (50, 70), (50, 80), (50, 7)]  # min joins last
    got = uf.union_find_components(hub)
    assert got == {7: 7, 50: 7, 60: 7, 70: 7, 80: 7}
    assert uf.union_find_components([]) == {}


def test_union_find_matches_recursive_cte(sf_dir):
    # the python union-find reference (tools/unionfind_oracle.py — the
    # dedup_clusters oracle at sf1, where the recursive CTE needs 50+
    # CPU-min) agrees with the gate's recursive-CTE oracle on the real
    # LSH pair graph at a scale where BOTH are feasible
    import duckdb

    from rnadam_spark.queries.pipeline_q import _LSH_PAIRS_SQL
    from __spark_entry__ import oracle_sql

    uf = _load_unionfind_oracle()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    pairs = con.execute(_LSH_PAIRS_SQL).fetchall()
    assert pairs  # the corpus is dup-heavy; an empty graph proves nothing
    expected = dict(con.execute(oracle_sql()["dedup_clusters"]).fetchall())
    assert uf.union_find_components(pairs) == expected


def test_union_find_paragraph_losers_match_recursive_cte(sf_dir):
    # same split for the paragraph gate row: union-find losers over the
    # DuckDB-verified paragraph-unit pairs == the recursive-CTE oracle
    import duckdb

    from rnadam_spark.queries.pipeline_q import _PARA_ENC, _PARA_PAIRS_SQL
    from __spark_entry__ import oracle_sql

    uf = _load_unionfind_oracle()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    pairs = con.execute(_PARA_PAIRS_SQL).fetchall()
    assert pairs
    comp = uf.union_find_components(pairs)
    losers = {(n // _PARA_ENC, n % _PARA_ENC) for n, c in comp.items() if n != c}
    expected = set(
        map(tuple, con.execute(oracle_sql()["paragraph_near_dups"]).fetchall())
    )
    assert losers == expected
