"""bench.py's named query lists must stay resolvable: a row renamed or
retired from the registry would otherwise fail only deep inside a long
bench run (or, for the sf10 block, only where the scale corpora
exist)."""

from bench import HEADLINE, SCALING_QUERIES, SF10_QUERIES, _bench_queries
from rnadam_spark.registry import load_all


def test_bench_query_names_resolve():
    load_all()
    queries = _bench_queries()
    missing = [
        (group, name)
        for group, names in (
            ("HEADLINE", HEADLINE),
            ("SCALING_QUERIES", SCALING_QUERIES),
            ("SF10_QUERIES", SF10_QUERIES),
        )
        for name in names
        if name not in queries
    ]
    assert not missing, missing


def test_dump_plans_imports():
    import importlib.util
    import os

    path = os.path.join(os.path.dirname(__file__), "..", "tools", "dump_plans.py")
    spec = importlib.util.spec_from_file_location("dump_plans", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert callable(mod.main)
