import json
import os
import re

import pytest

import run
from spans import STAGE_SPANS, Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog.jsonl")

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def test_benchmark_json_shape():
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert BENCH["paths"] == ["perfbench"]
    names = [w["name"] for w in BENCH["workloads"]]
    names += [m["name"] for m in BENCH["end_to_end"] + BENCH["per_layer"]]
    assert len(names) == len(set(names)) and all(NAME.match(n) for n in names)
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200 for w in BENCH["workloads"])
    assert all(set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25 for m in BENCH["end_to_end"])
    assert all(set(m) == {"name", "unit", "better"} for m in BENCH["per_layer"])
    setup = [m for m in BENCH["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in BENCH["end_to_end"])


def test_every_listed_workload_reports_every_end_to_end_metric():
    for w in BENCH["workloads"]:
        assert w["name"] in run.REPORTED
    for m in BENCH["end_to_end"]:
        assert m["name"] in run.COMMON and run.COMMON[m["name"]] == (m["unit"], m["better"])


def test_stage_spans_are_per_layer_metrics():
    per_layer = {m["name"] for m in BENCH["per_layer"]}
    wanted = set(STAGE_SPANS.values()) - {"quantify.extract_lengths", "quantify.normalizing"}
    assert {n + "_s" for n in wanted} <= per_layer


def test_layer_metrics_cover_every_per_layer_name(fixed_span):
    names = [m["name"] for m in BENCH["per_layer"]]
    t = Tracer()
    fixed_span(t, "session.get_spark", 0.0, 0.4)
    op = fixed_span(t, "curate", 0.5, 7.0)
    fixed_span(t, "text.prefix", 0.6, 0.9, op.id)
    fixed_span(t, "clustering.cc", 4.0, 6.5, op.id)
    values, table = run.layer_metrics(names, t, {"dedup.candidate_pairs": 7}, LOG, 4.0)
    assert list(values) == names
    assert values["text.prefix_s"] == pytest.approx(0.3)
    assert values["clustering.cc_s"] == pytest.approx(2.5)
    assert values["clustering.cc_jobs"] == 1
    assert values["dedup.candidate_pairs"] == 7
    assert values["spark.jobs"] == 2 and values["spark.failed_tasks"] == 1
    assert values["trace.overhead_s"] == pytest.approx(6.5 - 4.0)
    assert values["session.get_spark_s"] == pytest.approx(0.4)
    assert values["tare.kmers_s"] == 0  # a layer the workload never reached
    assert table["curate"]["jobs"] == 1
