import os

import pytest

from spans import SpanTimers, Tracer, by_span, parse_event_log, spark_layer, union_seconds

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog.jsonl")


def test_union_merges_overlaps_and_skips_empty():
    assert union_seconds([]) == 0
    assert union_seconds([(0, 2), (1, 3), (5, 6), (4, 4)]) == pytest.approx(4)
    assert union_seconds([(0, 10), (2, 3)]) == pytest.approx(10)


def test_nested_spans_record_parents():
    t = Tracer()
    with t.span("op") as op:
        with t.span("a") as a:
            with t.span("a1") as a1:
                pass
        with t.span("b") as b:
            pass
    with t.span("next") as nxt:
        pass
    assert (op.parent, a.parent, a1.parent, b.parent, nxt.parent) == (None, op.id, a.id, op.id, None)
    assert [c.name for c in t.children(op)] == ["a", "b"]
    assert op.start <= a.start <= a1.start <= a1.end <= a.end <= b.start <= b.end <= op.end


def test_self_time_subtracts_covered_child_time_once(fixed_span):
    t = Tracer()
    op = fixed_span(t, "op", 0.0, 10.0)
    fixed_span(t, "a", 1.0, 4.0, op.id)
    fixed_span(t, "b", 3.0, 5.0, op.id)  # overlaps a: covered time is [1, 5)
    grandchild = fixed_span(t, "a1", 1.0, 2.0, 1)
    assert t.self_seconds(op) == pytest.approx(6.0)
    assert t.self_seconds(t.spans[1]) == pytest.approx(2.0)
    assert t.self_seconds(grandchild) == pytest.approx(1.0)


def test_total_sums_repeated_spans(fixed_span):
    t = Tracer()
    fixed_span(t, "quantify.e_step", 0.0, 1.5)
    fixed_span(t, "quantify.e_step", 2.0, 2.25)
    assert t.total("quantify.e_step") == pytest.approx(1.75)
    assert t.total("missing") == 0


def test_span_timers_feed_both_stage_dict_and_spans():
    from rnadam_spark import instrument as ins

    t = Tracer()
    timers = SpanTimers(t)
    with t.span("quantify"):
        for _ in range(2):
            with timers.stage(ins.EM_ITER):
                with timers.stage(ins.E_STAGE):
                    pass
    assert set(timers.stages) == {ins.EM_ITER, ins.E_STAGE}
    names = [s.name for s in t.spans]
    assert names == ["quantify"] + ["quantify.em_iter", "quantify.e_step"] * 2
    e_steps = [s for s in t.spans if s.name == "quantify.e_step"]
    assert all(t.spans[s.parent].name == "quantify.em_iter" for s in e_steps)


def test_parse_canned_event_log():
    with open(LOG) as fh:
        jobs, tasks, stages = parse_event_log(fh)
    assert [(j.id, j.submit, j.end) for j in jobs] == [(0, 1.0, 3.0), (1, 5.0, 6.0)]
    assert stages == {0, 1, 3}  # stage 2 was listed but never ran
    assert [t.failed for t in tasks] == [False, False, True]
    first = tasks[0]
    assert (first.stage, first.run_s, first.cpu_s, first.shuffle_write_bytes) == (1, 0.7, 0.5, 4096)
    assert (tasks[1].shuffle_read_bytes, tasks[1].spill_bytes) == (4096, 96)


def test_spark_layer_windows_jobs_and_tasks():
    with open(LOG) as fh:
        jobs, tasks, stages = parse_event_log(fh)
    whole = spark_layer(jobs, tasks, stages, 0.5, 7.0)
    assert whole["jobs"] == 2 and whole["tasks"] == 3 and whole["failed_tasks"] == 1
    assert whole["stages"] == 3
    assert whole["executor_run_s"] == pytest.approx(1.8)
    assert whole["executor_cpu_s"] == pytest.approx(0.85)
    assert whole["shuffle_read_bytes"] == 4096 and whole["shuffle_write_bytes"] == 4096
    assert whole["spill_bytes"] == 96
    # 6.5 s window, jobs cover [1, 3) and [5, 6)
    assert whole["driver_outside_jobs_s"] == pytest.approx(3.5)
    first = spark_layer(jobs, tasks, stages, 0.5, 4.0)
    assert (first["jobs"], first["tasks"], first["failed_tasks"]) == (1, 2, 0)


def test_by_span_attributes_to_innermost_span(fixed_span):
    with open(LOG) as fh:
        jobs, tasks, _ = parse_event_log(fh)
    t = Tracer()
    op = fixed_span(t, "op", 0.5, 7.0)
    fixed_span(t, "stage", 0.9, 3.5, op.id)
    table = by_span(t, jobs, tasks)
    assert table["stage"]["jobs"] == 1 and table["stage"]["tasks"] == 2
    assert table["op"]["jobs"] == 1 and table["op"]["tasks"] == 1
    assert table["op"]["self_s"] == pytest.approx(6.5 - 2.6)
    assert table["stage"]["cpu_s"] == pytest.approx(0.75)
