"""Benchmark entry point: one workload, one seed, one process, one client.

    python3 perfbench/run.py --workload sailfish_cli --seed 1 --seconds 5 --trace 0

Run from the root of a checkout of the program. The metrics and their
units come from ``BENCHMARK.json`` next to ``perfbench/``. The last line
of standard output is the result object; the line before it
(``perfbench-report ...``) carries every end-to-end metric of the
workload by name with its unit and direction, the host settings and,
traced, the per-span table.

Untraced (``--trace 0``): set up (session start, input generation
three times), then run the workload's operation in a closed loop until
``--seconds`` have passed (at least once), checking every output. The
first operation is the one timed: it runs in a JVM that has run nothing
else, as each CLI invocation does. Traced (``--trace 1``): the same
set-up with Spark's event log on, then one operation with spans around
each layer and the program's ``StageTimers`` hook; layer metrics come
from the spans and from the event log. The base of ``trace.overhead_s``
is one untraced operation in a second, new JVM.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEMORY = "3g"  # this benchmark's inputs are small; the host has 15 GiB for everyone
GEN_REPEATS = 3

# per workload: the end-to-end metrics a user reads, as (unit, better)
REPORTED = {
    "sailfish_cli": {
        "index_s": ("s", "lower"),
        "quantify_s": ("s", "lower"),
        "reads_per_s": ("1/s", "higher"),
        "abundance_spearman": ("rho", "higher"),
        "abundance_median_rel_err": ("fraction", "lower"),
    },
    "em_shared_classes": {
        "quantify_s": ("s", "lower"),
        "reads_per_s": ("1/s", "higher"),
        "abundance_spearman": ("rho", "higher"),
        "abundance_median_rel_err": ("fraction", "lower"),
    },
    "curate_near_dup": {
        "curate_s": ("s", "lower"),
        "docs_per_s": ("1/s", "higher"),
        "near_dup_recall": ("fraction", "higher"),
        "unique_kept_frac": ("fraction", "higher"),
    },
}
COMMON = {
    "pipeline_s": ("s", "lower"),
    "setup_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "ops_failed_frac": ("fraction", "lower"),
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def configure(work: str, trace: bool) -> tuple[dict[str, str], dict[str, str]]:
    """Fit the host and keep every file the run writes inside ``work``;
    returns (session conf, event-log conf for the traced session). Must
    run before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
    )
    sys.path[:0] = [ROOT, HERE]
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # HotSpot's perf-data file goes to /tmp whatever java.io.tmpdir says
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if not trace:
        return conf, {}
    os.makedirs(os.path.join(work, "eventlog"))
    return conf, {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def code_digest() -> str:
    """Digest of the program and benchmark sources, so recorded accuracy
    is only compared between runs of the same code."""
    h = hashlib.sha256()
    for pattern in ("rnadam_spark/**/*.py", "perfbench/*.py"):
        for path in sorted(glob.glob(os.path.join(ROOT, pattern), recursive=True)):
            with open(path, "rb") as fh:
                h.update(path[len(ROOT):].encode() + fh.read())
    return h.hexdigest()[:16]


class Records:
    """Per-checkout memory across runs: the accuracy first seen for each
    (workload, seed, code). It must repeat exactly."""

    def __init__(self, path: str, workload: str, seed: int) -> None:
        self.path = path
        self.key = f"{workload}/{seed}/{code_digest()}"
        self.accuracy = {}
        if os.path.exists(path):
            with open(path) as fh:
                self.accuracy = json.load(fh)

    def check_accuracy(self, accuracy: dict) -> list[str]:
        seen = self.accuracy.setdefault(self.key, accuracy)
        return [f"{k} {accuracy.get(k)!r} differs from an earlier run's {v!r}"
                for k, v in seen.items() if accuracy.get(k) != v]

    def save(self) -> None:
        with open(self.path, "w") as fh:
            json.dump(self.accuracy, fh)


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine so far, from /proc/stat.
    Steal is time the hypervisor gave this machine's cpus to others."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def descendants(pid: int) -> list[int]:
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        todo += kids
    return out


def alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    return True


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched and the Python workers
    under it, waiting until each has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits on EOF
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.time() + 20
    while any(alive(k) for k in kids) and time.time() < deadline:
        time.sleep(0.1)
    for k in kids:
        if alive(k):
            os.kill(k, signal.SIGKILL)
    while any(alive(k) for k in kids):
        time.sleep(0.1)


def new_jvm_spark(app: str, conf: dict[str, str]):
    """A session in a new JVM, after ``stop_spark`` ended the last one.
    PySpark keeps its gateway for the process's lifetime; dropping it
    makes the next session launch a JVM of its own."""
    from pyspark import SparkContext

    from rnadam_spark.session import get_spark

    SparkContext._gateway = SparkContext._jvm = None
    return get_spark(app, extra_conf=conf)


def layer_metrics(
    names: list[str], tracer, counts: dict, event_log: str, untraced_s: float
) -> tuple[dict, dict]:
    """(value per per-layer metric name, per-span table) for a traced run."""
    from spans import by_span, parse_event_log, spark_layer

    with open(event_log) as fh:
        jobs, tasks, stages = parse_event_log(fh)
    ops = [s for s in tracer.spans if s.parent is None and s.name != "session.get_spark"]
    start, end = ops[0].start, ops[-1].end
    values = {f"spark.{k}": v for k, v in spark_layer(jobs, tasks, stages, start, end).items()}
    for s in tracer.spans:
        if s.name == "clustering.cc":
            values["clustering.cc_jobs"] = spark_layer(jobs, tasks, stages, s.start, s.end)["jobs"]
    values["trace.overhead_s"] = sum(s.seconds for s in ops) - untraced_s
    span_names = {s.name for s in tracer.spans}
    for n in names:
        if n not in values and n not in counts and n.endswith("_s") and n[:-2] in span_names:
            values[n] = tracer.total(n[:-2])
    values.update(counts)
    table = by_span(tracer, jobs, tasks)
    # a layer the workload does not reach did no work: 0
    return {n: values.get(n, 0) for n in names}, table


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "rnadam_spark", "__init__.py")):
        log(f"no rnadam_spark package under {ROOT}: run from a checkout of the program")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if args.workload not in REPORTED:
        log(f"unknown workload {args.workload!r}; choose from {sorted(REPORTED)}")
        return 2
    metrics = bench["per_layer" if args.trace else "end_to_end"]

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    conf, trace_conf = configure(work, bool(args.trace))

    import pyspark

    from rnadam_spark.session import DEFAULT_SHUFFLE_PARTITIONS, get_spark
    from spans import Tracer
    from workloads import WORKLOADS

    app = f"perfbench-{args.workload}"
    tracer = Tracer()
    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = get_spark(app, extra_conf={**conf, **trace_conf})
    session_s = time.perf_counter() - t0
    try:
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        gen_s = []
        for _ in range(GEN_REPEATS):
            t = time.perf_counter()
            wl.generate()
            gen_s.append(time.perf_counter() - t)
        setup_s = session_s + statistics.median(gen_s)

        reps: list[dict] = []
        problems: list[str] = []
        accuracies: list[dict] = []
        attempted = failed = 0

        def attempt(fn):
            nonlocal attempted, failed
            attempted += len(wl.calls)
            try:
                out = fn()
                found, accuracy = wl.check()
            except Exception:
                traceback.print_exc()
                failed += len(wl.calls)
                problems.append(f"operation raised: {traceback.format_exc().splitlines()[-1]}")
                return None
            if found:
                failed += len(wl.calls)
                problems.extend(found)
            accuracies.append(accuracy)
            return out

        records = Records(
            os.path.join(work_root, f"accuracy-{args.workload}.json"), args.workload, args.seed
        )
        base_s = None
        ticks0 = cpu_ticks()
        if args.trace:
            # the traced operation runs in a new JVM, as the untraced runs'
            # timed operation does; trace overhead is measured against one
            # untraced operation, also in a new JVM
            counts = attempt(lambda: wl.run_traced(tracer))
            if counts is not None:
                reps.append({c: tracer.total(c) for c in wl.calls})
                stop_spark(spark)
                spark = None  # stopped; a failed restart leaves nothing to stop
                spark = wl.spark = new_jvm_spark(app, conf)
                r = attempt(wl.run)
                base_s = sum(r.values()) if r is not None else None
        else:
            start = time.perf_counter()
            while not reps or time.perf_counter() - start < args.seconds:
                r = attempt(wl.run)
                if r is None:
                    break
                reps.append(r)
        ticks1 = cpu_ticks()
        if any(a != accuracies[0] for a in accuracies):
            problems.append(f"accuracy differs between operations on one input: {accuracies}")
            failed = attempted
        if accuracies:
            repeat = records.check_accuracy(accuracies[0])
            if repeat:
                problems.extend(repeat)
                failed = attempted
        from pyspark import SparkContext

        rss = peak_rss_mb(SparkContext._gateway.proc.pid)
    finally:
        if spark is not None:
            stop_spark(spark)
    if not reps or (args.trace and base_s is None):
        log("no operation completed: " + "; ".join(problems))
        return 1

    # the first operation, in a JVM that has run nothing else: the cost a
    # CLI invocation pays, since every rnadam-spark command starts a JVM
    per_call = {c: reps[0][c] for c in wl.calls}
    pipeline_s = sum(reps[0].values())
    records.save()
    values = {
        "pipeline_s": pipeline_s,
        "setup_s": setup_s,
        "peak_rss_mb": rss,
        "ops_failed_frac": failed / attempted,
        **{f"{c}_s": v for c, v in per_call.items()},
        f"{wl.items}_per_s": wl.n_items() / per_call[wl.calls[-1]],
        **accuracies[0],
    }
    units = {**COMMON, **REPORTED[args.workload]}
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": {
            "cpus": os.environ["SPARK_GRAFT_CPUS"],
            "driver_memory": DRIVER_MEMORY,
            "spark_version": pyspark.__version__,
            "shuffle_partitions": os.environ.get(
                "SPARK_GRAFT_SHUFFLE_PARTITIONS", str(DEFAULT_SHUFFLE_PARTITIONS)
            ),
            # share of cpu time stolen by the hypervisor while the
            # operations ran: the main source of run-to-run spread here
            "steal_frac": (ticks1[0] - ticks0[0]) / max(ticks1[1] - ticks0[1], 1),
        },
        "operations": len(reps),
        "operation_s": [sum(r.values()) for r in reps],
        "timed": "traced operation" if args.trace else "first untraced operation",
        "setup": {"session_s": session_s, "generate_s": gen_s},
        "metrics": {n: {"value": values[n], "unit": u, "better": b} for n, (u, b) in units.items()},
        "problems": problems,
    }
    if args.trace:
        event_log = glob.glob(os.path.join(work, "eventlog", "*"))[0]
        result_metrics, table = layer_metrics(
            [m["name"] for m in metrics], tracer, counts, event_log, base_s
        )
        report["spans"] = table
        report["untraced_base_s"] = base_s
    else:
        result_metrics = {m["name"]: values[m["name"]] for m in metrics}
    print("perfbench-report " + json.dumps(report), flush=True)
    unit = {m["name"]: m["unit"] for m in metrics}
    print(json.dumps({
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": unit[n]} for n, v in result_metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
