"""Named per-stage wall-clock timers — the reference's instrumentation
surface re-expressed for DataFrames.

The reference ships 29 named timers covering every pipeline stage
(rice-core/.../Timers.scala:28-62, wired via ``.instrument()`` at
cli/Index.scala:68); BASELINE.md calls for the bench to emit per-stage
timings mirroring those names so stage-level regressions are
attributable. Spark SQL is lazy, so stage attribution requires forcing
each stage's plan: when a ``StageTimers`` is passed, each stage is
cached and materialized (noop sink — full computation, no driver
collect) under its timer, and downstream stages reuse the cache, so
each number is the stage's *marginal* cost. With ``timers=None`` the
pipelines stay fully lazy — zero production overhead.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from pyspark.sql import DataFrame

# Stage names, verbatim from Timers.scala:28-62
EXTRACT = "Extracting Transcript from Reference"
SPLIT_KMERS = "Splitting k-mers from Transcript"
GENERATE_CLASSES = "Generating Equivalence Classes"
GENERATE_INDICES = "Mapping Equivalence Classes to Indices"
EXTRACT_LENGTHS = "Extraction Transcript Lengths"
COUNT_KMERS = "Counting k-mers"
TARE_KMERS = "Calibrate k-mer counts vs. GC Content"
COUNT_CLASSES = "Map k-mers to Equivalence Classes"
NORMALIZING = "Normalizing Input Counts"
INIT_EM = "Initializing EM Algorithm"
EM_ITER = "Running an Iteration of EM"
E_STAGE = "E stage of EM"
M_STAGE = "M stage of EM"
CAL_LENGTH = "Calibrating vs. Transcript Length"
JOIN_TRANSCRIPTS = "Joining vs. Transcripts"


class StageTimers:
    """Accumulating named wall-clock timers; repeated stages (the EM
    loop) add up, as the reference's Metrics timers do."""

    def __init__(self) -> None:
        self.stages: dict[str, float] = {}

    @contextmanager
    def stage(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.stages[name] = self.stages.get(name, 0.0) + (time.perf_counter() - t0)

    def as_dict(self, digits: int = 3) -> dict[str, float]:
        return {k: round(v, digits) for k, v in self.stages.items()}


def force(df: DataFrame) -> None:
    """Materialize end-to-end without a driver collect."""
    df.write.format("noop").mode("overwrite").save()


def timed(timers: StageTimers | None, name: str, df: DataFrame) -> DataFrame:
    """Under instrumentation: materialize ``df`` under ``name``'s timer
    via ``localCheckpoint(eager=True)`` and return the checkpointed
    frame — downstream stages read the stored partitions, so each
    number is that stage's marginal cost. Checkpoint (not cache) on
    purpose: caching keeps the full child plan inside every
    InMemoryRelation, and across an iterative loop the nested plan
    strings grow multiplicatively (observed: 16 GB OOM in
    generateTreeString by EM iteration 3); the checkpoint truncates
    lineage outright. Without timers: identity, fully lazy."""
    if timers is None:
        return df
    with timers.stage(name):
        df = df.localCheckpoint(eager=True)
    return df


def skew_report(
    df: DataFrame,
    keys: list[str],
    top: int = 10,
    target_rows_per_task: int = 5_000_000,
) -> dict:
    """Shuffle-key skew audit: BEFORE running a big join/groupBy on
    ``keys``, measure how lopsided the key distribution is and what to
    do about it. Returns a bounded driver-side dict (the
    ``skipping_report`` pattern):

    - ``n_rows`` / ``n_groups`` / ``mean`` / ``p50`` / ``p99`` / ``max``
      — group-size distribution (one map-side-partial groupBy + one
      aggregate over the group counts; the count table never collects);
    - ``top`` — the ``top`` heaviest keys with counts and corpus share
      (TakeOrdered, driver state bounded by ``top``);
    - ``suggested_salt`` — ceil(max / target_rows_per_task): the salt
      factor that would split the hottest key into target-sized tasks
      (1 = no salting needed). The threshold defaults to ~5M rows per
      task, a sensible shuffle-partition payload; pass your own.

    This is the measurement half of the engine's skew discipline: the
    guards (``operators.guards``) CAP hot buckets, the grouped forms
    avoid per-group windows — this reports WHICH keys are hot
    and how hot, so those knobs are set from data, not folklore."""
    import math

    from pyspark.sql import functions as F

    counts = df.groupBy(*keys).agg(F.count("*").alias("n"))
    s = counts.agg(
        F.sum("n").alias("n_rows"),
        F.count("*").alias("n_groups"),
        F.avg("n").alias("mean"),
        F.expr("percentile_approx(n, 0.5, 10000)").alias("p50"),
        F.expr("percentile_approx(n, 0.99, 10000)").alias("p99"),
        F.max("n").alias("max"),
    ).collect()[0]
    heavy = counts.orderBy(F.col("n").desc(), *keys).limit(top).collect()
    n_rows = int(s.n_rows or 0)
    return {
        "keys": list(keys),
        "n_rows": n_rows,
        "n_groups": int(s.n_groups),
        "mean": round(float(s.mean), 2) if s.mean is not None else None,
        "p50": int(s.p50) if s.p50 is not None else None,
        "p99": int(s.p99) if s.p99 is not None else None,
        "max": int(s.max) if s.max is not None else None,
        "top": [
            {
                "key": {k: r[k] for k in keys},
                "n": int(r.n),
                "share": round(int(r.n) / n_rows, 6) if n_rows else 0.0,
            }
            for r in heavy
        ],
        "suggested_salt": (
            max(1, math.ceil(int(s.max) / target_rows_per_task))
            if s.max is not None
            else 1
        ),
    }
