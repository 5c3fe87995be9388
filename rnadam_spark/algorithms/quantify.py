"""Sailfish-style EM isoform quantification, DataFrame-native.

Re-expresses ``Quantify.apply`` (rice-core/.../algorithms/
Quantify.scala:42-127) and its helpers. Every driver-side
``collectAsMap``/closure in the reference becomes a broadcast join, the
``flatMap → groupByKey → re-emit`` E-step (Quantify.scala:200-212)
becomes one window aggregate, and the unbounded-lineage EM loop
(Quantify.scala:105-114 — a known scaling hazard) truncates its plan
with ``localCheckpoint`` on the tiny per-transcript state.

State tables (all flat):
  kmer_counts        (kmer, cnt)
  kmer_to_class      (kmer, class_id)
  class_transcripts  (class_id, t_id)          — static membership edges
  class_counts       (class_id, cnt)
  rel_kmers          (class_id, rel_p)         — class share of all k-mers
  alpha              (class_id, t_id, alpha)   — E-state
  mu                 (t_id, mu)                — M-state (n_transcripts rows)

Scale design (100 TB): the membership edges are enriched with BOTH
static dimensions (``rel_kmers``, ``t_len``) once up front, hash
partitioned on class_id into :func:`edge_partitions` of their row count
(about 250k rows per partition: one partition for a small
transcriptome, thousands at corpus scale) and cached. Each EM
iteration is then one broadcast (the per-transcript ``mu`` table), an
exchange-free class_id window over the cached partitioning and one
groupBy t_id shuffle, with no dimension joins inside the loop. The
loop truncates µ's lineage every ``CHECKPOINT_EVERY`` iterations; after
it, µ is materialized once as a single partition sorted by t_id, so the
normalization and length-calibration sums add in the same order
whatever the plan shape or edge layout.

Every other table the pipeline reads more than once — ``t_len``, the
Tare features, ``class_counts``, ``rel_kmers`` — is materialized once
through :func:`~rnadam_spark.lineage.truncate_lineage` (a reliable
checkpoint when ``checkpoint_dir`` is set), not ``.cache()``. With
``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`` at its
``false`` default, a cached aggregate keeps all
``spark.sql.shuffle.partitions`` (32) partitions, AQE never coalesces
them, and every later read of a few thousand rows runs 32 near-empty
tasks. A checkpoint stores the AQE-coalesced partitions and cuts the
lineage. The edge table stays cached: its partition count is explicit
and sized from the data, and the E-step relies on its
hashpartitioning(class_id).

The loop stops at its exact fixed point (:func:`em_iterations`): when
no class has more than one edge row — every index the reference's
(transcript, multiplicity) class key builds — the E-step's α is
µ_i / µ_i = 1.0 exactly from iteration 1 on, so iteration 1 already
yields the µ every later iteration would recompute, and the loop runs
one iteration instead of ``max_iterations``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rnadam_spark.functions.shingles import char_shingles
from rnadam_spark.lineage import truncate_lineage

#: target rows per partition of the cached, loop-iterated EM edge
#: table. Measured 5-iteration loop, min-of-2 warm: sf0.1 (23k edge
#: rows) 4.32s at 32 partitions vs 1.59s at 1; sf10 (2.3M rows) 11.3s
#: at 32 vs 10.3s at 8 and 14.5s at 4. About 250k rows per task was the
#: optimum at both decades, and the count keeps growing with the data
#: (sf100 → ~93 partitions).
EDGE_ROWS_PER_PART = 250_000

#: EM iterations between µ lineage truncations (see the cadence
#: comment in :func:`em_loop`).
CHECKPOINT_EVERY = 2


def edge_partitions(n_rows: int) -> int:
    """Partition count for an EM edge table of ``n_rows`` rows. Sizing
    from the data instead of ``spark.sql.shuffle.partitions`` keeps
    every EM iteration from paying dozens of near-empty tasks per stage
    on small inputs."""
    return max(1, -(-n_rows // EDGE_ROWS_PER_PART))


def em_iterations(edges: DataFrame, max_iterations: int) -> int:
    """How many EM iterations ``em_loop`` runs over ``edges``: one when
    no class has more than one edge row, ``max_iterations`` otherwise
    (and never more than ``max_iterations``).

    Exact, not approximate: for a one-member class the E-step divides a
    finite non-zero µ_i by a window sum of that one value, and
    ``x / x == 1.0`` in IEEE arithmetic, so every iteration's M-step
    sums the same ``1.0 · rel_p`` terms through the same plan over the
    same cached partitioning and reproduces iteration 1's µ. One
    iteration still runs — α₀ is ``cnt / |class|``, not 1, so µ₁ ≠ µ₀,
    and a zero µ must still raise ``DIVIDE_BY_ZERO`` in that E-step.
    Duplicate (class_id, t_id) rows count as members, as they do in the
    α₀ window. The probe is one aggregate over the class_id-partitioned
    edge cache, skipped when ``max_iterations`` ≤ 1."""
    if max_iterations <= 1:
        return max_iterations
    largest = edges.groupBy("class_id").count().agg(F.max("count")).first()[0]
    return 1 if largest is None or largest <= 1 else max_iterations


def count_read_kmers(reads: DataFrame, k: int) -> DataFrame:
    """(kmer, cnt): ADAM's ``adamCountKmers`` (called Quantify.scala:58-60)
    as explode(shingles) → partial+final hash aggregate."""
    return (
        reads.select(F.explode(char_shingles("sequence", k)).alias("kmer"))
        .groupBy("kmer")
        .agg(F.count("*").alias("cnt"))
    )


def transcript_lengths(transcripts: DataFrame) -> DataFrame:
    """(t_id, t_len): Σ per exon of (end − start − 1) — the reference's
    ``region.width - 1`` rule, quirk preserved (Quantify.scala:137-141;
    golden 375/350 at QuantifySuite.scala:322-340). Stays a DataFrame —
    the reference collectAsMap'd this to the driver."""
    return transcripts.select(
        "t_id",
        F.aggregate(
            "exons", F.lit(0).cast("long"), lambda acc, e: acc + (e["end"] - e["start"] - 1)
        ).alias("t_len"),
    )


def map_kmers_to_classes(kmer_counts: DataFrame, kmer_to_class: DataFrame) -> DataFrame:
    """(class_id, cnt): J1 + A6 (Quantify.scala:153-158). A k-mer mapped
    to several classes contributes its count to each, as in the
    reference's pair-RDD join."""
    return (
        kmer_to_class.join(kmer_counts, "kmer")
        .groupBy("class_id")
        .agg(F.sum("cnt").alias("cnt"))
    )


def relative_class_kmers(class_counts: DataFrame) -> DataFrame:
    """(class_id, rel_p): each class's share of the total k-mer count
    (Quantify.scala:79-87). The total is a broadcast 1-row aggregate —
    an empty-partition window would funnel the whole class table
    through one task at scale, and a driver collect (the reference's
    ``reduce`` + ``collectAsMap``) caps at driver memory."""
    total = class_counts.agg(F.sum("cnt").alias("_total"))
    return class_counts.crossJoin(F.broadcast(total)).select(
        "class_id", (F.col("cnt") / F.col("_total")).alias("rel_p")
    )


def _extra_cols(class_transcripts: DataFrame) -> list[str]:
    """Static dimension columns riding on an enriched edge table (the
    EM loop pre-joins ``rel_p``/``t_len`` into the cached edges once, so
    per-iteration plans carry them as passthrough columns instead of
    re-broadcasting the dimension tables every iteration)."""
    return [c for c in class_transcripts.columns if c not in ("class_id", "t_id")]


def initialize_em(class_counts: DataFrame, class_transcripts: DataFrame) -> DataFrame:
    """alpha₀ (class_id, t_id, alpha): split each class count equally
    across its member transcripts (A11, Quantify.scala:175-184), as one
    per-class count window — the same shape as ``e_step``. Extra
    columns on ``class_transcripts`` pass through."""
    extra = _extra_cols(class_transcripts)
    joined = class_counts.join(class_transcripts, "class_id")
    w = Window.partitionBy("class_id")
    return joined.select(
        "class_id",
        "t_id",
        *extra,
        (F.col("cnt").cast("double") / F.count("*").over(w)).alias("alpha"),
    )


def e_step(mu: DataFrame, class_transcripts: DataFrame) -> DataFrame:
    """E-step (A9, Quantify.scala:200-212): α(j,i) = µ̂_i / Σ_{t∈s_j} µ̂_t.

    One broadcast join + one window: the reference's double shuffle
    (flatMap → groupByKey) collapses into a single partition-by-class
    window aggregate, which reuses the EM loop's class_id-partitioned
    edge cache with no exchange. ``Window.partitionBy(class_id)`` places
    a whole class in ONE task, so a mega-class funnels there; a
    groupBy + broadcast form that partial-aggregates class sums was
    measured and lost at every scale tried (sf10 loop 29.6 vs 12.4s in
    OPTIMIZATION_r14.md; sf0.1 3.55 vs 2.59s in BENCH_DETAIL.json). The
    mega-class shape is pinned against a driver-side EM by
    tests/test_quantify_e2e.py.

    Extra columns on ``class_transcripts`` pass through (the EM loop's
    enriched edge table)."""
    extra = _extra_cols(class_transcripts)
    edges = class_transcripts.join(F.broadcast(mu.select("t_id", "mu")), "t_id")
    w = Window.partitionBy("class_id")
    return edges.select(
        "class_id", "t_id", *extra, (F.col("mu") / F.sum("mu").over(w)).alias("alpha")
    )


def normalize_mu(mus: DataFrame, col: str = "mu") -> DataFrame:
    """µ̂ = µ / Σµ via broadcast 1-row total (an empty-partition window
    would funnel all transcripts through one task)."""
    total = mus.agg(F.sum(col).alias("_total"))
    return mus.crossJoin(F.broadcast(total)).select(
        "t_id", (F.col(col) / F.col("_total")).alias("mu")
    )


def m_step(
    alpha: DataFrame,
    t_len: DataFrame | None,
    k: int,
    rel_kmers: DataFrame | None,
    normalize: bool = True,
) -> DataFrame:
    """M-step (A10, Quantify.scala:238-275): µ_i = Σ_j α(j,i)·k_j / l̂_i,
    then normalize µ̂_i = µ_i / Σ µ. With ``rel_kmers``/``t_len`` given,
    they ride broadcast joins (the reference broadcast tLen and closed
    over a collected rel-kmers map); passing ``None`` means ``alpha``
    already carries ``rel_p``/``t_len`` columns — the EM loop pre-joins
    both static dimensions into its cached edge table once, so the
    per-iteration plan has NO dimension joins at all (one groupBy; the
    only broadcast in the loop is the tiny µ table in the E-step).

    ``normalize=False`` skips the per-step global rescale: the E-step's
    fraction-of-group is scale-invariant, so inside the EM loop the
    normalization is mathematically inert — the reference normalized
    every step (Quantify.scala:261-275), which costs a second
    materialization of the µ subtree (the total's aggregate) plus a
    broadcast per iteration. The loop normalizes once at the end; the
    unit goldens pin the normalized single-step form."""
    x = alpha if rel_kmers is None else alpha.join(F.broadcast(rel_kmers), "class_id")
    if t_len is None:
        # t_len is functionally dependent on t_id; grouping on both
        # keeps it available without a join or first()
        g = x.groupBy("t_id", "t_len").agg(
            F.sum(F.col("alpha") * F.col("rel_p")).alias("sum_alpha")
        )
    else:
        g = (
            x.groupBy("t_id")
            .agg(F.sum(F.col("alpha") * F.col("rel_p")).alias("sum_alpha"))
            .join(F.broadcast(t_len), "t_id")
        )
    mus = g.select(
        "t_id",
        (F.col("sum_alpha") / (F.col("t_len") - F.lit(k) + 1)).alias("mu_raw"),
    )
    if not normalize:
        return mus.withColumnRenamed("mu_raw", "mu")
    return normalize_mu(mus, "mu_raw")


def join_transcripts(transcripts: DataFrame, mu: DataFrame) -> DataFrame:
    """J3 (Quantify.scala:286-295): attach abundances to the full
    transcript descriptors."""
    return transcripts.join(mu.withColumnRenamed("mu", "abundance"), "t_id")


def quantify(
    reads: DataFrame,
    kmer_to_class: DataFrame,
    class_transcripts: DataFrame,
    transcripts: DataFrame,
    k: int,
    max_iterations: int,
    calibrate_kmer_bias: bool = True,
    calibrate_length_bias: bool = True,
    timers=None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Full pipeline (Quantify.scala:42-127): returns transcripts with
    an ``abundance`` column (relative abundances, sum 1).

    ``timers`` (an ``instrument.StageTimers``) forces + times each
    stage under the reference's Timers.scala names. Without timers the
    tables read more than once (transcript lengths, Tare features,
    class counts, class shares, the edge table and µ) are still
    materialized here, eagerly; the returned frame stays lazy.

    ``checkpoint_dir``: when set, every lineage truncation on the
    untimed path (the static tables above and the per-iteration µ) uses
    reliable ``checkpoint()`` into that fault-tolerant directory instead
    of ``localCheckpoint`` — executor loss mid-loop then recovers by
    re-reading checkpointed state instead of failing the job (see
    rnadam_spark.lineage)."""
    from rnadam_spark import instrument as ins
    from rnadam_spark.algorithms import tare

    def stage(name: str, df: DataFrame) -> DataFrame:
        # a table read more than once is stored once: under timers,
        # timed() checkpoints it; otherwise truncate_lineage does, eagerly
        if timers is not None:
            return ins.timed(timers, name, df)
        return truncate_lineage(df, checkpoint_dir)

    # static across the loop and broadcast into the edge table, the
    # length calibration and the transcript join
    t_len = stage(ins.EXTRACT_LENGTHS, transcript_lengths(transcripts))

    kmer_counts = ins.timed(timers, ins.COUNT_KMERS, count_read_kmers(reads, k))
    if calibrate_kmer_bias:
        kmer_counts = ins.timed(
            timers, ins.TARE_KMERS, tare.calibrate_kmers(kmer_counts, checkpoint_dir)
        )

    class_counts = stage(ins.COUNT_CLASSES, map_kmers_to_classes(kmer_counts, kmer_to_class))
    rel_kmers = stage(ins.NORMALIZING, relative_class_kmers(class_counts))

    # the static membership-edge table, enriched ONCE with both static
    # dimensions (class share rel_p, transcript length), PRE-PARTITIONED
    # on class_id into a data-sized partition count, and cached (an
    # explicit count, so the cache pins no unused partitions). The
    # repartition is paid once at cache time and every iteration's
    # E-step window then reuses the cached hashpartitioning(class_id) —
    # its plan is broadcast-join + local sort + window with NO exchange
    # (verified in tests/test_plans.py), so each EM iteration moves the
    # edge table over the network exactly once (the M-step groupBy)
    # instead of twice. Classes absent from class_counts drop here;
    # their α rows carried zero weight into the M-step's rel_p join
    # anyway. The membership count bounds the enriched row count.
    edges = (
        class_transcripts.join(F.broadcast(rel_kmers), "class_id")
        .join(F.broadcast(t_len), "t_id")
        .repartition(edge_partitions(class_transcripts.count()), "class_id")
        .cache()
    )

    return em_loop(
        class_counts,
        edges,
        transcripts,
        k,
        max_iterations,
        calibrate_length_bias=calibrate_length_bias,
        t_len=t_len,
        timers=timers,
        checkpoint_dir=checkpoint_dir,
    )


def em_loop(
    class_counts: DataFrame,
    edges: DataFrame,
    transcripts: DataFrame,
    k: int,
    max_iterations: int,
    calibrate_length_bias: bool = True,
    t_len: DataFrame | None = None,
    timers=None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """The EM driver core over PRE-BUILT state — the loop every entry
    point shares. ``quantify`` builds the state from reads + index
    tables and delegates here; callers whose class keys admit a cheaper
    state construction (``em_quantify``'s per-(doc, cnt) classes fuse
    class_counts and the enriched edge table into projections of ONE
    aggregate — r10 stage attribution put 87% of the flagship's sf100
    wall time in the generic state build, not this loop) hand their
    state straight to the same iterations, so the gate's one-iteration
    twin (``em_two_steps``, via quantify) still certifies the exact
    code path the flagship runs.

    The loop runs :func:`em_iterations` iterations: ``max_iterations``
    when some class has two or more edge rows, and ONE when every class
    has a single member. Such an EM sits at its fixed point after
    iteration 1 — the E-step's α is µ_i / µ_i = 1.0 exactly, so each
    later iteration sums the same terms in the same plan and returns
    the same µ bit for bit — and iterations 2..N would only re-run it.
    The price on multi-member input is the probe: one more aggregate
    job before the loop.

    ``class_counts`` is (class_id, cnt); ``edges`` is the ENRICHED
    membership table (class_id, t_id, rel_p, t_len, ...), pre-partitioned
    on class_id and cached by the caller (each iteration's E-step window
    then reuses that partitioning with no exchange). ``t_len`` is only
    needed when ``calibrate_length_bias`` is on."""
    from rnadam_spark import instrument as ins
    from rnadam_spark.algorithms import tare

    if calibrate_length_bias and t_len is None:
        raise ValueError("calibrate_length_bias=True requires t_len")

    alpha = initialize_em(class_counts, edges)
    mu = m_step(alpha, None, k, None, normalize=False)
    mu = ins.timed(timers, ins.INIT_EM, mu)

    for i in range(em_iterations(edges, max_iterations)):
        # mu is n_transcripts rows: truncating the whole EM lineage here
        # is near-free (the reference never truncated — its plan depth
        # grew linearly with iterations). Cadence is a measured trade:
        # without ANY truncation each broadcast exchange re-executes
        # all prior iterations (45.9s vs 8.3s for the 5-iteration
        # flagship at sf0.1, truncating every 5 vs every 1, r8);
        # every 2 — one eager action per TWO iterations, the skipped
        # iteration's subtree materializing once inside the next E-step
        # broadcast — lost under r8's 32-partition edge cache (9.20 vs
        # 8.66s) but WINS since r13 §7 sized the cache from the data:
        # loop-only min-of-k, every 2 vs every 1 — sf10 12.14 vs
        # 13.73s, sf100 58.29 vs 61.57s (sf0.1 is a coin flip across
        # artifacts; OPTIMIZATION_r13.md §19), so the cadence is fixed
        # at 2.
        # Also measured and rejected: transporting mu through the
        # driver (collect + createDataFrame per iteration — mu is
        # bounded model state, so it is legal) was SLOWER than
        # localCheckpoint at sf0.1 (5.23s vs 4.91s warm min-of-3,
        # identical results): the collect round-trip costs more than
        # the checkpoint write.
        if (i + 1) % CHECKPOINT_EVERY == 0:
            mu = truncate_lineage(mu, checkpoint_dir)
        if timers is None:
            alpha = e_step(mu, edges)
            mu = m_step(alpha, None, k, None, normalize=False)
        else:
            with timers.stage(ins.EM_ITER):
                alpha = ins.timed(timers, ins.E_STAGE, e_step(mu, edges))
                mu = ins.timed(
                    timers, ins.M_STAGE, m_step(alpha, None, k, None, normalize=False)
                )

    # µ is one row per transcript (bounded model state): materialize it
    # once as a single partition sorted by t_id, so the tail's global
    # sums add in t_id order whether the plan above was forced stage by
    # stage (timers) or lazy, and whatever the edge layout
    mu = truncate_lineage(mu.repartition(1).sortWithinPartitions("t_id"), checkpoint_dir)

    # one global rescale replaces the reference's per-iteration ones —
    # scale cancels inside the loop (see m_step docstring)
    mu = normalize_mu(mu)

    if calibrate_length_bias:
        mu = ins.timed(timers, ins.CAL_LENGTH, tare.calibrate_tx_len_bias(mu, t_len))

    return join_transcripts(transcripts, mu)
