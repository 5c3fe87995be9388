"""Connected components over candidate-pair edges — dedup clustering.

The near-dup operators (``dedup.lsh_candidate_pairs``,
``dedup.ngram_jaccard_pairs``, ``similarity.bucket_near_pairs``) emit
EDGES; acting on duplicates needs CLUSTERS — a canonical document per
connected component of the pair graph, since near-duplication is only
transitive through the graph. The reference's equivalence classing
(rice-core/.../algorithms/Index.scala:95-98) is the degenerate case
where the signature is exact and one groupBy suffices; the general case
is an iterative graph closure.

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC 2014) — converges
in O(log n) rounds. Naive min-label propagation needs O(diameter)
rounds: a chained run of boilerplate documents (A~B~C~... with no
direct A~C edge) is exactly the shape near-dup graphs take, and a
100 TB corpus can chain thousands deep; the star rounds collapse any
component in ~log₂ rounds regardless of shape.

Scale design: each round is two groupBy-min + join stages on the edge
set (never materializing neighborhoods as arrays — a hot node's edges
stay row-distributed, and groupBy(min) partial-aggregates map-side, so
a 10⁶-degree boilerplate hub contributes one row per input partition to
the shuffle). The edge set localCheckpoints every round: each round's
convergence check is an action, and without truncation round k would
re-execute rounds 1..k-1 under every broadcast re-plan (same lineage
hazard as the EM loop, quantify.py:221-230).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rnadam_spark.lineage import truncate_lineage


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every larger neighbor v to
    m = min(N(u) ∪ {u}). Emitted edges keep the (bigger, smaller)
    orientation: v > u ≥ m."""
    sym = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    m = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("_mn"))
        .select("src", F.least("_mn", F.col("src")).alias("m"))
    )
    return (
        sym.filter(F.col("dst") > F.col("src"))
        .join(m, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges (max, min); for each node u connect every smaller
    neighbor (and u itself) to m = min of u's smaller neighbors."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    m = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    children = (
        oriented.join(m, "src")
        .filter(F.col("dst") != F.col("m"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    selfs = m.select("src", F.col("m").alias("dst"))
    return children.union(selfs)


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_rounds: int = 50,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(node, component): connected components of the undirected pair
    graph; ``component`` is the smallest node id in the component (the
    canonical-duplicate convention). Nodes appearing in no pair are not
    in the input and so not in the output — union the full corpus with
    ``coalesce(component, id)`` downstream if singletons are wanted.

    Runs star rounds to a fixpoint (edge-set checksum stable), bounded
    by ``max_rounds`` as a runaway guard; O(log n) rounds suffice, so 50
    covers any feasible component size. Running out of rounds before
    the fixpoint raises ``RuntimeError`` rather than returning
    unconverged labels.

    ``checkpoint_dir``: per-round truncation switches from
    ``localCheckpoint`` to reliable ``checkpoint`` into that directory
    (survives executor loss — the 100 TB form; see rnadam_spark.lineage).
    Here the checkpointed state is the full edge set, so the per-round
    cost is a write+read of the edges — accept it when rounds are long
    enough that losing them to a preempted executor costs more."""
    # materialize the deduped input edges ONCE: round 1 and the final
    # all_nodes both consume them, and the upstream pair subtree is the
    # expensive part (an LSH/cell join with per-pair cosines) — without
    # this boundary it re-executed for each consumer (measured: the
    # semantic_dedup extra drops 12.9s → 5.3s min-of-3 at sf0.1)
    edges0 = truncate_lineage(
        pairs.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct(),
        checkpoint_dir,
    )
    edges = edges0
    prev: tuple | None = None
    for _ in range(max_rounds):
        # LAZY truncation (r14, guide §1.2/§5): the fixpoint probe below
        # is the round's action anyway, so it materializes the
        # checkpoint as a side effect. With ``localCheckpoint`` that is
        # ONE job per round where the eager form paid two (an eager
        # count, then the probe re-reading the blocks; measured on the
        # registered dedup_clusters chain: the probe is the only
        # consumer before the next round, so the fused job computes the
        # star round exactly once). With ``checkpoint_dir`` the reliable
        # checkpoint runs its own job after the probe and recomputes the
        # round to write it, so each round runs the star round twice.
        edges = truncate_lineage(
            _small_star(_large_star(edges)).distinct(), checkpoint_dir, eager=False
        )
        # cheap fixpoint probe: count + key sums + order-insensitive hash
        # sum — collision across rounds would need two distinct edge sets
        # agreeing on all four aggregates. Decimal sums: bigint sums of
        # full-range hashes overflow (ANSI), decimal(38) cannot.
        sig = tuple(
            edges.agg(
                F.count("*"),
                F.sum(F.col("src").cast("decimal(38,0)")),
                F.sum(F.col("dst").cast("decimal(38,0)")),
                F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")),
            ).collect()[0]
        )
        if sig == prev:
            break
        prev = sig
    else:
        raise RuntimeError(
            f"connected_components: no fixpoint after max_rounds={max_rounds} "
            f"({max_rounds} rounds run)"
        )
    # converged edges are stars (child, root); roots map to themselves
    mapping = edges.groupBy("src").agg(F.min("dst").alias("component"))
    all_nodes = (
        edges0.select(F.col("src").alias("node"))
        .union(edges0.select(F.col("dst").alias("node")))
        .distinct()
    )
    return all_nodes.join(
        mapping.withColumnRenamed("src", "node"), "node", "left"
    ).select("node", F.coalesce("component", F.col("node")).alias("component"))
