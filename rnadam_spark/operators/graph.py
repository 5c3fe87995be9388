"""Iterative graph scoring: PageRank over an edge DataFrame.

Web-curation pipelines weight documents by source authority (quality
classifiers use domain rank as a feature; sampling upweights reputable
domains). The link graph arrives as edges (src, dst) — e.g. document
domains → domains they link to, from ``operators/web.urls_of`` — and
PageRank turns it into a stationary score per node.

Scale shape, mirroring the engine's other driver-loop algorithms (EM
``algorithms/quantify.py``, connected components
``operators/clustering.py``):

- ranks and out-degrees are node-keyed DataFrames; per iteration ONE
  join (edges ⋈ ranks — both sides hash-partition on the same key, so
  a reused partitioning serves every iteration) + one groupBy(dst)
  whose sum partial-aggregates map-side;
- dangling nodes (no out-edges) leak their mass; the standard fix
  redistributes it uniformly — the dangling sum rides IN the plan as a
  broadcast one-row aggregate over the previous (materialized) ranks,
  folded into the teleport term, so an iteration is exactly ONE action
  (the eager truncation) and nothing crosses to the driver;
- lineage truncates every iteration (``checkpoint_dir`` switches to
  reliable checkpoints, as everywhere else).
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rnadam_spark.lineage import truncate_lineage

#: target edge rows per partition for the opt-in loop-static edge
#: cache — scale-adaptive (sf0.1 → 1 partition, ~10^9 edges →
#: thousands), the same data-derived sizing as the EM edge cache
#: (``algorithms.quantify.edge_partitions``, r13 §7). 62.5k measured better
#: than 250k at sf10 (4.17 vs 5.65s); override per cluster.
_EDGE_ROWS_PER_PART = int(
    os.environ.get("SPARK_GRAFT_PR_EDGE_ROWS_PER_PART", "62500")
)


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    checkpoint_dir: str | None = None,
    cache_edges: bool = False,
) -> DataFrame:
    """(node, rank): PageRank after ``iterations`` power steps with
    uniform teleport and uniform dangling-mass redistribution; ranks
    sum to 1 every iteration. Duplicate (src, dst) rows count as
    parallel edges (weight by multiplicity); self-loops participate
    like any edge.

    ``cache_edges`` (r13): materialize the loop-static edge table once,
    hash-partitioned on the join key with a data-derived partition
    count, so iterations stop re-executing the edge subtree. Default
    FALSE by measurement, not theory: over the registered row's cheap
    projected edges the lazy form ties or wins at every measurable
    decade (sf10 interleaved min-of-3: lazy 4.03–4.36s vs cache 4.17s
    at 62.5k rows/part, 5.65s at 250k — ranks are node-sized so the
    per-iteration join BROADCASTS them and never shuffles the edge
    side; the cache only saves the re-scan, and its materialization +
    reduced scan parallelism cost more than those re-scans here). Opt
    IN when the edge subtree is expensive to recompute — e.g. edges
    extracted from document text — where (iterations − 1) saved
    corpus passes dominate; ``ab.pagerank`` re-measures the trade
    every round. Ranks identical either way (tests/test_graph.py)."""
    nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    nodes = truncate_lineage(nodes.repartition("node"), checkpoint_dir)
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    out_deg = edges.groupBy(F.col(src).alias("node")).agg(
        F.count("*").alias("_deg")
    )
    # loop-static: node set with out-degree (null degree = dangling)
    base = truncate_lineage(nodes.join(out_deg, "node", "left"), checkpoint_dir)
    ranks = base.select("node", F.lit(1.0 / n).alias("rank"), "_deg")
    e = edges.select(F.col(src).alias("node"), F.col(dst).alias("_dst"))
    # r13 (guide §2.4/§5): the edge table is loop-STATIC but was left
    # lazy, so every iteration re-executed its whole upstream subtree
    # (scan + transforms) AND re-shuffled it into the join. Materialize
    # it ONCE, hash-partitioned on the join key with a data-derived
    # partition count (truncate_lineage preserves the partitioning, so
    # each iteration's join exchanges only the node-sized ranks table).
    # Edge count comes free off the already-materialized degree table —
    # Σ out-degree — a 1-row aggregate, not a corpus pass.
    if cache_edges:
        n_edges = int(
            base.agg(F.coalesce(F.sum("_deg"), F.lit(0)).alias("m")).collect()[0]["m"]
        )
        e = truncate_lineage(
            e.repartition(max(1, math.ceil(n_edges / _EDGE_ROWS_PER_PART)), "node"),
            checkpoint_dir,
        )
    for _ in range(iterations):
        # dangling mass as a broadcast 1-row aggregate over the PREVIOUS
        # (materialized) ranks — never a driver collect, and the whole
        # iteration is the single action the truncation runs
        dang = ranks.agg(
            F.coalesce(
                F.sum(F.when(F.col("_deg").isNull(), F.col("rank"))), F.lit(0.0)
            ).alias("_dang")
        )
        contrib = (
            e.join(ranks, "node")
            .select(F.col("_dst").alias("node"), (F.col("rank") / F.col("_deg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            base.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping / n) * F.col("_dang")
                    + F.lit(damping) * F.coalesce("inflow", F.lit(0.0))
                ).alias("rank"),
                "_deg",
            )
        )
        ranks = truncate_lineage(ranks, checkpoint_dir)
    return ranks.select("node", F.floor(F.col("rank") * 1e9 + F.lit(0.5)).alias("_r")).select(
        "node", (F.col("_r") / 1e9).alias("rank")
    )
