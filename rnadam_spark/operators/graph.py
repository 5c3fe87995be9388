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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rnadam_spark.lineage import truncate_lineage


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(node, rank): PageRank after ``iterations`` power steps with
    uniform teleport and uniform dangling-mass redistribution; ranks
    sum to 1 every iteration. Duplicate (src, dst) rows count as
    parallel edges (weight by multiplicity); self-loops participate
    like any edge.

    The loop-static edge table stays lazy: over projected edges it tied
    or beat a materialized, hash-partitioned edge cache at every
    measured decade (sf10 interleaved min-of-3: 4.03–4.36 vs 4.17s,
    OPTIMIZATION_r13.md). Ranks are node-sized, so the per-iteration
    join broadcasts them and never shuffles the edge side; a cache
    would only save the re-scan. Callers whose edges are expensive to
    recompute (e.g. extracted from document text) should materialize
    them before the call."""
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
