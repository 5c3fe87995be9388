"""Corpus snapshot diffing for dataset versioning.

Pre-training corpora are rebuilt from periodic snapshots (monthly
crawls, dataset releases); the expensive stages (signatures, embeddings,
LM scores) should re-run only for documents that actually changed. This
operator computes the per-document delta between two corpus versions so
downstream incremental stages (``dedup.incremental_near_dups``,
``similarity.incremental_semantic_dups``, the signature-store ``ingest``
CLI) can be fed exactly the added+changed slice.

Shape: content compares by md5 (the engine's exact-dedup hash), one
full-outer join on the document id — both sides hash-partition on the
same key, no skew beyond id collisions, and the projection before the
join carries only (id, hash), so the join never moves document text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, status) for every document id in either snapshot:
    ``added`` (only in new), ``removed`` (only in old), ``changed``
    (both, different content hash), ``unchanged``. Feed
    ``.filter("status in ('added','changed')")`` joined back to the new
    snapshot into the incremental stages."""
    # NULL text hashes to a sentinel, not NULL: a document whose text
    # went null between snapshots (a broken extraction stage — exactly
    # what diffing should catch) must report 'changed', not vanish into
    # 'removed'/'added' because md5(NULL) is NULL
    h = lambda c: F.coalesce(F.md5(F.col(c)), F.lit("<null-text>"))  # noqa: E731
    o = old.select(F.col(id_col), h(text_col).alias("_h_old"))
    n = new.select(F.col(id_col), h(text_col).alias("_h_new"))
    return o.join(n, id_col, "full_outer").select(
        id_col,
        F.when(F.col("_h_old").isNull(), "added")
        .when(F.col("_h_new").isNull(), "removed")
        .when(F.col("_h_old") == F.col("_h_new"), "unchanged")
        .otherwise("changed")
        .alias("status"),
    )


def vocabulary_shift(
    old: DataFrame,
    new: DataFrame,
    top_k: int | None = 50,
    text_col: str = "text",
) -> DataFrame:
    """(token, p_old, p_new, js_contribution): token-distribution drift
    between two corpus snapshots — the monitoring stat that catches a
    crawl suddenly full of spam, a language mix shift, or a broken
    extraction stage BEFORE the tokens reach training. ``p_*`` are term
    frequencies normalized per snapshot; ``js_contribution`` is the
    token's summand of the Jensen-Shannon divergence
    (``½·p·ln(p/m) + ½·q·ln(q/m)``, ``m = (p+q)/2`` — finite with
    zeros, no smoothing needed, and the contributions SUM to the JS
    divergence, so ``agg(sum(js_contribution))`` is the scalar drift
    number). ``top_k`` keeps the biggest movers via TakeOrdered.

    Shape: each vocabulary is one Arrow Counter pass + one token
    groupBy (partial aggregates map-side; output bounded by the
    language's vocabulary, not corpus size), then a token-keyed
    full-outer join of the two bounded tables with broadcast scalar
    totals."""
    from rnadam_spark.operators.text import vocabulary

    def probs(df: DataFrame, name: str) -> DataFrame:
        v = vocabulary(df, text_col=text_col).select("token", "tf")
        tot = v.agg(F.sum("tf").alias("_tot"))
        return v.crossJoin(F.broadcast(tot)).select(
            "token", (F.col("tf").cast("double") / F.col("_tot")).alias(name)
        )

    joined = probs(old, "p_old").join(probs(new, "p_new"), "token", "full_outer")
    p = F.coalesce(F.col("p_old"), F.lit(0.0))
    q = F.coalesce(F.col("p_new"), F.lit(0.0))
    m = (p + q) / 2
    term = lambda x: F.when(x > 0, 0.5 * x * F.log(x / m)).otherwise(F.lit(0.0))  # noqa: E731
    out = joined.select(
        "token",
        p.alias("p_old"),
        q.alias("p_new"),
        (term(p) + term(q)).alias("js_contribution"),
    )
    if top_k is not None:
        return out.orderBy(F.col("js_contribution").desc(), "token").limit(top_k)
    return out


def diff_summary(diff: DataFrame) -> dict[str, int]:
    """{status: count} from a :func:`corpus_diff` result — four scalars
    to the driver (the bounded-loop-state pattern), for release notes
    and monitoring."""
    rows = diff.groupBy("status").agg(F.count("*").alias("n")).collect()
    out = {s: 0 for s in ("added", "removed", "changed", "unchanged")}
    out.update({r["status"]: r["n"] for r in rows})
    return out
