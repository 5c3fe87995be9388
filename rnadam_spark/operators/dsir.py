"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023).

Selects raw-corpus documents that look like a small high-quality target
corpus (e.g. Wikipedia + books) by importance weights over hashed
n-gram features — the published recipe behind several open pre-training
corpora, and the piece of the curation surface between the pure
heuristics (``text.quality_scores``) and the trained models
(``lm.lm_perplexity``, ``lm.classifier_score``): it needs no labels and
no gradient training, just two bag-of-ngrams distributions.

Recipe (paper §3, re-expressed Spark-first):

1. **Features**: each document is a bag of word uni+bigrams hashed into
   ``n_buckets`` integer buckets (the paper's "hashed n-gram features").
   Hashing is the engine's portable polynomial family
   (``functions/hashing.py``) in exact integer arithmetic, so the
   DuckDB oracle reproduces bucket ids bit-for-bit.
2. **Distributions**: bucket-count tables for the target and raw
   corpora — one Arrow-batched pass each, folding every batch into one
   Python ``Counter`` (≤ ``n_buckets`` partial rows per task), then one
   bounded groupBy. Output is ≤ ``n_buckets`` rows regardless of corpus
   size (same boundedness argument as ``lm.train_char_lm``).
   :func:`dsir_log_weights_self` histograms both corpora in one pass
   when the target is a row-local predicate of the raw corpus.
3. **Log importance weight** per raw document::

       log w(d) = Σ_{g ∈ features(d)} [ ln p_target(bucket(g))
                                       − ln p_raw(bucket(g)) ]

   with add-α smoothed probabilities ``(cnt+α)/(total+α·B)`` so unseen
   buckets stay finite. The ≤ ``n_buckets``-row (bucket → log-ratio)
   table is computed on the JVM, collected to a dict and broadcast;
   one Arrow pass then emits each document's final
   (doc_id, n_features, log_weight) row — no corpus explode, no join,
   no exchange.
4. **Gumbel-top-k resampling**: sampling without replacement with
   probability ∝ w(d) is equivalent to taking the top fraction by
   ``log w(d) + Gumbel noise``. The noise is deterministic —
   ``−ln(−ln(u))`` with ``u`` from a universal hash of doc_id
   (``sampling._sample_code``) — so the selected set is reproducible
   across runs, partitionings, and engines. Selection uses the
   broadcast-threshold form (one aggregate + projection filter, no
   global sort, no window): the skew-safe shape from
   ``sampling.top_fraction_per_group_threshold``.

Scale: steps 1–2 are bounded-output aggregations; step 3 is a row-local
pass; step 4 is an aggregate plus a pushdown-friendly filter. Nothing
is quadratic, nothing funnels a hot key into one task, and the only
broadcast state is O(n_buckets).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rnadam_spark.functions.hashing import BASE, MOD
from rnadam_spark.operators.sampling import _sample_code

HASH_CHARS = 8  # chars of each n-gram fed to the polynomial hash


# module scope, not per-document (the Arrow kernels call _py_doc_buckets
# once per corpus row): Java \s is the ASCII class
_JAVA_WS = re.compile("[ \t\n\x0b\f\r]+")


def _py_bucket(gram: str, n_buckets: int) -> int:
    """rpad-8 polynomial hash of one gram, reduced mod n_buckets —
    ``poly_hash_col(rpad(gram, 8, '_'), 8) % n_buckets`` in exact
    integer arithmetic (BASE/MOD from functions/hashing)."""
    g = gram[:HASH_CHARS].ljust(HASH_CHARS, "_")
    acc = ord(g[0])
    for i in range(1, HASH_CHARS):
        acc = (acc * BASE + ord(g[i])) % MOD
    return acc % n_buckets


def _py_doc_buckets(text, n_buckets: int, ns: tuple[int, ...]) -> list[int]:
    """Hashed n-gram feature buckets of one document, with multiplicity
    (DSIR weights count every occurrence): Java-``\\s`` tokens, all
    grams of the first width in ``ns``, then the next (the summation
    order of the log weight), rpad-8 polynomial hash per gram."""
    toks = [w for w in _JAVA_WS.split(text) if w] if text is not None else []
    out: list[int] = []
    for n in ns:
        if n == 1:
            out.extend(_py_bucket(t, n_buckets) for t in toks)
        else:
            out.extend(
                _py_bucket(" ".join(toks[i : i + n]), n_buckets)
                for i in range(len(toks) - n + 1)
            )
    return out


def bucket_counts(
    corpus: DataFrame,
    n_buckets: int = 10_000,
    ns: tuple[int, ...] = (1, 2),
    text_col: str = "text",
) -> DataFrame:
    """(bucket, cnt): hashed-n-gram bucket counts of a corpus — the
    distribution table for one side of the importance ratio, ≤
    ``n_buckets`` rows however large the corpus. One Counter per Arrow
    batch (Python map-side combine), then one bounded groupBy. With
    the fused :func:`dsir_log_weights` scorer this measured 17.7 →
    11.4 s at sf10 for the dsir gate row against the explode +
    broadcast-join forms, its value-equality oracles in
    tests/test_dsir.py."""

    def batches(it):
        from collections import Counter

        import pandas as pd

        c: Counter = Counter()
        for pdf in it:
            for text in pdf[text_col]:
                c.update(_py_doc_buckets(text, n_buckets, ns))
        yield pd.DataFrame({"bucket": list(c.keys()), "p": list(c.values())})

    part = corpus.select(text_col).mapInPandas(batches, "bucket bigint, p bigint")
    return part.groupBy("bucket").agg(F.sum("p").cast("bigint").alias("cnt"))


def dsir_log_weights(
    raw_docs: DataFrame,
    target_counts: DataFrame,
    raw_counts: DataFrame,
    n_buckets: int = 10_000,
    alpha: float = 1.0,
    ns: tuple[int, ...] = (1, 2),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_features, log_weight): per-document log importance
    weight under the hashed-n-gram bag model. The per-doc grain is
    row-local, so with the ≤ n_buckets log-ratio table collected to a
    dict one Arrow pass emits the final rows — no corpus-sized
    explode, no join, no doc_id re-aggregation. ``n_features`` counts
    EVERY feature occurrence, hit or not; buckets missing from the
    ratio table add nothing to the sum; documents with no tokens (and
    NULL text) keep n_features 0 and log_weight 0.0 (an audit row
    never vanishes — the ``lm_perplexity`` convention); 6dp half-up
    rounding. ``doc_id`` keeps the input's type.

    EAGER AT CONSTRUCTION (the ``genomics_q.em_state`` contract): the
    log-ratio collect runs both histogram scans when this function is
    CALLED, not when the returned DataFrame is acted on."""
    import math

    ratios = {
        r["bucket"]: r["log_ratio"]
        for r in _log_ratio_table(target_counts, raw_counts, n_buckets, alpha).collect()
    }
    bc = raw_docs.sparkSession.sparkContext.broadcast(ratios)
    id_type = dict(raw_docs.dtypes)[id_col]
    out_schema = f"{id_col} {id_type}, n_features bigint, log_weight double"

    def batches(it):
        import pandas as pd

        R = bc.value
        for pdf in it:
            rows = {id_col: [], "n_features": [], "log_weight": []}
            for did, text in zip(pdf[id_col], pdf[text_col]):
                bs = _py_doc_buckets(text, n_buckets, ns)
                s = 0.0
                for b in bs:
                    lr = R.get(b)
                    if lr is not None:
                        s += lr
                rows[id_col].append(did)
                rows["n_features"].append(len(bs))
                rows["log_weight"].append(math.floor(s * 1e6 + 0.5) / 1e6)
            yield pd.DataFrame(rows)

    return raw_docs.select(id_col, text_col).mapInPandas(batches, out_schema)


def dsir_log_weights_self(
    raw_docs: DataFrame,
    is_target: Column,
    n_buckets: int = 10_000,
    alpha: float = 1.0,
    ns: tuple[int, ...] = (1, 2),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`dsir_log_weights` for the SELF-SAMPLE shape — target ⊆
    raw selected by a row-local predicate column (the registered
    query's ``hash_sample`` of the same documents table). One Arrow
    pass histograms BOTH corpora (each task keeps a raw and a target
    Counter; target docs add to both), replacing the separate
    target-corpus scan: 3 → 2 corpus passes for the full weights query
    (a vectorized numpy bucket kernel was also measured and rejected,
    see OPTIMIZATION_r13.md). Counts are exact integers identical to
    two :func:`bucket_counts` calls, re-materialized as bounded local
    tables so :func:`_log_ratio_table` computes the SAME ratio doubles;
    the scoring pass is unchanged. EAGER AT CONSTRUCTION (the
    histogram pass runs when this is called)."""
    spark = raw_docs.sparkSession

    def hist_batches(it):
        from collections import Counter

        import pandas as pd

        c_raw: Counter = Counter()
        c_tgt: Counter = Counter()
        for pdf in it:
            for text, t in zip(pdf[text_col], pdf["_t"]):
                bs = _py_doc_buckets(text, n_buckets, ns)
                c_raw.update(bs)
                if t:
                    c_tgt.update(bs)
        yield pd.DataFrame(
            {
                "bucket": list(c_raw.keys()),
                "p_raw": list(c_raw.values()),
                "p_tgt": [c_tgt.get(b, 0) for b in c_raw.keys()],
            }
        )

    part = raw_docs.select(
        F.col(text_col), is_target.cast("boolean").alias("_t")
    ).mapInPandas(hist_batches, "bucket bigint, p_raw bigint, p_tgt bigint")
    rows = (
        part.groupBy("bucket")
        .agg(
            F.sum("p_raw").cast("bigint").alias("r"),
            F.sum("p_tgt").cast("bigint").alias("t"),
        )
        .collect()
    )
    rc = spark.createDataFrame(
        [(r["bucket"], r["r"]) for r in rows], "bucket bigint, cnt bigint"
    )
    tc = spark.createDataFrame(
        [(r["bucket"], r["t"]) for r in rows if r["t"] > 0], "bucket bigint, cnt bigint"
    )
    return dsir_log_weights(raw_docs, tc, rc, n_buckets, alpha, ns, text_col, id_col)


def _log_ratio_table(
    target_counts: DataFrame,
    raw_counts: DataFrame,
    n_buckets: int,
    alpha: float,
) -> DataFrame:
    """(bucket, log_ratio): ln p̂_target(b) − ln p̂_raw(b) with add-α
    smoothing. Totals ride the plan as broadcast 1-row aggregates (the
    PageRank dangling-mass trick) — no driver collect. Buckets unseen
    by BOTH corpora are absent; scoring treats them as log_ratio 0,
    which equals the smoothed value ln(α/(T+αB)) − ln(α/(R+αB)) only
    when T=R — callers wanting the exact smoothed tail can densify, but
    a bucket no corpus ever produced cannot appear in a scored doc's
    features drawn from the raw corpus used here, so the fast path is
    exact for :func:`dsir_log_weights` on the same raw corpus.

    Each histogram is consumed TWICE below (the counts and their
    total), and each is a full corpus scan upstream — so both are
    materialized (≤ n_buckets rows) first and the scans run once
    (sf10 gate row 15.3 → ~9 s). truncate_lineage is EAGER: the two
    corpus scans run when this function is called."""
    from rnadam_spark.lineage import truncate_lineage

    target_counts = truncate_lineage(target_counts)
    raw_counts = truncate_lineage(raw_counts)
    t_total = target_counts.agg(F.sum("cnt").alias("_t_total"))
    r_total = raw_counts.agg(F.sum("cnt").alias("_r_total"))
    t = target_counts.select("bucket", F.col("cnt").alias("_t_cnt"))
    r = raw_counts.select("bucket", F.col("cnt").alias("_r_cnt"))
    joined = (
        t.join(r, "bucket", "full_outer")
        .crossJoin(F.broadcast(t_total))
        .crossJoin(F.broadcast(r_total))
    )
    b = float(n_buckets)
    log_ratio = (
        F.log(F.coalesce(F.col("_t_cnt"), F.lit(0)) + F.lit(alpha))
        - F.log(F.coalesce(F.col("_t_total"), F.lit(0)) + F.lit(alpha * b))
        - F.log(F.coalesce(F.col("_r_cnt"), F.lit(0)) + F.lit(alpha))
        + F.log(F.coalesce(F.col("_r_total"), F.lit(0)) + F.lit(alpha * b))
    )
    return joined.select("bucket", log_ratio.alias("log_ratio"))


def gumbel_key(log_weight: Column, id_code: Column) -> Column:
    """Gumbel-top-k sampling key: log w + G where G = −ln(−ln u) and
    u ∈ (0,1) is derived from the deterministic id hash. Taking the top
    fraction by this key draws without replacement with probability
    ∝ w — the Gumbel-max trick, reproducible because u is a hash."""
    u = (id_code + F.lit(1.0)) / F.lit(float(MOD + 1))
    return log_weight - F.log(-F.log(u))


#: Above this row count the exact ``percentile`` aggregate — whose
#: internal value→count map is O(distinct keys), and Gumbel keys are
#: essentially all-distinct — switches to ``percentile_approx``. 10⁷
#: distinct doubles ≈ hundreds of MB of aggregation buffer; beyond that
#: the exact form is an executor/driver OOM at corpus scale.
DSIR_EXACT_PERCENTILE_MAX_ROWS = 10_000_000

#: approx_percentile accuracy: threshold error ≤ 1/accuracy of the key
#: distribution — at 1e-5 relative rank error the selected-set size
#: deviates by ≤0.001% of the corpus, and membership only flips for
#: rows within that sliver of the boundary.
DSIR_APPROX_ACCURACY = 100_000


def dsir_select(
    weights: DataFrame,
    fraction: float,
    seed: int = 29,
    weight_col: str = "log_weight",
    id_col: str = "doc_id",
    exact: bool | None = None,
) -> DataFrame:
    """Keep ~``fraction`` of rows by Gumbel-top-k over ``weight_col`` —
    the resampling step of DSIR. Deterministic in (id, seed).

    Selection is the broadcast-threshold shape, not a global sort: one
    percentile aggregate over the Gumbel keys (partial-merges per
    partition) broadcast back as a literal-like 1-row table, then a
    projection filter. Ties at the boundary all survive.

    Threshold form auto-switches on scale: the Gumbel keys are 6-dp
    log-weights plus continuous hash noise — essentially all-distinct —
    so exact ``percentile``'s value→count map is O(corpus rows) in one
    final aggregation buffer, a guaranteed OOM at the 100 TB design
    point. Below ``DSIR_EXACT_PERCENTILE_MAX_ROWS`` (counted on the
    already-materialized keyed table, so the count is a cheap scan of
    checkpointed blocks) the exact aggregate runs; above it,
    ``percentile_approx`` at ``DSIR_APPROX_ACCURACY`` (bounded KLL-style
    sketch state regardless of corpus size). Pass ``exact=True/False``
    to pin either form.

    The keyed table materializes at a stage boundary first: the
    threshold aggregate and the filter are two consumers of the same
    subtree, and when ``weights`` is the full corpus-scoring chain
    (:func:`dsir_log_weights`) Spark would otherwise execute that
    chain twice — the duplicated_spans/guards discipline. The
    materialized state is one slim row per document."""
    from rnadam_spark.lineage import truncate_lineage

    keyed = truncate_lineage(
        weights.withColumn(
            "_gk", gumbel_key(F.col(weight_col), _sample_code(F.col(id_col), seed))
        )
    )
    if exact is None:
        exact = keyed.count() <= DSIR_EXACT_PERCENTILE_MAX_ROWS
    if exact:
        thr_expr = f"percentile(_gk, {1.0 - fraction})"
    else:
        thr_expr = (
            f"approx_percentile(_gk, {1.0 - fraction}, {DSIR_APPROX_ACCURACY})"
        )
    thr = keyed.agg(F.expr(thr_expr).alias("_thr"))
    return (
        keyed.crossJoin(F.broadcast(thr))
        .filter(F.col("_gk") >= F.col("_thr"))
        .drop("_gk", "_thr")
    )


def dsir(
    raw_docs: DataFrame,
    target_docs: DataFrame,
    fraction: float,
    n_buckets: int = 10_000,
    alpha: float = 1.0,
    ns: tuple[int, ...] = (1, 2),
    seed: int = 29,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_features, log_weight): the ~``fraction`` of
    ``raw_docs`` whose hashed-n-gram profile best matches
    ``target_docs``, end to end: distributions → log weights →
    Gumbel-top-k resample. Join the result back to the corpus on
    ``doc_id`` to materialize the selected text.

    Two :func:`bucket_counts` passes, the fused
    :func:`dsir_log_weights` scorer, then :func:`dsir_select`. Eager at
    construction (the log-ratio collect). Callers whose target is a
    row-local predicate of ``raw_docs`` itself should prefer
    :func:`dsir_log_weights_self` + :func:`dsir_select` — one
    histogram pass instead of two."""
    tc = bucket_counts(target_docs, n_buckets, ns, text_col)
    rc = bucket_counts(raw_docs, n_buckets, ns, text_col)
    w = dsir_log_weights(raw_docs, tc, rc, n_buckets, alpha, ns, text_col, id_col)
    return dsir_select(w, fraction, seed, "log_weight", id_col)
