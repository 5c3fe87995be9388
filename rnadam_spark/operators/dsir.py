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
   Hashing reuses the engine's portable polynomial family
   (``functions/hashing.py``) so the oracle reproduces bucket ids
   bit-for-bit.
2. **Distributions**: bucket-count tables for the target and raw
   corpora — one explode + one groupBy each, output bounded by
   ``n_buckets`` rows regardless of corpus size, so both models always
   broadcast (same boundedness argument as ``lm.train_char_lm``).
3. **Log importance weight** per raw document::

       log w(d) = Σ_{g ∈ features(d)} [ ln p_target(bucket(g))
                                       − ln p_raw(bucket(g)) ]

   with add-α smoothed probabilities ``(cnt+α)/(total+α·B)`` so unseen
   buckets stay finite. The corpus is exploded once, joined against the
   broadcast (bucket → log-ratio) table, and re-aggregated by doc_id —
   exactly one exchange, map-side partial agg.
4. **Gumbel-top-k resampling**: sampling without replacement with
   probability ∝ w(d) is equivalent to taking the top fraction by
   ``log w(d) + Gumbel noise``. The noise is deterministic —
   ``−ln(−ln(u))`` with ``u`` from a universal hash of doc_id
   (``sampling._sample_code``) — so the selected set is reproducible
   across runs, partitionings, and engines. Selection uses the
   broadcast-threshold form (one aggregate + projection filter, no
   global sort, no window): the skew-safe shape from
   ``sampling.top_fraction_per_group_threshold``.

Scale: steps 1–2 are bounded-output aggregations; step 3 shuffles the
corpus once on doc_id; step 4 is an aggregate plus a pushdown-friendly
filter. Nothing is quadratic, nothing funnels a hot key into one task,
and the only broadcast tables are O(n_buckets).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rnadam_spark.functions.hashing import BASE, MOD, poly_hash_col
from rnadam_spark.functions.rounding import hround
from rnadam_spark.functions.shingles import ngrams_of, tokens
from rnadam_spark.operators.sampling import _sample_code

HASH_CHARS = 8  # chars of each n-gram fed to the polynomial hash


def _bucket_of(gram: Column, n_buckets: int) -> Column:
    """Bucket id in [0, n_buckets) of an n-gram string — polynomial
    hash of the gram right-padded to ``HASH_CHARS`` chars (the
    ``simhash16`` convention), reduced mod n_buckets. Portable: the
    oracle computes the identical BIGINT."""
    return poly_hash_col(F.rpad(gram, HASH_CHARS, "_"), HASH_CHARS) % F.lit(n_buckets)


def doc_feature_buckets(
    text_col: str | Column = "text",
    n_buckets: int = 10_000,
    ns: tuple[int, ...] = (1, 2),
    toks: Column | None = None,
) -> Column:
    """Array column of hashed n-gram feature buckets for one document
    (with multiplicity — DSIR weights count every occurrence).

    ``toks``: an already-tokenized array column — the staged-prelude
    form (``gopher_prelude`` discipline). Inline, each gram width
    re-tokenizes the document (interpreted higher-order expressions get
    no codegen subexpression elimination), and the n=1 width used to
    build its "grams" as single-element slice+array_join — an expensive
    identity. With a staged token array, unigrams ARE the tokens
    (byte-identical strings, so bucket ids are unchanged) and wider
    grams build from the same array once."""
    t = tokens(text_col) if toks is None else toks
    grams = F.concat(*[t if n == 1 else ngrams_of(t, n) for n in ns])
    # NULL text: tokens(NULL) is NULL and concat propagates it — the
    # coalesce restores the pre-staging contract (empty array, as the
    # per-n token_ngrams guards used to yield), so F.size() on the
    # result stays 0 rather than NULL for null documents
    grams = F.coalesce(grams, F.array().cast("array<string>"))
    return F.transform(grams, lambda g: _bucket_of(g, n_buckets))


# module scope, not per-document (the Arrow kernels call _py_doc_buckets
# once per corpus row — r12 review): Java \s is the ASCII class
_JAVA_WS = re.compile("[ \t\n\x0b\f\r]+")


def _py_bucket(gram: str, n_buckets: int) -> int:
    """rpad-8 polynomial hash of one gram, reduced mod n_buckets —
    exact integer mirror of ``_bucket_of`` (BASE/MOD from
    functions/hashing)."""
    g = gram[:HASH_CHARS].ljust(HASH_CHARS, "_")
    acc = ord(g[0])
    for i in range(1, HASH_CHARS):
        acc = (acc * BASE + ord(g[i])) % MOD
    return acc % n_buckets


def _py_doc_buckets(text, n_buckets: int, ns: tuple[int, ...]) -> list[int]:
    """Python mirror of ``doc_feature_buckets`` for the Arrow twins:
    Java-``\\s`` tokens, grams per width in the SAME concat order the
    JVM form explodes (all of n=1, then all of n=2, ...), rpad-8
    polynomial hash in exact integer arithmetic — bucket ids are
    bit-identical, and the emission ORDER matches so downstream float
    summation order matches too."""
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


def bucket_counts_pandas(
    corpus: DataFrame,
    n_buckets: int = 10_000,
    ns: tuple[int, ...] = (1, 2),
    text_col: str = "text",
) -> DataFrame:
    """Arrow-batched pandas twin of :func:`bucket_counts` — one Counter
    per Arrow batch (Python map-side combine; emits ≤ n_buckets partial
    rows per batch), then one bounded groupBy. All-integer counts, so
    the pin (tests/test_dsir.py) is exact equality. Measured with the
    fused scorer below: 17.7 → 11.4s at sf10 for the full dsir gate
    row (r12) — the gram-string construction
    under interpreted slice+array_join is the contamination shape."""

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


def dsir_log_weights_pandas(
    raw_docs: DataFrame,
    target_counts: DataFrame,
    raw_counts: DataFrame,
    n_buckets: int = 10_000,
    alpha: float = 1.0,
    ns: tuple[int, ...] = (1, 2),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Arrow-batched FUSED twin of :func:`dsir_log_weights` — the
    em_state pattern: the per-doc grain (doc_id) is row-local, so with
    the ≤ n_buckets log-ratio table COLLECTED to a dict one Python pass
    emits the FINAL (id, n_features, log_weight) rows, deleting the
    corpus-sized explode, the broadcast join, and the doc_id
    re-aggregation. Parity mirrored exactly (pinned value-equal by
    tests/test_dsir.py): n_features counts EVERY feature occurrence
    (hit or not — the JVM count("bucket") after a LEFT join); the sum
    skips ratio misses (SUM over nulls) and accumulates in the same
    bucket-emission order the explode produced; NULL/empty text keeps
    its (0, 0.0) audit row; 6dp half-up rounding.

    EAGER AT CONSTRUCTION (the em_state contract, r12 review): the
    log-ratio collect forces both histogram scans when this function
    is CALLED, not when the returned DataFrame is acted on — callers
    composing build-then-maybe-execute plans should defer the call or
    use :func:`dsir_log_weights` with ``materialize=False`` (its
    default is ALSO eager since the r12 barrier — r13 ADVICE fix)."""
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


def dsir_log_weights_self_pandas(
    raw_docs: DataFrame,
    is_target: Column,
    n_buckets: int = 10_000,
    alpha: float = 1.0,
    ns: tuple[int, ...] = (1, 2),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`dsir_log_weights_pandas` for the SELF-SAMPLE shape —
    target ⊆ raw selected by a row-local predicate column (the
    registered query's ``hash_sample`` of the same documents table).
    One Arrow pass histograms BOTH corpora (each task keeps a raw and a
    target Counter; target docs add to both), replacing the separate
    target-corpus scan: 3 → 2 corpus passes for the full weights query
    (r13, guide §2.3 — don't rescan what one pass can count; a
    vectorized numpy bucket kernel was ALSO measured here and REJECTED,
    see OPTIMIZATION_r13.md). Counts are exact integers identical to
    two :func:`bucket_counts_pandas` calls, re-materialized as bounded
    local tables so :func:`_log_ratio_table` computes the SAME ratio
    doubles on the same JVM expressions; the scoring pass is unchanged.
    EAGER AT CONSTRUCTION like every fused dsir form (the histogram
    pass runs when this is called)."""
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
    return dsir_log_weights_pandas(
        raw_docs, tc, rc, n_buckets, alpha, ns, text_col, id_col
    )


def bucket_counts(
    corpus: DataFrame,
    n_buckets: int = 10_000,
    ns: tuple[int, ...] = (1, 2),
    text_col: str = "text",
) -> DataFrame:
    """(bucket, cnt): hashed-n-gram bucket counts of a corpus — the
    distribution table for one side of the importance ratio. Output is
    ≤ ``n_buckets`` rows however large the corpus, so it broadcasts at
    any scale; the groupBy partial-aggregates map-side."""
    staged = corpus.select(tokens(text_col).alias("__toks"))
    return (
        staged.select(
            F.explode(
                doc_feature_buckets(text_col, n_buckets, ns, toks=F.col("__toks"))
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )


def _log_ratio_table(
    target_counts: DataFrame,
    raw_counts: DataFrame,
    n_buckets: int,
    alpha: float,
    materialize: bool = True,
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
    total), and each is a full corpus scan upstream — materialize the
    ≤ n_buckets rows once so the scans run once (r12 double-consumption
    audit; sf10 gate row 15.3 → ~9s). truncate_lineage is EAGER, so
    ``materialize=True`` (the default, and what every scoring path
    wants — the table WILL be consumed twice immediately) executes both
    corpus scans at construction time; pass ``materialize=False`` to
    compose an unexecuted plan and accept the double scan if it is
    later acted on without a barrier (r12 ADVICE)."""
    if materialize:
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


def dsir_log_weights(
    raw_docs: DataFrame,
    target_counts: DataFrame,
    raw_counts: DataFrame,
    n_buckets: int = 10_000,
    alpha: float = 1.0,
    ns: tuple[int, ...] = (1, 2),
    text_col: str = "text",
    id_col: str = "doc_id",
    materialize: bool = True,
) -> DataFrame:
    """(doc_id, n_features, log_weight): per-document log importance
    weight under the hashed-n-gram bag model. Documents with no tokens
    keep n_features 0 and log_weight 0.0 (an audit row never vanishes —
    the ``lm_perplexity`` convention).

    Plan: corpus exploded once → broadcast join on the ≤n_buckets
    log-ratio table → map-side-partial doc_id re-aggregation. One
    exchange total. EAGER AT CONSTRUCTION by default (r12 ADVICE): the
    log-ratio table is localCheckpointed so its two consumers share one
    pair of histogram scans, which runs those scans when this function
    is CALLED; pass ``materialize=False`` to compose an unexecuted
    plan (and pay the double scan if it later executes barrier-less)."""
    ratios = F.broadcast(
        _log_ratio_table(target_counts, raw_counts, n_buckets, alpha, materialize)
    )
    staged = raw_docs.select(F.col(id_col), tokens(text_col).alias("__toks"))
    feats = staged.select(
        F.col(id_col),
        F.explode_outer(
            doc_feature_buckets(text_col, n_buckets, ns, toks=F.col("__toks"))
        ).alias("bucket"),
    )
    scored = feats.join(ratios, "bucket", "left")
    return scored.groupBy(id_col).agg(
        F.count("bucket").cast("bigint").alias("n_features"),
        hround(F.coalesce(F.sum("log_ratio"), F.lit(0.0)), 6).alias("log_weight"),
    )


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

    Composes the Arrow twins the registered dsir_log_weights row uses
    (:func:`bucket_counts_pandas` ×2 + the fused
    :func:`dsir_log_weights_pandas` scorer) — value-equal to the
    explode + broadcast-join composition by the same twin pins, and
    23.6 → 12.2s at sf10 end-to-end (OPTIMIZATION_r13.md). Eager at
    construction (the log-ratio collect). Callers whose target is a
    row-local predicate of ``raw_docs`` itself should prefer
    :func:`dsir_log_weights_self_pandas` + :func:`dsir_select` — one
    histogram pass instead of two."""
    tc = bucket_counts_pandas(target_docs, n_buckets, ns, text_col)
    rc = bucket_counts_pandas(raw_docs, n_buckets, ns, text_col)
    w = dsir_log_weights_pandas(raw_docs, tc, rc, n_buckets, alpha, ns, text_col, id_col)
    return dsir_select(w, fraction, seed, "log_weight", id_col)
