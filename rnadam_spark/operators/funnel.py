"""Curation-funnel audit: per-stage drop counts in one pass.

Operating a 100 TB curation pipeline needs the answer to "where did my
corpus go?" — how many documents each stage dropped — WITHOUT running
the pipeline once per stage. This operator evaluates every stage's
predicate as a column in a single scan, attributes each document to its
FIRST failing stage (the same sequential semantics the ``curate`` CLI
applies), and aggregates one tiny funnel table.

Fidelity contract: each predicate judges the text THAT STAGE actually
sees in the pipeline, built from the same fused expression chain the
CLI composes — normalize → C4 rewrite → Gopher → PII redaction →
quality/repetition thresholds — so a document whose raw text clears a
threshold but whose redacted text doesn't is attributed exactly the way
the real run drops it (pinned by the ``-audit``-vs-actual-run agreement
test). The exact-dup stage likewise hashes the redacted text the
pipeline dedups, over the survivors of every earlier stage.

Cost shape: the whole stage chain is a zero-join run of CHAINED
projections that ride the scan in one stage (staged at each text
rewrite so the interpreted higher-order lambdas read materialized
columns — see text.gopher_prelude); the only exchanges are the
exact-dup canonical groupBy over stage-survivors (which the real
pipeline pays anyway) and the final stages-sized aggregation. Contrast
with the naive audit — re-running the pipeline k times with k prefixes
— which scans the corpus k times.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FUNNEL_STAGES = (
    "blocklist",
    "c4",
    "gopher",
    "quality",
    "repetition",
    "perplexity",
    "classifier",
    "exact_dup",
)


def curation_funnel(
    docs: DataFrame,
    quality_min: float = 0.9,
    use_c4: bool = True,
    use_gopher: bool = False,
    max_dup_5gram: float | None = None,
    skip_normalize: bool = False,
    lm_model: DataFrame | None = None,
    max_perplexity: float | None = None,
    classifier_weights: DataFrame | None = None,
    classifier_min: float = 0.5,
    classifier_intercept: float = 0.0,
    blocklist: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(stage, n_dropped, n_remaining): documents dropped at each
    curation stage, in pipeline order (blocklist → c4 → gopher →
    quality → repetition → perplexity → classifier → exact_dup), plus an
    ``input`` row anchoring the starting count. Disabled stages
    (``use_c4=False`` / ``use_gopher=False`` / ``max_dup_5gram=None`` /
    no model) appear with ``n_dropped = 0`` so the funnel shape is
    stable for dashboards. ``n_remaining`` after ``exact_dup`` is the
    corpus the ``curate`` CLI would hand to chunking/sharding under the
    same thresholds (``skip_normalize`` mirrors the CLI flag; the
    corpus-global line-dedup stage is not modeled — audit with it off).

    The model stages are corpus-dependent, so they mirror the CLI by
    taking the TRAINED artifacts: ``lm_model`` is
    ``lm.train_char_lm(...)`` output (the CLI trains it on a hash
    sample of the scrubbed corpus) with drops above ``max_perplexity``;
    ``classifier_weights`` is a (bucket, weight) table with drops below
    ``classifier_min`` probability. Both score the scrubbed text,
    exactly as ``curate`` does."""
    from rnadam_spark.functions.shingles import tokens
    from rnadam_spark.operators.text import (
        c4_columns,
        gopher_columns,
        gopher_prelude,
        normalized_column,
        quality_columns,
        redaction_columns,
    )

    # blocklist judges the RAW text, exactly where the pipeline applies
    # it (before normalization): offenders = broadcast semi-join over
    # the exploded suffix set of every mentioned domain (UT1 semantics,
    # mirroring web.filter_blocklisted_domains(suffix=True)), carried
    # back as a doc_id-keyed flag join — the one stage whose predicate
    # cannot be a pure column (the blocklist is corpus-independent but
    # not literal-sized)
    if blocklist is not None:
        from rnadam_spark.operators.web import domains_of, host_suffixes

        offenders = (
            docs.select(
                F.col(id_col),
                F.explode(
                    F.flatten(F.transform(domains_of(text_col), host_suffixes))
                ).alias("_domain"),
            )
            .join(
                F.broadcast(
                    blocklist.select(
                        F.lower(F.col(blocklist.columns[0])).alias("_domain")
                    ).distinct()
                ),
                "_domain",
                "leftsemi",
            )
            .select(id_col)
            .distinct()
            .withColumn("_bl_hit", F.lit(True))
        )
        docs = docs.join(offenders, id_col, "left")
        p_bl = F.col("_bl_hit").isNull()
    else:
        p_bl = F.lit(True)
    # staged like the CLI chain: each text rewrite materializes once
    # before the next stage's higher-order lambdas read it (see
    # text.gopher_prelude on why the one-projection form re-evaluates
    # the whole normalize+C4 rewrite per token-array reference)
    staged = docs.withColumn(
        "__t", F.col(text_col) if skip_normalize else normalized_column(text_col)
    )
    if use_c4:
        c4 = c4_columns(F.col("__t"))
        # downstream stages see the C4-REWRITTEN text (kept lines only),
        # exactly as the pipeline hands it forward
        staged = staged.withColumn("__p_c4", c4["keep_doc"]).withColumn(
            "__t", c4["text"]
        )
        p_c4 = F.col("__p_c4")
    else:
        p_c4 = F.lit(True)
    if use_gopher:
        pre = gopher_prelude(F.col("__t"))
        staged = staged.select("*", *[c.alias(name) for name, c in pre.items()])
        p_g = gopher_columns(
            F.col("__t"), prelude={name: F.col(name) for name in pre}
        )["keep_doc"]
    else:
        p_g = F.lit(True)
    # PII redaction rewrites the text unconditionally in the pipeline;
    # quality, repetition, and the exact-dup hash all judge the
    # REDACTED text (the CLI's `scrubbed`), not the raw page
    scrub_expr, _n_red = redaction_columns(F.col("__t"))
    staged = staged.withColumn("__scr", scrub_expr).withColumn(
        "__qt", tokens(F.col("__scr"))
    )
    p_q = quality_columns(F.col("__scr"), toks=F.col("__qt"))["quality"] >= quality_min
    if max_dup_5gram is not None:
        from rnadam_spark.operators.repetition import with_dup_5gram_char_frac

        staged = with_dup_5gram_char_frac(staged, "__scr", "__d5")
        p_rep = F.col("__d5") <= max_dup_5gram
    else:
        p_rep = F.lit(True)
    flagged = staged.select(
        F.col(id_col),
        F.md5(F.col("__scr")).alias("_h"),
        p_bl.alias("_p_bl"),
        p_c4.alias("_p_c4"),
        p_g.alias("_p_g"),
        p_q.alias("_p_q"),
        p_rep.alias("_p_rep"),
    )
    # optional model stages: doc_id-keyed score joins over the SCRUBBED
    # text — the same shape (and cost) the CLI's model stages pay
    scrubbed_docs = staged.select(F.col(id_col), F.col("__scr").alias(text_col))
    if lm_model is not None and max_perplexity is not None:
        from rnadam_spark.operators.lm import lm_perplexity

        ppl = lm_perplexity(
            scrubbed_docs, lm_model, text_col=text_col, id_col=id_col
        ).select(id_col, (F.col("perplexity") <= max_perplexity).alias("_p_ppl"))
        flagged = flagged.join(ppl, id_col)
    else:
        flagged = flagged.withColumn("_p_ppl", F.lit(True))
    if classifier_weights is not None:
        from rnadam_spark.operators.lm import classifier_score

        prob = classifier_score(
            scrubbed_docs,
            classifier_weights,
            intercept=classifier_intercept,
            text_col=text_col,
            id_col=id_col,
        ).select(id_col, (F.col("prob") >= classifier_min).alias("_p_cls"))
        flagged = flagged.join(prob, id_col)
    else:
        flagged = flagged.withColumn("_p_cls", F.lit(True))
    # survivors of the projection stages compete for exact-dup canonical
    surv = flagged.filter(
        "_p_bl AND _p_c4 AND _p_g AND _p_q AND _p_rep AND _p_ppl AND _p_cls"
    )
    canon = surv.groupBy("_h").agg(F.min(id_col).alias("_canonical"))
    # hash-keyed join, NOT broadcast: canon has one row per distinct
    # surviving content hash — corpus-scale, never driver-size
    flagged = flagged.join(canon, "_h", "left").withColumn(
        "_p_dup", F.col("_canonical") == F.col(id_col)
    )
    first_fail = (
        F.when(~F.col("_p_bl"), "blocklist")
        .when(~F.col("_p_c4"), "c4")
        .when(~F.col("_p_g"), "gopher")
        .when(~F.col("_p_q"), "quality")
        .when(~F.col("_p_rep"), "repetition")
        .when(~F.col("_p_ppl"), "perplexity")
        .when(~F.col("_p_cls"), "classifier")
        .when(~F.coalesce(F.col("_p_dup"), F.lit(False)), "exact_dup")
        .otherwise(F.lit(None).cast("string"))
    )
    drops = {
        r["_fail"]: r["n"]
        for r in flagged.select(first_fail.alias("_fail"))
        .groupBy("_fail")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    total = sum(drops.values())
    rows = [("input", 0, total)]
    remaining = total
    for stage in FUNNEL_STAGES:
        d = drops.get(stage, 0)
        remaining -= d
        rows.append((stage, d, remaining))
    return docs.sparkSession.createDataFrame(
        rows, "stage STRING, n_dropped BIGINT, n_remaining BIGINT"
    )
