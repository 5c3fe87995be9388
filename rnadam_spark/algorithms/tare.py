"""Tare — GC/k-mer bias and transcript-length bias calibration.

Re-expresses the reference's ``Tare`` (rice-core/.../algorithms/
Tare.scala). The dinucleotide featurization (Tare.scala:88-101) is 16
overlapping regex counts in one codegen'd projection — no UDF, no
lambda, no explode, no shuffle; the regression of log-count on context
fractions uses ``pyspark.ml``'s deterministic LinearRegression solver
instead of 2015's LinearRegressionWithSGD (Tare.scala:121) — reference
tests assert directional properties, not weights, so the
better-converging solver is drop-in (SURVEY.md §7 risk register); it
fits no separate intercept (see :func:`calibrate_kmers`). The
length-bias OLS (Tare.scala:164-177, driver-side jblas normal
equations) becomes closed-form ``covar_pop/var_pop`` aggregates — fully
distributed.

Formula quirks preserved exactly (pinned by TareSuite goldens):
- P6 k-mer recalibration: count' = ⌊exp(mean + (label − prediction))⌋
  with mean = log(Σ multiplicity / n rows)        (Tare.scala:125-130)
- P7 length recalibration evaluates the fitted line at µ itself — NOT
  at log(length) — and subtracts µ:
  µ' = exp(mean + ((slope·µ + intercept) − µ))    (Tare.scala:187)
"""

from __future__ import annotations

from functools import reduce
from operator import add

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_BASES = "ACGT"


def featurize_kmers(kmer_counts: DataFrame) -> DataFrame:
    """P5 (Tare.scala:88-101): 16-bin fractional dinucleotide-context
    histogram + label = log(multiplicity).

    Bin 4·idx(c₀) + idx(c₁) with A→0 C→1 G→2 T→3 (Tare.scala:38-43,
    62-64) holds the overlapping, case-insensitive count of that
    dinucleotide — a zero-width lookahead match per start position —
    divided by the count of all valid (ACGT-only) contexts (P3,
    Tare.scala:88-91).

    Adds ``label DOUBLE`` and ``features ARRAY<DOUBLE>`` (length 16).
    K-mers with no valid context raise, matching the reference's
    assert (Tare.scala:91; TareSuite.scala:36-46).
    """
    counts = [
        F.regexp_count(F.col("kmer"), F.lit(f"(?i)(?={a}{b})")) for a in _BASES for b in _BASES
    ]
    # counts and their sum in one projection (subexpression elimination
    # shares each count), the fractions in the next: a CASE WHEN branch
    # is not subexpression-eliminated, so fractions over the raw counts
    # would rerun every regex once per bin
    bins = [f"_ctx{i}" for i in range(len(counts))]
    counted = kmer_counts.select(
        "*", *[c.alias(b) for c, b in zip(counts, bins)], reduce(add, counts).alias("_n")
    )
    n = F.col("_n")
    features = F.when(n > 0, F.array(*[F.col(b) / n for b in bins])).otherwise(
        F.raise_error(
            F.concat(F.lit("k-mer: "), F.col("kmer"), F.lit(" does not contain any valid contexts."))
        )
    )
    return counted.select(
        *kmer_counts.columns,
        F.log(F.col("cnt").cast("double")).alias("label"),
        features.alias("features"),
    )


def calibrate_kmers(kmer_counts: DataFrame, checkpoint_dir: str | None = None) -> DataFrame:
    """(kmer, cnt) → (kmer, cnt) recalibrated (Tare.scala:110-136).

    The reference's accumulators for (n, Σ multiplicity)
    (Tare.scala:112-116) are an aggregation here — accumulators are not
    exactly-once under task retries (SURVEY.md A12).

    The regression has no separate intercept: the 16 context fractions
    sum to 1, so the constant column already lies in their span. With an
    intercept the normal matrix is singular, Cholesky fails and Spark
    falls back to L-BFGS; without it the normal equations are full rank
    and solve directly, and the fitted values — the projection of the
    labels onto the same column space — are unchanged.

    The features are read by the fit, the mean and the prediction, so
    they are materialized once here (eagerly, via ``truncate_lineage``
    into ``checkpoint_dir`` when set); the returned frame reads them.
    """
    from pyspark.ml.functions import array_to_vector
    from pyspark.ml.regression import LinearRegression

    from rnadam_spark.lineage import truncate_lineage

    feats = truncate_lineage(featurize_kmers(kmer_counts), checkpoint_dir)

    stats = feats.agg(
        F.count("*").alias("n"), F.sum("cnt").alias("total_mult")
    ).select((F.log(F.col("total_mult") / F.col("n"))).alias("mean"))

    train = feats.select(F.col("label"), array_to_vector("features").alias("features"))
    model = LinearRegression(featuresCol="features", labelCol="label", fitIntercept=False).fit(
        train
    )

    predicted = model.transform(
        feats.select("kmer", "cnt", "label", array_to_vector("features").alias("features"))
    )
    return recalibrate_counts(predicted, stats)


def recalibrate_counts(predicted: DataFrame, stats: DataFrame) -> DataFrame:
    """P6 recalibration arithmetic (Tare.scala:125-130), factored out so
    the driver gate can hash-verify it with a synthetic ``prediction``
    column standing in for the model output (queries/genomics_q.py's
    ``kmer_bias_calibration``):

        count' = ⌊exp(mean + (label − prediction))⌋

    ``predicted`` needs (kmer, label, prediction); ``stats`` is the
    1-row (mean) aggregate, broadcast — the recalibration stays a pure
    projection, no shuffle."""
    return predicted.crossJoin(F.broadcast(stats)).select(
        "kmer",
        F.exp(F.col("mean") + (F.col("label") - F.col("prediction"))).cast("long").alias("cnt"),
    )


def calibrate_tx_len_bias(
    mu: DataFrame, t_len: DataFrame, sampling_rate: float = 1.0
) -> DataFrame:
    """(t_id, mu) → (t_id, mu) length-recalibrated (Tare.scala:150-193).

    OLS of y=log(µ) on x=log(len) with intercept, as closed-form
    population moments — algebraically identical to the reference's
    normal-equations solve, but distributed (no sample-collect needed;
    ``sampling_rate`` subsamples the *fit*, as in the reference).
    mean = −log(n) since abundances sum to 1 (Tare.scala:158-162).
    When every fitted length is equal, var(x) is 0 and the slope is
    undetermined; the fit is then the intercept-only line (slope 0)
    instead of a division by zero.
    """
    joined = mu.join(F.broadcast(t_len), "t_id")
    fit_input = joined.sample(False, sampling_rate) if sampling_rate < 1.0 else joined
    xy = fit_input.select(
        F.log(F.col("t_len").cast("double")).alias("x"), F.log("mu").alias("y")
    )
    stats = xy.agg(
        F.when(F.var_pop("x") == 0, F.lit(0.0))
        .otherwise(F.covar_pop("x", "y") / F.var_pop("x"))
        .alias("slope"),
        F.avg("x").alias("avg_x"),
        F.avg("y").alias("avg_y"),
        (-F.log(F.count("*").cast("double"))).alias("mean"),
    ).select(
        "slope",
        (F.col("avg_y") - F.col("slope") * F.col("avg_x")).alias("intercept"),
        "mean",
    )

    cal = mu.crossJoin(F.broadcast(stats)).select(
        "t_id",
        F.exp(
            F.col("mean") + ((F.col("slope") * F.col("mu") + F.col("intercept")) - F.col("mu"))
        ).alias("mu_cal"),
    )
    total = cal.agg(F.sum("mu_cal").alias("_total"))
    return cal.crossJoin(F.broadcast(total)).select(
        "t_id", (F.col("mu_cal") / F.col("_total")).alias("mu")
    )
