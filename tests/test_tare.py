"""Tare calibration tests, ported from TareSuite.scala (featurization
goldens, GC-bias property test, length-bias goldens)."""

import math
import random

import pytest
from pyspark.sql import Column
from pyspark.sql import functions as F

from rnadam_spark.algorithms import tare
from rnadam_spark.algorithms.generators import generate_string
from rnadam_spark.functions.shingles import char_shingles
from rnadam_spark.schemas import KMER_COUNTS

# The higher-order-function featurization that tare.featurize_kmers
# replaced, kept as an independent reference for its regex-count form.
N_CONTEXTS = 16


def _dinuc_idx(ctx: Column) -> Column:
    """A→0 C→1 G→2 T→3 (case-insensitive, Tare.scala:38-43); index =
    4·idx(c₀) + idx(c₁) (Tare.scala:62-64), computed via translate."""
    digits = F.translate(F.upper(ctx), "ACGT", "0123")
    return (
        F.substring(digits, 1, 1).cast("int") * 4 + F.substring(digits, 2, 1).cast("int")
    )


def valid_contexts(kmer: Column | str) -> Column:
    """2-shingles filtered to the ACGT alphabet (P3, Tare.scala:88-91)."""
    c = F.col(kmer) if isinstance(kmer, str) else kmer
    return F.filter(char_shingles(c, 2), lambda x: x.rlike("^[ACGTacgt]{2}$"))


def reference_features(kmer: Column | str) -> Column:
    """16-bin context fractions from filtered shingles; k-mers with no
    valid context divide by zero instead of raising."""
    idxs = F.transform(valid_contexts(kmer), _dinuc_idx)
    return F.transform(
        F.sequence(F.lit(0), F.lit(N_CONTEXTS - 1)),
        lambda i: F.size(F.filter(idxs, lambda x: x == i)) / F.size(idxs),
    )


def test_featurize_2mer_one_hot(spark):
    # TareSuite.scala:48-58: a single dinucleotide k-mer is a one-hot
    # fraction vector; label = log(multiplicity)
    df = spark.createDataFrame([("AC", 10)], KMER_COUNTS)
    row = tare.featurize_kmers(df).collect()[0]
    assert abs(row.label - math.log(10.0)) < 1e-9
    expected = [0.0] * 16
    expected[1] = 1.0  # AC → 4*0 + 1
    assert row.features == expected


def test_featurize_invalid_bases_filtered(spark):
    # TareSuite.scala:60-66: "ANGNC" → contexts AN,NG,GN,NC all invalid
    # except none... reference uses "ACNGA"-style: only valid contexts
    # remain; here "ACNGT": AC and GT valid → 0.5/0.5
    df = spark.createDataFrame([("ACNGT", 1)], KMER_COUNTS)
    row = tare.featurize_kmers(df).collect()[0]
    expected = [0.0] * 16
    expected[1] = 0.5   # AC
    expected[11] = 0.5  # GT → 4*2 + 3
    assert [round(x, 9) for x in row.features] == expected


def test_featurize_illegal_kmer_raises(spark):
    # TareSuite.scala:36-46: a k-mer with no valid context throws
    df = spark.createDataFrame([("NN", 1)], KMER_COUNTS)
    with pytest.raises(Exception, match="does not contain any valid contexts"):
        tare.featurize_kmers(df).collect()


@pytest.mark.parametrize("k", [2, 3, 20, 31])
def test_featurize_matches_shingle_reference(spark, k):
    # mixed case, N and non-nucleotide letters: every k-mer keeps at
    # least one valid context, and the regex-count features must equal
    # the shingle/filter reference bit for bit
    rng = random.Random(8800 + k)
    alphabet = "ACGTACGTacgtNnRyXz"
    drawn = {"".join(rng.choice(alphabet) for _ in range(k)) for _ in range(400)}
    kmers = [
        km for km in sorted(drawn) if any(a in "ACGTacgt" and b in "ACGTacgt" for a, b in zip(km, km[1:]))
    ]
    df = spark.createDataFrame([(km, 1) for km in kmers], KMER_COUNTS)
    pairs = (
        tare.featurize_kmers(df)
        .select("features", reference_features("kmer").alias("want"))
        .collect()
    )
    assert len(pairs) == len(kmers) > 50
    assert all(r.features == r.want for r in pairs)


def _gc_biased_counts():
    """Synthetic counts from a known log-space GC bias curve
    (TareSuite.scala:68-94)."""
    rng = random.Random(121212)
    seq = generate_string(500, rng)
    kmers = [seq[i : i + 15] for i in range(len(seq) - 14)]
    rows = []
    for km in sorted(set(kmers)):
        gc = sum(c in "GCgc" for c in km) / 15.0
        count = int(100.0 * math.exp(2.0 + (gc - 0.5)))
        rows.append((km, count))
    return rows


def test_calibrate_kmers_reduces_gc_bias(spark):
    # TareSuite.scala:68-94: after calibration the max count must drop
    # and the min must rise (directional property, solver-independent)
    rows = _gc_biased_counts()
    df = spark.createDataFrame(rows, KMER_COUNTS)
    calibrated = {r.kmer: r.cnt for r in tare.calibrate_kmers(df).collect()}
    raw = dict(rows)
    assert max(calibrated.values()) < max(raw.values())
    assert min(calibrated.values()) > min(raw.values())


def test_calibrate_kmers_matches_lstsq_with_intercept(spark):
    # the fit has no separate intercept because the 16 context fractions
    # sum to 1: the constant column is already in their span, so the
    # fitted values equal those of the least-squares fit WITH an
    # intercept. Reference: numpy lstsq on [1 | fractions], then
    # count' = ⌊exp(mean + y − ŷ)⌋ with mean = log(Σ cnt / n)
    import numpy as np

    rows = _gc_biased_counts()
    feats = tare.featurize_kmers(spark.createDataFrame(rows, KMER_COUNTS)).collect()
    x = np.array([[1.0, *r.features] for r in feats])
    y = np.array([r.label for r in feats])
    beta, *_ = np.linalg.lstsq(x, y, rcond=None)
    mean = math.log(sum(c for _, c in rows) / len(rows))
    want = {
        r.kmer: math.floor(math.exp(mean + yi - fi))
        for r, yi, fi in zip(feats, y, x @ beta)
    }
    calibrated = tare.calibrate_kmers(spark.createDataFrame(rows, KMER_COUNTS))
    got = {r.kmer: r.cnt for r in calibrated.collect()}
    assert len(got) == len(want) > 400
    assert got == want, {k: (got[k], want[k]) for k in want if got.get(k) != want[k]}


def test_calibrate_tx_len_bias_golden(spark):
    # TareSuite.scala:96-118: abundance ∝ length in → uniform 0.25 out
    mu = spark.createDataFrame(
        [("a", 0.28), ("b", 0.17), ("c", 0.31), ("d", 0.24)], ["t_id", "mu"]
    )
    t_len = spark.createDataFrame(
        [("a", 28), ("b", 17), ("c", 31), ("d", 24)], ["t_id", "t_len"]
    )
    got = {r.t_id: r.mu for r in tare.calibrate_tx_len_bias(mu, t_len).collect()}
    for t in "abcd":
        assert abs(got[t] - 0.25) < 1e-6, got


def test_calibrate_tx_len_bias_sampled_fit(spark):
    # M3 (Tare.scala:152-156): sampling_rate < 1 subsamples the FIT
    # input (the rescale still covers every transcript). Points are
    # exactly collinear in log-space (µ ∝ len), so any non-degenerate
    # subsample recovers the same line; tolerance loosened for the
    # sample-size noise in the closed-form moments.
    n = 101
    rng = random.Random(113402062015)
    lengths = [rng.randrange(1, 11) for _ in range(n)]
    total = sum(lengths)
    mu = spark.createDataFrame(
        [(str(i), lengths[i] / total) for i in range(n)], ["t_id", "mu"]
    )
    t_len = spark.createDataFrame(
        [(str(i), lengths[i]) for i in range(n)], ["t_id", "t_len"]
    )
    got = {
        r.t_id: r.mu
        for r in tare.calibrate_tx_len_bias(mu, t_len, sampling_rate=0.5).collect()
    }
    assert len(got) == n  # every transcript rescaled, not just the sample
    for i in range(n):
        assert abs(got[str(i)] - 1.0 / n) < 0.02


def test_calibrate_tx_len_bias_equal_lengths(spark):
    # equal lengths leave var(log len) = 0: the fit falls back to the
    # intercept-only line instead of dividing by zero, so µ' ∝ exp(−µ)
    mus = {"a": 0.5, "b": 0.3, "c": 0.2}
    mu = spark.createDataFrame(list(mus.items()), ["t_id", "mu"])
    t_len = spark.createDataFrame([(t, 100) for t in mus], ["t_id", "t_len"])
    got = {r.t_id: r.mu for r in tare.calibrate_tx_len_bias(mu, t_len).collect()}
    total = sum(math.exp(-m) for m in mus.values())
    for t, m in mus.items():
        assert abs(got[t] - math.exp(-m) / total) < 1e-12, got


@pytest.mark.parametrize("n", [11, 101])
def test_calibrate_tx_len_bias_random(spark, n):
    # TareSuite.scala:120-147 shape: abundance ∝ length → uniform 1/n
    rng = random.Random(113402062015)
    lengths = [rng.randrange(1, 11) for _ in range(n)]
    total = sum(lengths)
    mu = spark.createDataFrame(
        [(str(i), lengths[i] / total) for i in range(n)], ["t_id", "mu"]
    )
    t_len = spark.createDataFrame(
        [(str(i), lengths[i]) for i in range(n)], ["t_id", "t_len"]
    )
    got = {r.t_id: r.mu for r in tare.calibrate_tx_len_bias(mu, t_len).collect()}
    for i in range(n):
        assert abs(got[str(i)] - 1.0 / n) < 1e-6


def test_dinuc_features_match_retired_oracle(spark, sf_dir):
    # gate rotation r8 retired the dinuc_context_features CORRECTNESS
    # row (slot → pagerank/frontier_dedup); its DuckDB oracle lives on
    # here so the shingle→run-length histogram kernel stays
    # cross-checked engine-to-engine
    import os

    import duckdb

    from rnadam_spark.queries.genomics_q import _DINUC_SQL, dinuc_context_features

    got = sorted(
        (r.doc_id, r.bigram, r.cnt, r.frac)
        for r in dinuc_context_features(spark, sf_dir).collect()
    )
    con = duckdb.connect()
    pq = os.path.join(sf_dir, "documents.parquet")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{pq}')")
    want = sorted(map(tuple, con.execute(_DINUC_SQL).fetchall()))
    assert got == want and got
