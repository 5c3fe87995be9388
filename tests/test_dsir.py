"""DSIR importance resampling (operators/dsir.py): python-reference
goldens for the full hashed-ngram → log-weight → Gumbel-top-k chain,
plus a DuckDB cross-check of the weight arithmetic and the selection
invariants (determinism, monotonicity in the target distribution)."""

from __future__ import annotations

import math
import re
from collections import Counter

import duckdb
import pytest

from rnadam_spark.functions.hashing import MOD, hash_family
from rnadam_spark.operators import dsir

N_BUCKETS = 64  # small so test buckets collide like real ones do
ALPHA = 1.0

TARGET = [
    (100, "the cat sat on the mat"),
    (101, "the dog sat on the log"),
    (102, "a cat and a dog sat together"),
]
RAW = [
    (1, "the cat sat on the mat again"),   # in-domain
    (2, "the dog sat on a log"),            # in-domain
    (3, "zqxj vvkw zzz qqq"),               # garbage
    (4, "buy cheap pills online now"),      # off-domain
    (5, "a cat and a dog"),                 # in-domain
    (6, ""),                                # empty: 0 features
]


def _tokens(t):
    return [x for x in re.split(r"\s+", t) if x]


def _ngrams(t, n):
    toks = _tokens(t)
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


def _bucket(gram):
    s = (gram + "_" * 8)[:8] if len(gram) < 8 else gram[:8]
    acc = ord(s[0])
    for ch in s[1:]:
        acc = (acc * 31 + ord(ch)) % MOD
    return acc % N_BUCKETS


def _features(t, ns=(1, 2)):
    out = []
    for n in ns:
        out.extend(_bucket(g) for g in _ngrams(t, n))
    return out


def _counts(rows):
    c = Counter()
    for _, t in rows:
        c.update(_features(t))
    return c


def _py_log_weights():
    tc, rc = _counts(TARGET), _counts(RAW)
    t_total, r_total = sum(tc.values()), sum(rc.values())
    out = {}
    for doc_id, t in RAW:
        feats = _features(t)
        lw = sum(
            math.log(tc.get(b, 0) + ALPHA)
            - math.log(t_total + ALPHA * N_BUCKETS)
            - math.log(rc.get(b, 0) + ALPHA)
            + math.log(r_total + ALPHA * N_BUCKETS)
            for b in feats
        )
        out[doc_id] = (len(feats), math.floor(lw * 1e6 + 0.5) / 1e6)
    return out


def _spark_weights(spark):
    raw = spark.createDataFrame(RAW, ["doc_id", "text"])
    tgt = spark.createDataFrame(TARGET, ["doc_id", "text"])
    tc = dsir.bucket_counts(tgt, N_BUCKETS)
    rc = dsir.bucket_counts(raw, N_BUCKETS)
    return dsir.dsir_log_weights(raw, tc, rc, N_BUCKETS, ALPHA)


def test_bucket_counts_match_python(spark):
    got = {
        r.bucket: r.cnt
        for r in dsir.bucket_counts(
            spark.createDataFrame(TARGET, ["doc_id", "text"]), N_BUCKETS
        ).collect()
    }
    assert got == dict(_counts(TARGET))


def test_log_weights_golden(spark):
    got = {r.doc_id: (r.n_features, r.log_weight) for r in _spark_weights(spark).collect()}
    want = _py_log_weights()
    assert set(got) == set(want)  # empty doc present
    for doc_id, (n_feats, lw) in want.items():
        assert got[doc_id][0] == n_feats
        assert got[doc_id][1] == pytest.approx(lw, abs=1e-9)
    # in-domain text outweighs garbage and off-domain spam
    per_feat = {
        d: got[d][1] / max(got[d][0], 1) for d in got
    }
    assert per_feat[1] > per_feat[3]
    assert per_feat[2] > per_feat[4]
    assert got[6] == (0, 0.0)


def test_log_weights_match_duckdb(spark):
    """The weight arithmetic cross-checked engine-to-engine: the same
    hashed-bucket/add-α/log-ratio formula as one DuckDB SQL statement
    over the same rows."""
    got = {r.doc_id: (r.n_features, r.log_weight) for r in _spark_weights(spark).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE raw(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO raw VALUES (?, ?)", RAW)
    con.execute("CREATE TABLE tgt(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO tgt VALUES (?, ?)", TARGET)

    def poly8(expr):
        acc = f"CAST(ascii(substring({expr}, 1, 1)) AS BIGINT)"
        for i in range(2, 9):
            acc = f"(({acc}) * 31 + ascii(substring({expr}, {i}, 1))) % {MOD}"
        return acc

    feats = f"""
    WITH toks AS (
        SELECT doc_id, t.tok AS tok, t.i AS i FROM {{src}},
        LATERAL (
            SELECT x.tok, x.i FROM (
                SELECT UNNEST(list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0)) AS tok,
                       generate_subscripts(list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0), 1) AS i
            ) x
        ) t
    ), grams AS (
        SELECT doc_id, tok AS gram FROM toks
        UNION ALL
        SELECT a.doc_id, a.tok || ' ' || b.tok FROM toks a JOIN toks b
          ON a.doc_id = b.doc_id AND b.i = a.i + 1
    )
    SELECT doc_id, ({poly8("rpad(gram, 8, '_')")}) % {N_BUCKETS} AS bucket FROM grams
    """
    con.execute(f"CREATE TABLE tfeat AS {feats.format(src='tgt')}")
    con.execute(f"CREATE TABLE rfeat AS {feats.format(src='raw')}")
    rows = con.execute(
        f"""
        WITH tc AS (SELECT bucket, COUNT(*)::BIGINT cnt FROM tfeat GROUP BY bucket),
             rc AS (SELECT bucket, COUNT(*)::BIGINT cnt FROM rfeat GROUP BY bucket),
             tt AS (SELECT SUM(cnt) s FROM tc), rt AS (SELECT SUM(cnt) s FROM rc),
             ratio AS (
               SELECT COALESCE(tc.bucket, rc.bucket) bucket,
                      ln(COALESCE(tc.cnt, 0) + {ALPHA}) - ln(tt.s + {ALPHA * N_BUCKETS})
                    - ln(COALESCE(rc.cnt, 0) + {ALPHA}) + ln(rt.s + {ALPHA * N_BUCKETS}) AS lr
               FROM tc FULL OUTER JOIN rc ON tc.bucket = rc.bucket, tt, rt)
        SELECT raw.doc_id,
               COUNT(rfeat.bucket)::BIGINT AS n_features,
               floor(COALESCE(SUM(ratio.lr), 0.0) * 1000000.0 + 0.5) / 1000000.0 AS log_weight
        FROM raw LEFT JOIN rfeat ON raw.doc_id = rfeat.doc_id
                 LEFT JOIN ratio ON rfeat.bucket = ratio.bucket
        GROUP BY raw.doc_id
        """
    ).fetchall()
    want = {r[0]: (r[1], r[2]) for r in rows}
    assert set(got) == set(want)
    for d in want:
        assert got[d][0] == want[d][0]
        assert got[d][1] == pytest.approx(want[d][1], abs=1e-9)


def _py_select(fraction, seed=29):
    import numpy as np

    want = _py_log_weights()
    a, b = hash_family(1, seed)[0]
    keys = {}
    for doc_id, (_, lw) in want.items():
        code = (doc_id % MOD * a + b) % MOD
        u = (code + 1.0) / (MOD + 1.0)
        keys[doc_id] = lw - math.log(-math.log(u))
    thr = np.percentile(list(keys.values()), (1.0 - fraction) * 100)
    return {d for d, k in keys.items() if k >= thr}


def test_dsir_select_golden_and_deterministic(spark):
    raw = spark.createDataFrame(RAW, ["doc_id", "text"])
    tgt = spark.createDataFrame(TARGET, ["doc_id", "text"])
    sel1 = {r.doc_id for r in dsir.dsir(raw, tgt, 0.5, N_BUCKETS).collect()}
    sel2 = {
        r.doc_id
        for r in dsir.dsir(raw.repartition(7), tgt.repartition(3), 0.5, N_BUCKETS).collect()
    }
    assert sel1 == sel2 == _py_select(0.5)
    # schema carries the weight columns for auditability
    cols = dsir.dsir(raw, tgt, 0.5, N_BUCKETS).columns
    assert cols == ["doc_id", "n_features", "log_weight"]


def test_dsir_select_fraction_one_keeps_all(spark):
    raw = spark.createDataFrame(RAW, ["doc_id", "text"])
    tgt = spark.createDataFrame(TARGET, ["doc_id", "text"])
    assert dsir.dsir(raw, tgt, 1.0, N_BUCKETS).count() == len(RAW)


def test_gumbel_key_finite_for_negative_ids(spark):
    # negative doc ids must produce u in (0,1) — sign-preserving %
    # yielded u <= 0 and a NaN Gumbel key (silently dropped rows)
    import math

    from pyspark.sql import functions as F

    w = spark.createDataFrame(
        [(-i, 0.0) for i in range(1, 400)], ["doc_id", "log_weight"]
    )
    sel = dsir.dsir_select(w, 1.0)
    assert sel.count() == 399  # nothing lost to NaN keys
    keyed = w.withColumn(
        "_gk",
        dsir.gumbel_key(
            F.col("log_weight"),
            __import__("rnadam_spark.operators.sampling", fromlist=["_sample_code"])._sample_code(
                F.col("doc_id"), 29
            ),
        ),
    )
    assert all(math.isfinite(r._gk) for r in keyed.collect())


def test_dsir_select_matches_duckdb(spark):
    """The Gumbel-top-k selection cross-checked engine-to-engine:
    DuckDB re-derives the hash -> u -> Gumbel key and takes the same
    quantile_cont threshold Spark's exact percentile computes (both
    interpolate at position p*(n-1)), so the selected sets are
    identical — the shape a future gate rotation would register."""
    import duckdb

    from rnadam_spark.operators.sampling import sample_code_sql

    rows = [(i, float((i * 37) % 11) - 5.0) for i in range(-40, 60)]
    w = spark.createDataFrame(rows, ["doc_id", "log_weight"])
    got = {r.doc_id for r in dsir.dsir_select(w, 0.3).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE w(doc_id BIGINT, log_weight DOUBLE)")
    con.executemany("INSERT INTO w VALUES (?, ?)", rows)
    want = {
        r[0]
        for r in con.execute(
            f"""
            WITH keyed AS (
              SELECT doc_id,
                     log_weight - ln(-ln((({sample_code_sql('doc_id', 29)}) + 1.0) / {MOD + 1}.0)) AS gk
              FROM w
            ), thr AS (SELECT quantile_cont(gk, 0.7) AS t FROM keyed)
            SELECT doc_id FROM keyed, thr WHERE gk >= t
            """
        ).fetchall()
    }
    assert got == want and len(got) >= 30


def test_dsir_select_approx_agrees_with_exact(spark):
    """The scale path: percentile_approx at the pinned accuracy selects
    the same set as exact percentile on a seeded corpus up to the one
    inherent boundary row — exact percentile INTERPOLATES between two
    observed Gumbel keys while approx returns an observed key, so the
    thresholds straddle at most one row; accuracy-driven drift
    (~n/DSIR_APPROX_ACCURACY rows) is < 1 row at this size. Any larger
    disagreement means the approx form is mis-specified."""
    rows = [(i, float((i * 37) % 101) / 10.0 - 5.0) for i in range(5000)]
    w = spark.createDataFrame(rows, ["doc_id", "log_weight"])
    exact = {r.doc_id for r in dsir.dsir_select(w, 0.25, exact=True).collect()}
    approx = {r.doc_id for r in dsir.dsir_select(w, 0.25, exact=False).collect()}
    assert len(exact ^ approx) <= 1
    assert 0.2 < len(exact) / 5000 < 0.3
    # default auto-switch: below the row threshold the exact form runs
    auto = {r.doc_id for r in dsir.dsir_select(w, 0.25).collect()}
    assert auto == exact


def test_dsir_pandas_twins_value_equal(spark, sf_dir):
    # r12 measured-twin discipline: the Counter histogram twin and the
    # FUSED scorer twin (em_state pattern — final per-doc grain straight
    # from the Arrow pass) must reproduce the explode+join forms EXACTLY
    # on real corpus rows plus null/empty/short edges. n_features must
    # count every feature occurrence, hit or not: the extra '[t]'-only
    # doc below produces buckets the ratio table may miss.
    from rnadam_spark.operators import dsir, sampling

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text").union(
        spark.createDataFrame(
            [(900001, None), (900002, ""), (900003, "one"),
             (900004, "zq zq zq unseen-gram-zz")],
            "doc_id bigint, text string",
        )
    )
    target = sampling.hash_sample(docs, "doc_id", 0.2, seed=31)
    tc_a, rc_a = dsir.bucket_counts(target, 4096), dsir.bucket_counts(docs, 4096)
    tc_b, rc_b = dsir.bucket_counts_pandas(target, 4096), dsir.bucket_counts_pandas(docs, 4096)
    assert sorted(map(tuple, tc_a.collect())) == sorted(map(tuple, tc_b.collect()))
    assert sorted(map(tuple, rc_a.collect())) == sorted(map(tuple, rc_b.collect()))
    a = {r.doc_id: tuple(r)[1:] for r in dsir.dsir_log_weights(docs, tc_a, rc_a, 4096).collect()}
    b = {r.doc_id: tuple(r)[1:]
         for r in dsir.dsir_log_weights_pandas(docs, tc_b, rc_b, 4096).collect()}
    assert set(a) == set(b) and len(a) > 500
    for k in a:
        assert a[k] == b[k], (k, a[k], b[k])
    assert a[900001] == (0, 0.0) and a[900002] == (0, 0.0)


def test_dsir_self_pandas_equals_two_scan(spark, sf_dir):
    # r13: the one-pass self form (single corpus scan histogramming
    # raw+target together) must reproduce the two-scan pandas pipeline
    # exactly — same histogram integers → same ratio doubles → same
    # weights, on the registered query's own sample predicate
    from pyspark.sql import functions as F

    from rnadam_spark.operators import dsir, sampling
    from rnadam_spark.queries.pipeline_q import (
        DSIR_BUCKETS,
        _DSIR_SEED,
        _DSIR_TARGET_FRAC,
    )
    from rnadam_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents", widen=True)
    target = sampling.hash_sample(docs, "doc_id", _DSIR_TARGET_FRAC, seed=_DSIR_SEED)
    two_scan = dsir.dsir_log_weights_pandas(
        docs,
        dsir.bucket_counts_pandas(target, DSIR_BUCKETS),
        dsir.bucket_counts_pandas(docs, DSIR_BUCKETS),
        DSIR_BUCKETS,
    )
    one_pass = dsir.dsir_log_weights_self_pandas(
        docs,
        sampling.sample_predicate(F.col("doc_id"), _DSIR_TARGET_FRAC, seed=_DSIR_SEED),
        DSIR_BUCKETS,
    )
    a = {r["doc_id"]: (r["n_features"], r["log_weight"]) for r in two_scan.collect()}
    b = {r["doc_id"]: (r["n_features"], r["log_weight"]) for r in one_pass.collect()}
    assert a == b and len(a) > 0


def test_dsir_kernels_equal(spark, sf_dir):
    # r13: the end-to-end dsir() composition (Arrow twins) must yield
    # the identical selected set as the explode + broadcast-join twins
    # composed the same way (the twins are pinned above; this pins the
    # composition + dsir_select on top of them)
    from rnadam_spark.operators import dsir, sampling

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    target = sampling.hash_sample(docs, "doc_id", 0.2, seed=31)
    a = sorted(map(tuple, dsir.dsir(docs, target, fraction=0.25).collect()))
    tc = dsir.bucket_counts(target, 10_000)
    rc = dsir.bucket_counts(docs, 10_000)
    w = dsir.dsir_log_weights(docs, tc, rc, 10_000)
    b = sorted(map(tuple, dsir.dsir_select(w, 0.25, 29).collect()))
    assert a == b and len(a) > 50
