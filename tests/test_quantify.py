"""Golden unit tests for the quantification core, ported from the
reference suite (rice-core/.../QuantifySuite.scala — hand-computed
expected values, SURVEY.md §5 layer 1)."""

from pyspark.sql import functions as F

from rnadam_spark.algorithms import quantify as Q
from rnadam_spark.schemas import CLASS_TRANSCRIPTS, KMER_COUNTS, KMER_TO_CLASS


def approx(a, b, eps=1e-6):
    return abs(a - b) <= eps


def test_map_kmers_to_classes(spark):
    # QuantifySuite.scala:49-61
    kmer_to_class = spark.createDataFrame(
        [("a", "2"), ("b", "3"), ("c", "2"), ("d", "1"), ("e", "3")], KMER_TO_CLASS
    )
    kmer_counts = spark.createDataFrame(
        [("d", 80), ("a", 25), ("c", 35), ("b", 37), ("e", 38)], KMER_COUNTS
    )
    got = {r.class_id: r.cnt for r in Q.map_kmers_to_classes(kmer_counts, kmer_to_class).collect()}
    assert got == {"1": 80, "2": 60, "3": 75}


def test_initialize_em(spark):
    # QuantifySuite.scala:63-98
    class_counts = spark.createDataFrame([("1", 45), ("2", 52), ("3", 49)], ["class_id", "cnt"])
    members = (
        [("1", t) for t in "abcde"]
        + [("2", t) for t in "abcdefghijklm"]
        + [("3", t) for t in "abcdefg"]
    )
    class_transcripts = spark.createDataFrame(members, CLASS_TRANSCRIPTS)
    rows = Q.initialize_em(class_counts, class_transcripts).collect()
    by_class = {}
    for r in rows:
        by_class.setdefault(r.class_id, []).append(r.alpha)
    assert len(by_class["1"]) == 5 and all(approx(a, 9.0) for a in by_class["1"])
    assert len(by_class["2"]) == 13 and all(approx(a, 4.0) for a in by_class["2"])
    assert len(by_class["3"]) == 7 and all(approx(a, 7.0) for a in by_class["3"])


def test_e_step(spark):
    # QuantifySuite.scala:100-241
    weights = [("a", 2.0, [1, 3, 5, 6]), ("b", 3.0, [2, 4, 5]), ("c", 4.0, [1, 2, 5, 6, 7]), ("d", 5.0, [1, 2, 3])]
    mu = spark.createDataFrame([(t, m) for t, m, _ in weights], ["t_id", "mu"])
    edges = spark.createDataFrame(
        [(str(c), t) for t, _, cs in weights for c in cs], CLASS_TRANSCRIPTS
    )
    rows = Q.e_step(mu, edges).collect()
    got = {(r.class_id, r.t_id): r.alpha for r in rows}
    expected = {
        ("1", "a"): 2 / 11, ("1", "c"): 4 / 11, ("1", "d"): 5 / 11,
        ("2", "b"): 0.25, ("2", "c"): 1 / 3, ("2", "d"): 5 / 12,
        ("3", "a"): 2 / 7, ("3", "d"): 5 / 7,
        ("4", "b"): 1.0,
        ("5", "a"): 2 / 9, ("5", "b"): 1 / 3, ("5", "c"): 4 / 9,
        ("6", "a"): 1 / 3, ("6", "c"): 2 / 3,
        ("7", "c"): 1.0,
    }
    assert set(got) == set(expected)
    for key, val in expected.items():
        assert approx(got[key], val, 1e-3), (key, got[key], val)


def test_m_step(spark):
    # QuantifySuite.scala:243-316: µ̂ = 460/907, 15/907, 132/907, 300/907
    assignments = [
        (1, "a", 0.6), (1, "c", 0.4),
        (2, "b", 0.1), (2, "d", 0.5), (2, "a", 0.4),
        (3, "a", 1.0),
        (4, "c", 0.7), (4, "a", 0.3),
    ]
    alpha = spark.createDataFrame(assignments, ["class_id", "t_id", "alpha"])
    t_len = spark.createDataFrame([("a", 5), ("b", 6), ("c", 7), ("d", 3)], ["t_id", "t_len"])
    rel = spark.createDataFrame(
        [(1, 0.25), (2, 0.25), (3, 0.25), (4, 0.25)], ["class_id", "rel_p"]
    )
    got = {r.t_id: r.mu for r in Q.m_step(alpha, t_len, 3, rel).collect()}
    assert approx(got["a"], 460.0 / 907, 1e-3)
    assert approx(got["b"], 15.0 / 907, 1e-3)
    assert approx(got["c"], 132.0 / 907, 1e-3)
    assert approx(got["d"], 300.0 / 907, 1e-3)


def test_transcript_lengths(spark):
    # QuantifySuite.scala:322-340: width−1 rule → 375, 350
    def exon(eid, tid, start, end):
        return (eid, "1", start, end)

    data = [
        ("t1", "g1", True, [exon("e1", "t1", 0, 101), exon("e2", "t1", 200, 401), exon("e3", "t1", 500, 576)]),
        ("t2", "g1", False, [exon("e1", "t2", 600, 651), exon("e2", "t2", 200, 401), exon("e3", "t2", 125, 176), exon("e4", "t2", 25, 76)]),
    ]
    from rnadam_spark.schemas import TRANSCRIPTS

    transcripts = spark.createDataFrame(data, TRANSCRIPTS)
    got = {r.t_id: r.t_len for r in Q.transcript_lengths(transcripts).collect()}
    assert got == {"t1": 375, "t2": 350}


def test_join_transcripts(spark):
    # QuantifySuite.scala:358-381
    from rnadam_spark.schemas import TRANSCRIPTS

    transcripts = spark.createDataFrame(
        [(t, "g", True, []) for t in ["t1", "t2", "t3"]], TRANSCRIPTS
    )
    mu = spark.createDataFrame([("t1", 1.0), ("t2", 2.0), ("t3", 3.0)], ["t_id", "mu"])
    got = {r.t_id: r.abundance for r in Q.join_transcripts(transcripts, mu).collect()}
    assert got == {"t1": 1.0, "t2": 2.0, "t3": 3.0}
