"""Index golden test, ported from QuantifySuite.scala:426-482 ("Test of
Index" against a stub ReferenceFile returning a fixed 20-bp string)."""

from rnadam_spark.algorithms.index import build_index, transcript_sequences
from rnadam_spark.schemas import GENOME, TRANSCRIPTS

TEST_SEQ = "CAATCCTTCGCCGCAGTGCA"  # QuantifySuite.scala:33


def _fixtures(spark):
    # two single-exon transcripts over regions [0,10) and [11,20); the
    # reference's stub extracts from the same string for any contig, so
    # the genome table carries the sequence under both contigs
    transcripts = spark.createDataFrame(
        [
            ("transcript1", "gene1", True, [("exon1", "region1", 0, 10)]),
            ("transcript2", "gene1", True, [("exon2", "region2", 11, 20)]),
        ],
        TRANSCRIPTS,
    )
    genome = spark.createDataFrame(
        [("region1", TEST_SEQ), ("region2", TEST_SEQ)], GENOME
    )
    return transcripts, genome


def test_extract_sequences(spark):
    transcripts, genome = _fixtures(spark)
    got = {r.t_id: r.sequence for r in transcript_sequences(transcripts, genome).collect()}
    assert got["transcript1"] == "CAATCCTTCG"  # QuantifySuite.scala:426-430
    assert got["transcript2"] == "CGCAGTGCA"


def test_index_equivalence_classes(spark):
    transcripts, genome = _fixtures(spark)
    kmer_to_class, class_kmers, class_transcripts = build_index(transcripts, genome, 5)

    k2c = kmer_to_class.collect()
    by_kmer = {}
    for r in k2c:
        by_kmer.setdefault(r.kmer, []).append(r.class_id)

    # one instance per k-mer (QuantifySuite.scala:455-465)
    for km in ("CAATC", "GTGCA", "CTTCG"):
        assert len(by_kmer[km]) == 1, km

    class1 = by_kmer["CAATC"][0]
    class2 = by_kmer["GTGCA"][0]
    class3 = by_kmer["CTTCG"][0]
    # CAATC and CTTCG share a class; GTGCA does not (":467-471")
    assert class1 == class3
    assert class1 != class2

    members = {}
    for r in class_kmers.collect():
        members.setdefault(r.class_id, set()).add(r.kmer)
    assert {"CAATC", "CTTCG"} <= members[class1]
    assert "GTGCA" not in members[class1]
    assert "GTGCA" in members[class2]
    assert not ({"CAATC", "CTTCG"} & members[class2])

    # membership table: every class belongs to exactly one transcript here
    m = {r.class_id: r.t_id for r in class_transcripts.collect()}
    assert m[class1] == "transcript1"
    assert m[class2] == "transcript2"


def test_index_deterministic_ids(spark):
    """The reference's zipWithUniqueId gives layout-dependent IDs
    (Index.scala:98); ours must be identical across repartitionings."""
    transcripts, genome = _fixtures(spark)
    a, _, _ = build_index(transcripts, genome, 5)
    b, _, _ = build_index(transcripts.repartition(7), genome, 5)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_pyref_kmer_oracle_matches_duckdb(sf_dir):
    # the sf10 python reference (tools/pyref_kmer_oracle.py — used where
    # the DuckDB string_agg oracle OOMs) agrees with the DuckDB oracle
    # at a scale where BOTH are feasible, for the class rows AND the
    # normalized roll-up derived from them
    import importlib.util
    import os

    import duckdb

    from __spark_entry__ import oracle_sql

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "pyref_kmer_oracle.py",
    )
    spec = importlib.util.spec_from_file_location("pyref_kmer_oracle", path)
    ref = importlib.util.module_from_spec(spec)
    import sys

    sys.modules["pyref_kmer_oracle"] = ref  # ProcessPool pickles by module name
    spec.loader.exec_module(ref)

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    # the classes row was retired from the gate in r13 (slot ->
    # bam_region_ingest) but its SQL stays the single source of truth,
    # embedded in class_counts_normalized's oracle and cross-checked
    # here directly
    from rnadam_spark.queries.genomics_q import _CLASSES_SQL

    rows = ref.expected_equivalence_classes(sf_dir)
    want = set(map(tuple, con.execute(_CLASSES_SQL).fetchall()))
    assert rows == want and rows

    counts = ref.expected_class_counts(rows)
    want_counts = set(
        map(tuple, con.execute(oracle_sql()["class_counts_normalized"]).fetchall())
    )
    assert counts == want_counts


def test_equivalence_classes_match_retired_oracle(spark, sf_dir):
    # gate rotation r13 retired the equivalence_classes CORRECTNESS row
    # (slot -> bam_region_ingest); class_counts_normalized's oracle
    # embeds _CLASSES_SQL verbatim as its cls CTE, and the class
    # construction keeps its direct cross-engine check here
    import os

    import duckdb

    from rnadam_spark.queries.genomics_q import _CLASSES_SQL, equivalence_classes

    got = sorted(tuple(r) for r in equivalence_classes(spark, sf_dir).collect())
    con = duckdb.connect()
    pq = os.path.join(sf_dir, "documents.parquet")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{pq}')")
    want = sorted(map(tuple, con.execute(_CLASSES_SQL).fetchall()))
    assert got == want and len(got) > 500


def test_classes_pandas_kernel_matches_jvm(spark, sf_dir):
    """r13: the Arrow/Counter classes kernel must equal the in-row
    run-length + count_classes JVM form it replaced exactly — md5 ids, cnt
    and n_kmers all pinned (the md5 input is the sorted '|'-joined
    member list, so a sort-order or join-separator drift would flip
    every id)."""
    from pyspark.sql import functions as F

    from rnadam_spark.functions.runlength import count_classes
    from rnadam_spark.queries.genomics_q import _classes, _doc_kmer_counts

    kc = _doc_kmer_counts(spark, sf_dir)
    jvm = kc.select("doc_id", F.explode(count_classes(F.col("kc"))).alias("cl")).select(
        "doc_id", "cl.cnt", "cl.class_id", "cl.n_kmers"
    )
    pnd = _classes(spark, sf_dir)
    assert jvm.exceptAll(pnd).count() == 0 and pnd.exceptAll(jvm).count() == 0
