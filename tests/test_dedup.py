"""Behavioral tests for dedup operators on synthetic near-duplicates
(the driver tables have no duplicates, so correctness of the *positive*
path is pinned here)."""

import itertools
from collections import defaultdict

from pyspark.sql import functions as F

from rnadam_spark.operators import dedup
from rnadam_spark.operators.clustering import connected_components

BASE = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
NEAR = BASE.replace("lazy", "sleepy")  # one-token perturbation
OTHER = "completely different content about spark query engines and columnar execution plans"


def _docs(spark):
    rows = [(0, BASE), (1, BASE), (2, NEAR), (3, OTHER)]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dup_groups(spark):
    groups = dedup.exact_dup_groups(_docs(spark)).collect()
    by_count = {r.canonical_id: r.n_dups for r in groups}
    assert by_count[0] == 2  # docs 0 and 1 identical, canonical = min id
    assert by_count[2] == 1 and by_count[3] == 1


def test_minhash_near_dup_similarity(spark):
    sigs = {r.doc_id: [r[f"h{j}"] for j in range(dedup.N_HASHES)] for r in dedup.minhash_signatures(_docs(spark)).collect()}
    assert sigs[0] == sigs[1]  # identical docs → identical signatures
    agree_near = sum(a == b for a, b in zip(sigs[0], sigs[2]))
    agree_other = sum(a == b for a, b in zip(sigs[0], sigs[3]))
    assert agree_near > agree_other  # near-dup agrees on more hashes
    assert agree_other == 0


def test_lsh_candidate_pairs_find_near_dups(spark):
    pairs = {(r.doc_a, r.doc_b) for r in dedup.lsh_candidate_pairs(_docs(spark)).collect()}
    assert (0, 1) in pairs
    assert (0, 2) in pairs or (1, 2) in pairs  # near-dup shares ≥1 band
    assert not any(3 in p for p in pairs)


def test_lsh_bucket_cap(spark):
    # a degenerate bucket (all docs identical) is dropped by the cap
    rows = [(i, BASE) for i in range(10)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    assert dedup.lsh_candidate_pairs(docs, max_bucket=5).count() == 0
    assert dedup.lsh_candidate_pairs(docs).count() == 45  # 10 choose 2


def _ref_lsh_pairs(docs, max_bucket):
    """Driver-side banded-LSH reference: group the collected
    (band, band_sig) rows into buckets, keep buckets of 2..max_bucket
    docs (no upper bound when None), emit sorted pairs."""
    buckets = defaultdict(set)
    for r in dedup.lsh_band_sigs(dedup.minhash_signatures(docs)).collect():
        buckets[(r.band, r.band_sig)].add(r.doc_id)
    pairs = set()
    for ds in buckets.values():
        if len(ds) >= 2 and (max_bucket is None or len(ds) <= max_bucket):
            pairs.update(itertools.combinations(sorted(ds), 2))
    return pairs


def _pair_rows(df):
    return [(r.doc_a, r.doc_b) for r in df.collect()]


def test_lsh_pair_strategies_agree(spark):
    # the capped and the uncapped forms emit the reference pair sets
    rows = [(i, BASE) for i in range(4)] + [(10 + i, BASE + f" extra{i}") for i in range(4)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    capped = set(_pair_rows(dedup.lsh_candidate_pairs(docs, max_bucket=6)))
    assert capped == _ref_lsh_pairs(docs, 6) and capped
    uncapped = set(_pair_rows(dedup.lsh_candidate_pairs(docs)))
    assert uncapped == _ref_lsh_pairs(docs, None) and uncapped


def test_lsh_grouped_strategy_agrees(spark):
    # exact dups (identical signatures) + near dups (signature differs,
    # band collides) + a loner: exercises intra-group, cross-group and
    # group-of-one paths of the grouped expansion
    rows = (
        [(i, BASE) for i in range(4)]  # one signature group of 4
        + [(10 + i, BASE + f" extra{i}") for i in range(3)]  # singles
        + [(20, "zzz completely unrelated text qqq")]
    )
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    for cap in (6, 100):
        grouped = _pair_rows(dedup.lsh_candidate_pairs(docs, max_bucket=cap))
        ref = _ref_lsh_pairs(docs, cap)
        # same SET, and no duplicate rows without a doc-level distinct
        assert set(grouped) == ref and len(grouped) == len(ref), cap
    # the cap counts DOCS (Σ cnt), not distinct signatures: 4 identical
    # docs + 1 near-dup in one bucket = 5 docs / ≤3 groups — a cap of 4
    # must drop that bucket
    rows5 = [(i, BASE) for i in range(4)] + [(9, BASE + " tail")]
    docs5 = spark.createDataFrame(rows5, ["doc_id", "text"])
    got = set(_pair_rows(dedup.lsh_candidate_pairs(docs5, max_bucket=4)))
    assert got == _ref_lsh_pairs(docs5, 4)
    assert all(9 not in p for p in got)
    # max_bucket=None takes the band self-join
    selfjoin = _pair_rows(dedup.lsh_candidate_pairs(docs))
    ref = _ref_lsh_pairs(docs, None)
    assert set(selfjoin) == ref and len(selfjoin) == len(ref)


def _ref_paragraph_near_dups(
    docs, threshold=0.8, max_bucket=1000, min_chars=40, split_pattern=r"\n{2,}",
    unit_key="hash",
):
    """The unit-grain chain composed from the public operators: units
    minted as in ``paragraph_near_dups`` → candidates → exact-Jaccard
    verify → components; every non-root unit is a loser."""
    paras = docs.select(
        "doc_id",
        F.posexplode(F.split("text", split_pattern)).alias("para_idx", "_ptext"),
    ).filter(F.length(F.trim("_ptext")) >= min_chars)
    if unit_key == "encoded":
        key = F.col("doc_id").cast("bigint") * F.lit(1 << 20).cast("bigint") + F.col(
            "para_idx"
        )
    else:
        key = F.xxhash64("doc_id", "para_idx")
    units = paras.withColumn("_unit", key)
    u = units.select(F.col("_unit").alias("doc_id"), F.col("_ptext").alias("text"))
    cand = dedup.lsh_candidate_pairs(u, max_bucket=max_bucket)
    ver = dedup.verify_pairs(cand, u, threshold=threshold)
    comp = connected_components(ver)
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("_unit")
    )
    return {
        (r.doc_id, r.para_idx)
        for r in units.join(losers, "_unit", "leftsemi").collect()
    }


def test_paragraph_near_dups_contracted_matches(spark, sf_dir):
    para = "this paragraph is a boilerplate cookie banner used on every single page"
    near = para.replace("every single", "most")
    rows = [
        (1, f"{para}\n\n{near}\n\nunique text one flows here beyond forty characters easily"),
        (2, f"{para}\n\nanother unique paragraph body that is long enough to participate"),
        (3, f"{para}\n\nab"),  # 'ab' is under min_chars, ignored
        (4, "zzz totally unrelated content that still clears the length bar qqq"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    for uk in ("encoded", "hash"):
        got = {
            (r.doc_id, r.para_idx)
            for r in dedup.paragraph_near_dups(docs, max_bucket=100, unit_key=uk).collect()
        }
        ref = _ref_paragraph_near_dups(docs, max_bucket=100, unit_key=uk)
        assert got == ref and got, uk
    # exact-dup paragraphs SHORTER than the shingle k have unit-grain
    # Jaccard 0 (empty shingle sets) and must not form a family — the
    # contracted form's len >= k guard
    short = spark.createDataFrame(
        [(1, "abc\n\nabc"), (2, "abc")], ["doc_id", "text"]
    )
    assert dedup.paragraph_near_dups(short, max_bucket=100, min_chars=2).count() == 0
    assert _ref_paragraph_near_dups(short, max_bucket=100, min_chars=2) == set()
    # and on a real corpus with the registered row's parameters
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kw = dict(
        threshold=0.8,
        max_bucket=100,
        min_chars=40,
        split_pattern=" table ",
        unit_key="encoded",
    )
    got = {
        (r.doc_id, r.para_idx)
        for r in dedup.paragraph_near_dups(docs, **kw).collect()
    }
    ref = _ref_paragraph_near_dups(docs, **kw)
    assert got == ref and len(got) > 10


def _ref_components(docs, max_bucket):
    pairs = dedup.lsh_candidate_pairs(docs, max_bucket=max_bucket)
    return {(r.node, r.component) for r in connected_components(pairs).collect()}


def test_lsh_components_match_pairs_cc(spark, sf_dir):
    # crafted graph exercising every contraction path: a 4-doc
    # exact-dup clique bridged to near-dups (cross edges), a 2-doc
    # exact-dup clique with no neighbours (self pair only — the
    # isolated-clique branch), and a loner (no pairs, absent from BOTH
    # outputs)
    rows = (
        [(i, BASE) for i in range(4)]
        + [(10 + i, BASE + f" extra{i}") for i in range(3)]
        + [(20, "the quick brown fox grazes beside a very quiet river bend"),
           (21, "the quick brown fox grazes beside a very quiet river bend")]
        + [(30, "zzz completely unrelated text qqq")]
    )
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r.node, r.component)
        for r in dedup.lsh_near_dup_components(docs, max_bucket=100).collect()
    }
    assert got == _ref_components(docs, 100) and got
    assert (20, 20) in got and (21, 20) in got  # the isolated clique
    assert all(n != 30 for n, _ in got)  # the loner pairs with nothing
    # and on a real corpus: identical (node, component) sets
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {
        (r.node, r.component)
        for r in dedup.lsh_near_dup_components(docs, max_bucket=100).collect()
    }
    assert got == _ref_components(docs, 100) and len(got) > 50


def test_ngram_gram_df_cap(spark):
    # every doc shares one hot trigram; with the df cap below the
    # gram's document frequency, the hot gram is pruned from candidate
    # generation and no pair survives on it alone
    rows = [(i, f"alpha beta gamma unique{i} token{i} word{i}") for i in range(8)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    uncapped = dedup.ngram_jaccard_pairs(docs, threshold=0.0).count()
    assert uncapped == 28  # 8 choose 2, all sharing 'alpha beta gamma'
    assert dedup.ngram_jaccard_pairs(docs, threshold=0.0, max_gram_df=5).count() == 0


def test_simhash_near_dup_hamming(spark):
    sh = {r.doc_id: r.simhash for r in dedup.simhash16(_docs(spark)).collect()}
    assert sh[0] == sh[1]

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(sh[0], sh[2]) < hamming(sh[0], sh[3])


def test_simhash_hamming_pairs(spark):
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dedup.simhash_hamming_pairs(_docs(spark)).collect()
    }
    assert got[(0, 1)] == 0  # identical docs: distance 0
    # OTHER is far from everything — never within distance 3
    assert not any(3 in p for p in got)
    # every reported pair respects the distance bound
    assert all(d <= 3 for d in got.values())


def test_simhash_hamming_bucket_cap(spark):
    rows = [(i, BASE) for i in range(10)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    assert dedup.simhash_hamming_pairs(docs).count() == 45
    assert dedup.simhash_hamming_pairs(docs, max_bucket=5).count() == 0


def test_ngram_jaccard(spark):
    pairs = {
        (r.doc_a, r.doc_b): (r.n_shared, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(_docs(spark), threshold=0.01).collect()
    }
    assert pairs[(0, 1)][1] == 1.0  # identical docs → J = 1
    assert 0.5 < pairs[(0, 2)][1] < 1.0  # near-dup high but < 1
    assert not any({a, b} & {3} for a, b in pairs)


def test_ngram_jaccard_matches_retired_oracle(spark, sf_dir):
    # gate rotation r7 retired the ngram_jaccard_pairs CORRECTNESS row;
    # its DuckDB oracle lives on here so the kernel stays cross-checked
    import os

    import duckdb

    from rnadam_spark.queries.pipeline_q import _NGRAM_JACCARD_SQL, ngram_jaccard_pairs

    got = sorted(
        (r.doc_a, r.doc_b, r.n_shared, r.jaccard)
        for r in ngram_jaccard_pairs(spark, sf_dir).collect()
    )
    con = duckdb.connect()
    pq = os.path.join(sf_dir, "documents.parquet")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{pq}')")
    want = sorted(map(tuple, con.execute(_NGRAM_JACCARD_SQL).fetchall()))
    assert got == want and got


def test_simhash_pairs_match_retired_oracle(spark, sf_dir):
    # gate rotation r8 retired the simhash_hamming_pairs CORRECTNESS
    # row (slot → pagerank/frontier_dedup); its DuckDB oracle lives on
    # here so the banding + xor-popcount kernel stays cross-checked
    import os

    import duckdb

    from rnadam_spark.queries.pipeline_q import (
        _SIMHASH_PAIRS_SQL,
        simhash_hamming_pairs,
    )

    got = sorted(
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_hamming_pairs(spark, sf_dir).collect()
    )
    con = duckdb.connect()
    pq = os.path.join(sf_dir, "documents.parquet")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{pq}')")
    want = sorted(map(tuple, con.execute(_SIMHASH_PAIRS_SQL).fetchall()))
    assert got == want and got


def test_verify_pairs_exact_jaccard(spark):
    from rnadam_spark.operators.dedup import lsh_candidate_pairs, verify_pairs

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog!"),  # near-dup of 1
        (3, "a completely different document about spark plans"),
        (4, "the quick brown fox jumps over the lazy dog"),   # exact dup of 1
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    cands = lsh_candidate_pairs(df, max_bucket=10)
    got = {(r.doc_a, r.doc_b): r.jaccard for r in verify_pairs(cands, df, threshold=0.5).collect()}

    # python reference: exact distinct-4-shingle Jaccard
    import math

    def shingles(t):
        return {t[i : i + 4] for i in range(len(t) - 3)}

    def jac(x, y):
        sx, sy = shingles(x), shingles(y)
        return math.floor(len(sx & sy) / len(sx | sy) * 1e6 + 0.5) / 1e6

    texts = dict(rows)
    for (da, db), j in got.items():
        assert j == jac(texts[da], texts[db]), (da, db)
    # the exact pair survives at 1.0; the unrelated doc never appears
    assert got[(1, 4)] == 1.0
    assert all(3 not in p for p in got)
    # verified pairs are a subset of the candidates
    cand_set = {(r.doc_a, r.doc_b) for r in cands.collect()}
    assert set(got) <= cand_set


def test_verify_then_cluster_pipeline(spark, sf_dir):
    # the full three-stage near-dup pipeline composes: candidates ->
    # exact-Jaccard verify -> connected components; every cluster member
    # must come from a verified pair
    from rnadam_spark.operators.dedup import lsh_candidate_pairs, verify_pairs
    from rnadam_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    cands = lsh_candidate_pairs(docs, max_bucket=100)
    verified = verify_pairs(cands, docs, threshold=0.2)
    clusters = connected_components(verified.select("doc_a", "doc_b"))
    member_ids = {r[0] for r in clusters.select(clusters.columns[0]).collect()}
    pair_ids = {x for r in verified.select("doc_a", "doc_b").collect() for x in r}
    assert member_ids <= pair_ids or not member_ids


def test_incremental_near_dups(spark):
    from rnadam_spark.operators.dedup import incremental_near_dups, minhash_signatures

    base = (
        "the quick brown fox jumps over the lazy dog while the cat watches from the mat "
        "and the birds sing in the morning light over the quiet river valley"
    )
    corpus = spark.createDataFrame(
        [
            (1, base),
            (2, base.replace("quick", "swift")),
            (3, "completely different content about databases and distributed systems"),
        ],
        ["doc_id", "text"],
    )
    # persisted signature store (as a real pipeline would parquet it)
    index_sigs = minhash_signatures(corpus)
    new_shard = spark.createDataFrame(
        [
            (101, base),                                   # exact dup of 1
            (102, base.replace("morning", "evening")),     # near dup of 1/2
            (103, "fresh unseen text about gardening and long walks at dusk"),
        ],
        ["doc_id", "text"],
    )
    got = {
        (r.new_id, r.index_id): r.est_jaccard
        for r in incremental_near_dups(new_shard, index_sigs, est_threshold=0.3).collect()
    }
    assert got[(101, 1)] == 1.0  # identical text -> identical signature
    assert (102, 1) in got and got[(102, 1)] >= 0.3
    assert all(n != 103 for n, _ in got)  # fresh doc matches nothing
    assert all(i != 3 for _, i in got)  # unrelated stored doc never paired
    # estimate agrees with the python count of matching components
    sig1 = {r.doc_id: r for r in index_sigs.collect()}[1]
    sig102 = {r.doc_id: r for r in minhash_signatures(new_shard).collect()}[102]
    expect = sum(sig1[f"h{j}"] == sig102[f"h{j}"] for j in range(16)) / 16
    assert got[(102, 1)] == expect
    # index-side bucket cap: cap 0 kills everything
    assert (
        incremental_near_dups(new_shard, index_sigs, est_threshold=0.0, max_bucket=0).count()
        == 0
    )


def test_minhash_estimate_tracks_exact_jaccard(spark):
    # the incremental-ingest similarity is the MinHash component-
    # agreement estimator; on random shingle sets with known overlap the
    # estimate must track exact Jaccard within the 16-hash std error
    import random

    from rnadam_spark.operators.dedup import (
        incremental_near_dups,
        minhash_signatures,
        verify_pairs,
    )

    rng = random.Random(17)
    words = [f"w{i:03d}" for i in range(400)]

    def doc(frac_shared, salt):
        n = 60
        shared = words[: int(n * frac_shared)]
        own = [f"{salt}{i}" for i in range(n - len(shared))]
        toks = shared + own
        rng.shuffle(toks)
        return " ".join(toks)

    store_rows = [(i, doc(0.9, f"s{i}_")) for i in range(10)]
    new_rows = [(100 + i, doc(0.9, f"n{i}_")) for i in range(10)]
    store = spark.createDataFrame(store_rows, ["doc_id", "text"])
    new = spark.createDataFrame(new_rows, ["doc_id", "text"])
    sigs = minhash_signatures(store)
    est = {
        (r.new_id, r.index_id): r.est_jaccard
        for r in incremental_near_dups(new, sigs, est_threshold=0.0).collect()
    }
    assert est  # high overlap -> bands collide
    pairs_df = spark.createDataFrame(
        [(a, b) for a, b in est], ["doc_a", "doc_b"]
    )
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in verify_pairs(
            pairs_df, store.union(new), threshold=0.0
        ).collect()
    }
    errs = [abs(est[p] - exact[p]) for p in est if p in exact]
    assert errs and sum(errs) / len(errs) < 0.15  # 16-hash estimator noise


def test_paragraph_near_dups_and_excision(spark):
    from rnadam_spark.operators.dedup import paragraph_near_dups
    from rnadam_spark.operators.text import excise_paragraphs

    banner = ("This website uses cookies to improve your experience on "
              "SITE and to personalize advertising content across pages.")
    body = [
        "A completely original paragraph about transcript quantification methods.",
        "Another unique paragraph describing the evaluation protocol in detail.",
        "Yet another distinct paragraph with its own particular substance here.",
        "A fourth standalone paragraph covering deployment considerations fully.",
        "A fifth self-contained paragraph on monitoring and alerting practice.",
    ]
    rows = []
    for i in range(4):
        # each doc: a lightly-edited banner variant + a UNIQUE body
        variant = banner.replace("SITE", f"site-{i}.example")
        rows.append((i, variant + "\n\n" + body[i]))
    rows.append((9, "Short.\n\n" + body[4]))
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")

    flagged = paragraph_near_dups(df, threshold=0.7, min_chars=40)
    got = {(r.doc_id, r.para_idx) for r in flagged.collect()}
    # exactly 3 of the 4 banner variants flagged (one canonical survives);
    # the unique bodies and the sub-min_chars "Short." are never flagged
    assert len(got) == 3 and all(p == 0 and d in (0, 1, 2, 3) for (d, p) in got)
    # determinism under repartition
    again = {
        (r.doc_id, r.para_idx)
        for r in paragraph_near_dups(
            df.repartition(7), threshold=0.7, min_chars=40
        ).collect()
    }
    assert again == got
    # composition: excising rebuilds docs without the flagged banners
    rebuilt = {r.doc_id: r.text for r in excise_paragraphs(df, flagged).collect()}
    n_with_banner = sum(1 for t in rebuilt.values() if "uses cookies" in t)
    assert n_with_banner == 1
    assert all(body[i] in rebuilt[i] for i in range(4))


def test_candidate_recall_audit(spark):
    from rnadam_spark.operators.dedup import candidate_recall

    base = ("the quick brown fox jumps over the lazy dog while the band "
            "plays on and the crowd watches quietly from the old stands")
    rows = []
    for i in range(60):
        if i % 3 == 0:
            # near-dup family: small edit per member
            rows.append((i, base + f" extra tail {i % 2}"))
        else:
            # md5-derived tokens: essentially zero shingle overlap
            import hashlib

            toks = [
                hashlib.md5(f"{i}:{j}".encode()).hexdigest()[:10]
                for j in range(25)
            ]
            rows.append((i, f"document {i} " + " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    rep = candidate_recall(df, threshold=0.6, sample_fraction=1.0)
    assert rep["sample_docs"] == 60
    # the family members are true near-dups and banding must find them:
    # 20 members sharing ~identical text -> C(20,2) true pairs
    assert rep["n_true"] == 190
    assert rep["recall"] == 1.0
    assert rep["n_candidates"] >= rep["n_hit"] > 0
    assert 0 < rep["precision"] <= 1.0


def test_candidate_recall_custom_columns(spark):
    # ADVICE r8: text_col/id_col used to be accepted but not forwarded
    # to lsh_candidate_pairs, so non-default names crashed
    from rnadam_spark.operators.dedup import candidate_recall

    base = ("the quick brown fox jumps over the lazy dog while the band "
            "plays on and the crowd watches quietly from the old stands")
    rows = [(i, base + f" tail {i % 2}") for i in range(12)]
    default = candidate_recall(
        spark.createDataFrame(rows, "doc_id BIGINT, text STRING"),
        threshold=0.6,
        sample_fraction=1.0,
    )
    renamed = candidate_recall(
        spark.createDataFrame(rows, "uid BIGINT, body STRING"),
        threshold=0.6,
        sample_fraction=1.0,
        text_col="body",
        id_col="uid",
    )
    assert renamed == default and default["n_true"] > 0


def test_lsh_candidate_pairs_match_retired_oracle(spark, sf_dir):
    # gate rotation r13 retired the lsh_candidate_pairs CORRECTNESS row
    # (slot -> bam_ingest); dedup_clusters' oracle embeds _LSH_PAIRS_SQL
    # verbatim as its pairs CTE, and the pair stage keeps its direct
    # cross-engine check here
    import os

    import duckdb

    from rnadam_spark.queries.pipeline_q import _LSH_PAIRS_SQL, lsh_candidate_pairs

    got = sorted((r.doc_a, r.doc_b) for r in lsh_candidate_pairs(spark, sf_dir).collect())
    con = duckdb.connect()
    pq = os.path.join(sf_dir, "documents.parquet")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{pq}')")
    want = sorted(map(tuple, con.execute(_LSH_PAIRS_SQL).fetchall()))
    assert got == want and got


def _minhash_explode_agg(docs):
    """The explode + partial-aggregate MinHash form the numpy kernel
    replaced (OPTIMIZATION_r13.md) — kept here as its independent
    oracle: shingle codes hashed once via explode, the 16 affine
    variants reduced by a map-side partial aggregate."""
    from rnadam_spark.functions.hashing import MOD, hash_family, poly_hash_col
    from rnadam_spark.functions.shingles import char_shingles

    k = dedup.SHINGLE_K
    codes = docs.filter(F.length("text") >= k).select(
        F.col("doc_id"),
        F.explode(F.transform(char_shingles("text", k), lambda x: poly_hash_col(x, k))).alias(
            "code"
        ),
    )
    aggs = [
        F.min((F.col("code") * a + b) % MOD).alias(f"h{j}")
        for j, (a, b) in enumerate(hash_family(dedup.N_HASHES, 42))
    ]
    return codes.groupBy("doc_id").agg(*aggs)


def _simhash_explode_agg(docs, seed=7):
    """The explode + 16-sum aggregate SimHash form the numpy kernel
    replaced (OPTIMIZATION_r13.md) — kept here as its oracle."""
    from rnadam_spark.functions.hashing import MOD, hash_family, poly_hash_col
    from rnadam_spark.functions.shingles import tokens

    token_codes = docs.select(
        F.col("doc_id"),
        F.explode(
            F.transform(
                F.array_distinct(tokens("text")),
                lambda t: poly_hash_col(F.rpad(t, 8, "_"), 8),
            )
        ).alias("code"),
    )
    bit_sums = [
        F.sum(((F.col("code") * a + b) % MOD % 2) * 2 - 1).alias(f"s{j}")
        for j, (a, b) in enumerate(hash_family(16, seed))
    ]
    sums = token_codes.groupBy("doc_id").agg(*bit_sums)
    simhash = F.lit(0)
    for j in range(16):
        simhash = simhash + (F.col(f"s{j}") >= 0).cast("int") * (2**j)
    return sums.select(F.col("doc_id"), simhash.cast("bigint").alias("simhash"))


def test_minhash_pandas_kernel_matches_jvm(spark):
    """The numpy kernel must produce IDENTICAL signatures to the
    explode+aggregate form — including unicode codepoints (utf-32
    decode vs ascii()), exactly-k and shorter-than-k documents, nulls,
    and empty strings (all dropped by both forms)."""
    rows = [
        (0, BASE),
        (1, NEAR),
        (2, "abc"),          # shorter than SHINGLE_K=4 → dropped
        (3, "abcd"),         # exactly one shingle
        (4, None),           # null text → dropped
        (5, ""),             # empty → dropped
        (6, "héllo wörld ünïcode ★ text with codepoints"),
        (7, OTHER),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    jvm = _minhash_explode_agg(docs)
    pnd = dedup.minhash_signatures(docs)
    assert jvm.columns == pnd.columns
    assert jvm.exceptAll(pnd).count() == 0 and pnd.exceptAll(jvm).count() == 0
    kept = {r.doc_id for r in pnd.collect()}
    assert kept == {0, 1, 3, 6, 7}


def test_simhash_pandas_kernel_matches_jvm(spark):
    """The numpy simhash kernel must match the explode + aggregate form
    exactly — including: tokens longer than the 8-char hash window that
    collide after truncation (distinctness is over FULL tokens, so both
    contribute), Java's ASCII-only \\s token split (unicode NBSP is NOT
    a separator), empty/null/whitespace-only docs (dropped), and
    single-token docs."""
    rows = [
        (0, BASE),
        (1, NEAR),
        (2, "identical9chars_a identical9chars_b x"),  # truncation collision
        (3, "word glued unicode nbsp is one token"),
        (4, None),
        (5, ""),
        (6, "   \t\n  "),
        (7, "single"),
        (8, OTHER),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    jvm = _simhash_explode_agg(docs)
    pnd = dedup.simhash16(docs)
    assert jvm.exceptAll(pnd).count() == 0 and pnd.exceptAll(jvm).count() == 0
    kept = {r.doc_id for r in pnd.collect()}
    assert kept == {0, 1, 2, 3, 7, 8}


def test_verify_pairs_size_prefilter_exact(spark):
    """r14 (guide §2.3): the size-ratio prefilter in verify_pairs —
    J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|) exactly — must never change the
    verified pair set. The boundary pair (jac == bound == threshold,
    the subset shape where the inequality is tight) must SURVIVE; a
    grossly size-mismatched pair drops under both the prefilter and
    the final filter; threshold=0 degenerates the prefilter to a no-op
    (every pair kept, as before)."""
    rows = [
        (1, "abcdefg"),             # 4 distinct 4-shingles
        (2, "abcdefgh"),            # superset, 5 shingles -> J = 4/5 = 0.8
        (3, "abcdefg" + "x" * 50),  # 8 distinct shingles -> ratio 0.5
        (4, "zzzzqqqqwwww"),        # disjoint
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3)], ["doc_a", "doc_b"]
    )
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.verify_pairs(pairs, docs, threshold=0.8).collect()
    }
    assert got == {(1, 2): 0.8}
    assert dedup.verify_pairs(pairs, docs, threshold=0.0).count() == 4


def test_components_max_bucket_none_raises(spark):
    """r14 (ADVICE fix): contracted components with max_bucket=None
    used to return an EMPTY result (`total <= None` is null) — now it
    raises."""
    import pytest

    docs = spark.createDataFrame([(1, "abcd" * 10)], ["doc_id", "text"])
    with pytest.raises(ValueError):
        dedup.lsh_near_dup_components(docs, max_bucket=None)


def _py_verify(pairs, texts, k, threshold):
    """Driver-side oracle for verify_pairs: codepoint k-shingle sets,
    Jaccard as one IEEE division, the same half-up ``hround`` to 6dp."""
    import math

    def shingles(t):
        return {t[i : i + k] for i in range(len(t) - k + 1)} if t is not None else set()

    out = {}
    for a, b in pairs:
        sa, sb = shingles(texts[a]), shingles(texts[b])
        inter = len(sa & sb)
        jac = inter / max(len(sa) + len(sb) - inter, 1)
        jac = math.floor(jac * 1e6 + 0.5) / 1e6
        if jac >= threshold:
            out[(a, b)] = jac
    return out


def test_verify_pairs_kernels_equal(spark):
    """The verify kernel (packed int64 shingle codes at k=4, the string
    form at k=5, where codes no longer fit an int64) must match a
    driver-side Jaccard exactly — including astral (non-BMP) codepoints
    riding the string fallback arrays, null/short texts, and the
    jaccard VALUES (same integers → same IEEE division → same hround)."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog!"),
        (3, "a completely different document about spark plans"),
        (4, "the quick brown fox jumps over the lazy dog"),
        (5, "emoji \U0001F600\U0001F600 text with the quick brown fox body"),
        (6, "emoji \U0001F600\U0001F600 text with the quick brown fox body!"),
        (7, None),
        (8, "abc"),  # shorter than k
    ]
    texts = dict(rows)
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    pair_list = [(1, 2), (1, 4), (5, 6), (1, 5), (3, 7), (7, 8), (1, 8)]
    pairs = spark.createDataFrame(pair_list, ["doc_a", "doc_b"])
    for k in (4, 5):
        for thr in (0.8, 0.2, 0.0):
            got = {
                (r.doc_a, r.doc_b): r.jaccard
                for r in dedup.verify_pairs(pairs, docs, k=k, threshold=thr).collect()
            }
            assert got == _py_verify(pair_list, texts, k, thr), (k, thr)
    # the emoji near-dup pair must verify (astral shingles intersect
    # through the string fallback arrays)
    got = {
        (r.doc_a, r.doc_b)
        for r in dedup.verify_pairs(pairs, docs, threshold=0.8).collect()
    }
    assert (5, 6) in got and (1, 4) in got
