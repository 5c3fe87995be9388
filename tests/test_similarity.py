from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rnadam_spark.operators import similarity

SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)


def _emb(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),   # identical to query
        (2, [0.9, 0.1, 0.0, 0.0]),   # close
        (3, [0.0, 1.0, 0.0, 0.0]),   # orthogonal
        (4, [-1.0, 0.0, 0.0, 0.0]),  # opposite
    ]
    return spark.createDataFrame(rows, SCHEMA)


def test_brute_force_topk_ordering(spark):
    got = similarity.brute_force_topk(_emb(spark), 0, 4).collect()
    assert [r.vec_id for r in got] == [1, 2, 3, 4]
    assert got[0].cos == 1.0
    assert abs(got[1].cos - 0.993884) < 1e-6
    assert got[2].cos == 0.0 and got[3].cos == -1.0


def test_lsh_buckets_deterministic_and_grouping(spark):
    df = _emb(spark)
    b1 = {r.vec_id: r.bucket for r in similarity.lsh_buckets(df, dim=4).collect()}
    b2 = {r.vec_id: r.bucket for r in similarity.lsh_buckets(df.repartition(3), dim=4).collect()}
    assert b1 == b2  # layout-independent
    assert b1[0] == b1[1]  # identical vectors share a bucket


def test_bucket_near_pairs_contains_identical_pair(spark):
    pairs = {
        (r.vec_a, r.vec_b): r.cos
        for r in similarity.bucket_near_pairs(_emb(spark), min_cos=-1.0, dim=4).collect()
    }
    assert pairs[(0, 1)] == 1.0


def test_bucket_near_pairs_max_bucket_drops_hot_bucket(spark):
    # an embedding farm (identical vectors) lands in one bucket; the
    # cap drops that bucket instead of emitting n² pairs
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(12)]
    df = spark.createDataFrame(rows, SCHEMA)
    assert similarity.bucket_near_pairs(df, min_cos=-1.0, dim=4).count() == 66
    assert similarity.bucket_near_pairs(df, min_cos=-1.0, dim=4, max_bucket=6).count() == 0


def test_ivf_cells_deterministic_and_identical_share_cell(spark):
    df = _emb(spark)
    c1 = {r.vec_id: r.cell for r in similarity.ivf_cells(df, dim=4).collect()}
    c2 = {r.vec_id: r.cell for r in similarity.ivf_cells(df.repartition(3), dim=4).collect()}
    assert c1 == c2  # layout-independent assignment
    assert c1[0] == c1[1]  # identical vectors share a cell


def test_ivf_topk_finds_neighbors_in_probed_cells(spark):
    # the identical vector shares the query's cell, so it is always in
    # the probe set and must rank first with cos = 1
    got = similarity.ivf_topk(_emb(spark), 0, k=4, n_centroids=8, n_probe=8, dim=4).collect()
    # n_probe = n_centroids → exhaustive: must equal brute force
    brute = similarity.brute_force_topk(_emb(spark), 0, 4).collect()
    assert [(r.vec_id, r.cos) for r in got] == [(r.vec_id, r.cos) for r in brute]
    probed = similarity.ivf_topk(_emb(spark), 0, k=4, n_centroids=8, n_probe=2, dim=4).collect()
    assert probed[0].vec_id == 1 and probed[0].cos == 1.0
    # probing fewer cells can only shrink the candidate set
    assert len(probed) <= len(got)


def test_planes_for_sizing_rule():
    # p ≥ log2(N / target occupancy): the plane count must grow with
    # the corpus — fixed 8 planes only fits ~16k vectors at target 64
    assert similarity.planes_for(16_384, 64) == 8
    assert similarity.planes_for(1_000_000_000, 64, n_planes_max=None) == 24
    assert similarity.planes_for(100, 64) == 1  # never zero planes
    # default clamp matches lsh_buckets_scaled, which computes exactly
    # n_planes_max bits — the sizing rule must never exceed the operator
    assert similarity.planes_for(1_000_000_000, 64) == 16
    assert similarity.planes_for(64 * 2**16, 64) == 16  # at the ceiling
    assert similarity.planes_for(1_000_000_000, 64, n_planes_max=24) == 24


def test_lsh_buckets_param_plane_count(spark):
    got = similarity.lsh_buckets(_emb(spark), dim=4, n_planes=4).collect()
    assert all(0 <= r.bucket < 16 for r in got)


def test_kmeans_centroids_recover_blobs(spark):
    # three tight, well-separated 4-d blobs: Lloyd iterations from a
    # deterministic hash-sample init must place one centroid near each
    # true mean, and trained cells must beat the default +/-1 patterns
    # at grouping the blobs
    import random

    rng = random.Random(5)
    true_means = [[10.0, 0.0, 0.0, 0.0], [0.0, 10.0, 0.0, 0.0], [0.0, 0.0, 10.0, 0.0]]
    rows = []
    for b, m in enumerate(true_means):
        for i in range(40):
            rows.append(
                (b * 100 + i, [v + rng.uniform(-0.5, 0.5) for v in m])
            )
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")

    cents = similarity.kmeans_centroids(df, k=3, max_iterations=8, dim=4)
    assert len(cents) == 3 and all(len(c) == 4 for c in cents)
    # each true mean has a trained centroid within the blob radius
    for m in true_means:
        best = min(sum((a - b) ** 2 for a, b in zip(c, m)) ** 0.5 for c in cents)
        assert best < 1.0, (m, cents)

    # assignment with trained centroids groups each blob into one cell
    cells = {
        r.vec_id: r.cell
        for r in similarity.ivf_cells(df, centroids=cents, dim=4).collect()
    }
    for b in range(3):
        blob_cells = {cells[b * 100 + i] for i in range(40)}
        assert len(blob_cells) == 1, (b, blob_cells)
    assert len({cells[0], cells[100], cells[200]}) == 3  # distinct cells


def test_kmeans_centroids_partitioning_invariant(spark):
    rows = [(i, [float((i * 7) % 13), float((i * 3) % 5), 0.0, 1.0]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    a = similarity.kmeans_centroids(df, k=4, max_iterations=3, dim=4)
    b = similarity.kmeans_centroids(df.repartition(7), k=4, max_iterations=3, dim=4)
    # init is hash-deterministic and assignments are argmax over exact
    # literals; only the mean's float summation order can vary with the
    # layout, so centroids agree to ~1e-9 rather than bit-exactly
    assert len(a) == len(b)
    for ca, cb in zip(a, b):
        assert all(abs(x - y) < 1e-9 for x, y in zip(ca, cb)), (ca, cb)


def test_ivf_topk_trained_recall_on_clustered_corpus(spark):
    # on clustered data the whole point of TRAINING centroids shows up
    # as recall: the query's true neighbors live in its blob, k-means
    # centroids align cells with blobs, so probing the top cell(s)
    # recovers the brute-force top-k exactly
    import random

    rng = random.Random(11)
    means = [[20.0 * (b == i) for i in range(4)] for b in range(4)]
    rows = []
    for b, m in enumerate(means):
        for i in range(50):
            rows.append((b * 1000 + i, [v + rng.uniform(-1.0, 1.0) for v in m]))
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")

    cents = similarity.kmeans_centroids(df, k=4, max_iterations=6, dim=4)
    exact = [r.vec_id for r in similarity.brute_force_topk(df, 0, 10).collect()]
    approx = [
        r.vec_id
        for r in similarity.ivf_topk(
            df, 0, 10, n_centroids=4, n_probe=1, dim=4, centroids=cents
        ).collect()
    ]
    recall = len(set(exact) & set(approx)) / len(exact)
    assert recall == 1.0, (recall, exact, approx)


def _two_blob_corpus(spark, n_per=15, seed=21):
    # two well-separated blobs plus an identical-triplet "duplicate farm"
    # inside blob 0: ids 900/901 are exact copies of id 0's vector
    import random

    rng = random.Random(seed)
    rows = []
    for b, m in enumerate(([12.0, 0.0, 0.0, 0.0], [0.0, 12.0, 0.0, 0.0])):
        for i in range(n_per):
            rows.append((b * 100 + i, [v + rng.uniform(-1.0, 1.0) for v in m]))
    rows.append((900, list(rows[0][1])))
    rows.append((901, list(rows[0][1])))
    return spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")


def test_cell_near_pairs_bounded_to_cells(spark):
    df = _two_blob_corpus(spark)
    cents = similarity.kmeans_centroids(df, k=2, max_iterations=6, dim=4)
    pairs = similarity.cell_near_pairs(df, cents, min_cos=-1.0).collect()
    cells = {
        r.vec_id: r.cell
        for r in similarity.ivf_cells(df, centroids=cents, dim=4).collect()
    }
    assert pairs  # within-cell pairs exist
    for r in pairs:
        assert cells[r.vec_a] == cells[r.vec_b]  # never across cells
    exact = {(r.vec_a, r.vec_b) for r in pairs if r.cos == 1.0}
    assert (0, 900) in exact and (0, 901) in exact and (900, 901) in exact


def test_cell_near_pairs_max_cell_drops_hot_cell(spark):
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    assert similarity.cell_near_pairs(df, cents, min_cos=-1.0).count() == 45
    assert similarity.cell_near_pairs(df, cents, min_cos=-1.0, max_cell=5).count() == 0


def test_semantic_dedup_keeps_canonical_per_component(spark):
    df = _two_blob_corpus(spark)
    got = {r.vec_id: r for r in similarity.semantic_dedup(df, min_cos=0.9999, k=2, dim=4).collect()}
    assert len(got) == df.count()  # every vector classified
    # the duplicate farm collapses to one component, canonical = min id
    assert got[0].component == 0 and got[0].keep
    assert got[900].component == 0 and not got[900].keep
    assert got[901].component == 0 and not got[901].keep
    # everything else is a singleton that keeps itself (noise +/-1.0 on a
    # 12-norm blob keeps member cosine < 0.9999)
    for vid, r in got.items():
        if vid not in (0, 900, 901):
            assert r.component == vid and r.keep, r
    # partitioning invariance of the end-to-end result
    got2 = {
        r.vec_id: (r.component, r.keep)
        for r in similarity.semantic_dedup(df.repartition(5), min_cos=0.9999, k=2, dim=4).collect()
    }
    assert got2 == {k: (v.component, v.keep) for k, v in got.items()}


def test_train_pq_recovers_axis_codebooks(spark):
    # vectors whose two subspaces independently take one of two distinct
    # values: PQ k-means (k=2 per subspace) must recover all 4 distinct
    # sub-vectors, and encoding must map each vector to its exact pair
    rows = []
    subs0 = [[10.0, 0.0], [0.0, 10.0]]
    subs1 = [[5.0, 5.0], [-5.0, 5.0]]
    vid = 0
    for i, s0 in enumerate(subs0):
        for j, s1 in enumerate(subs1):
            for _ in range(5):
                rows.append((vid, s0 + s1))
                vid += 1
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    books = similarity.train_pq(df, m=2, nbits=1, max_iterations=6, dim=4)
    assert len(books) == 2 and all(len(b) == 2 for b in books)
    assert {tuple(round(x, 6) for x in c) for c in books[0]} == {(10.0, 0.0), (0.0, 10.0)}
    assert {tuple(round(x, 6) for x in c) for c in books[1]} == {(5.0, 5.0), (-5.0, 5.0)}
    codes = {r.vec_id: tuple(r.codes) for r in similarity.pq_encode(df, books, dim=4).collect()}
    # identical vectors share codes; the 4 groups get 4 distinct codes
    assert len({codes[v] for v in codes}) == 4
    for g in range(4):
        assert len({codes[g * 5 + i] for i in range(5)}) == 1


def test_pq_topk_exact_on_codebook_vectors_and_recall_on_blobs(spark):
    import random

    rng = random.Random(7)
    means = [[15.0 * (b == i) for i in range(4)] for b in range(4)]
    rows = []
    for b, mean in enumerate(means):
        for i in range(30):
            rows.append((b * 1000 + i, [v + rng.uniform(-0.5, 0.5) for v in mean]))
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    books = similarity.train_pq(df, m=2, nbits=2, max_iterations=6, dim=4)
    exact = [r.vec_id for r in similarity.brute_force_topk(df, 0, 10).collect()]
    approx = [r.vec_id for r in similarity.pq_topk(df, 0, books, k=30, dim=4).collect()]
    # quantization collapses each blob; the query's blob-mates (its true
    # top-10 by cosine) must all appear in the PQ top-30 candidate set
    recall = len(set(exact) & set(approx)) / len(exact)
    assert recall == 1.0, (recall, exact, approx)


def test_pq_topk_partitioning_invariant(spark):
    rows = [(i, [float((i * 7) % 13), float((i * 3) % 5), float(i % 3), 1.0]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    books = similarity.train_pq(df, m=2, nbits=2, max_iterations=3, dim=4)
    a = [(r.vec_id, r.score) for r in similarity.pq_topk(df, 0, books, k=10, dim=4).collect()]
    books_b = similarity.train_pq(df.repartition(7), m=2, nbits=2, max_iterations=3, dim=4)
    b = [(r.vec_id, r.score) for r in similarity.pq_topk(df.repartition(7), 0, books_b, k=10, dim=4).collect()]
    assert a == b


def test_incremental_semantic_dups(spark):
    df = _two_blob_corpus(spark)
    cents = similarity.kmeans_centroids(df, k=2, max_iterations=6, dim=4)
    # "store" = the deduped corpus; "new shard" = one exact copy of id 0's
    # vector plus a genuinely novel vector
    store = df
    novel_vec = [0.0, 0.0, 12.0, 0.0]
    new = spark.createDataFrame(
        [(5000, [r for r in store.filter("vec_id = 0").collect()[0].embedding]),
         (5001, novel_vec)],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    got = similarity.incremental_semantic_dups(new, store, cents, min_cos=0.9999).collect()
    pairs = {(r.new_id, r.store_id): r.cos for r in got}
    # the copy matches id 0 and its two farm twins, all at cos 1.0
    assert pairs[(5000, 0)] == 1.0
    assert (5000, 900) in pairs and (5000, 901) in pairs
    # the novel vector matches nothing
    assert not any(nid == 5001 for nid, _sid in pairs)
    # store-side cap drops hot cells entirely
    capped = similarity.incremental_semantic_dups(
        new, store, cents, min_cos=0.9999, max_cell=3
    ).collect()
    assert capped == []


def test_ivfpq_on_stored_codes(spark, monkeypatch):
    import random

    rng = random.Random(3)
    means = [[18.0 * (b == i) for i in range(4)] for b in range(4)]
    rows = []
    for b, mean in enumerate(means):
        for i in range(25):
            rows.append((b * 1000 + i, [v + rng.uniform(-0.5, 0.5) for v in mean]))
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    cents = similarity.kmeans_centroids(df, k=4, max_iterations=6, dim=4)
    books = similarity.train_pq(df, m=2, nbits=2, max_iterations=6, dim=4)

    # persist-once representation: (vec_id, cell, codes)
    cells = similarity.ivf_cells(df, centroids=cents, dim=4)
    codes = similarity.pq_encode(df, books, dim=4).join(cells, "vec_id")
    q = [r for r in df.filter("vec_id = 0").collect()][0].embedding

    # full-scan ADC over stored codes == pq_topk (re-encoding path)
    a = [(r.vec_id, r.score) for r in
         similarity.pq_topk_on_codes(codes.filter("vec_id != 0"), q, books, k=30, dim=4).collect()]
    b = [(r.vec_id, r.score) for r in similarity.pq_topk(df, 0, books, k=30, dim=4).collect()]
    assert a == b

    # IVFPQ with 1 probe: candidates come only from the query's cell,
    # and the query's blob-mates (true top-10) are all recovered
    exact = [r.vec_id for r in similarity.brute_force_topk(df, 0, 10).collect()]
    ivfpq = [r.vec_id for r in similarity.ivfpq_topk_on_codes(
        codes.filter("vec_id != 0"), q, cents, books, k=30, n_probe=1, dim=4
    ).collect()]
    assert set(exact) <= set(ivfpq)
    cells_map = {r.vec_id: r.cell for r in cells.collect()}
    qcell = cells_map[0]
    assert all(cells_map[v] == qcell for v in ivfpq)
    # probing all cells recovers the full-scan ADC result
    allp = [(r.vec_id, r.score) for r in similarity.ivfpq_topk_on_codes(
        codes.filter("vec_id != 0"), q, cents, books, k=30, n_probe=4, dim=4
    ).collect()]
    assert allp == a

    # above PQ_LITERAL_MAX table entries the lookup table broadcasts as
    # a (sub, code, qdot) table instead of plan literals: the exact rows
    # of the literal form, and the plan probes the table via a broadcast
    # join (plan size O(1) in m·2^nbits)
    from rnadam_spark.plans.checks import has_broadcast_join

    monkeypatch.setattr(similarity, "PQ_LITERAL_MAX", 0)
    j = [(r.vec_id, r.score) for r in
         similarity.pq_topk_on_codes(codes.filter("vec_id != 0"), q, books, k=30, dim=4).collect()]
    assert j == a
    assert has_broadcast_join(similarity.pq_topk_on_codes(codes, q, books, k=30, dim=4))


def test_hash_embed_properties(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog!"),  # near-dup
        (3, "entirely different content about pasta and tomatoes"),
        (4, ""),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    emb = similarity.hash_embed(docs, dim=32)
    got = {r.vec_id: list(r.embedding) for r in emb.collect()}
    assert all(len(v) == 32 for v in got.values())
    # unit norm (or zero for empty text)
    for vid, v in got.items():
        n = sum(x * x for x in v) ** 0.5
        assert abs(n - 1.0) < 1e-9 or (vid == 4 and n == 0.0), (vid, n)

    def cos(a, b):
        return sum(x * y for x, y in zip(a, b))

    assert cos(got[1], got[2]) > 0.95          # near-dups nearly parallel
    assert cos(got[1], got[3]) < cos(got[1], got[2])
    # layout-independent
    got2 = {r.vec_id: list(r.embedding) for r in
            similarity.hash_embed(docs.repartition(3), dim=32).collect()}
    assert got == got2
    # zero-shuffle projection
    from rnadam_spark.plans.checks import count_shuffles
    assert count_shuffles(similarity.hash_embed(docs, dim=32)) == 0


def test_semantic_dedup_over_hash_embeddings(spark):
    # the text -> embedding bridge composes with semantic dedup: exact
    # textual duplicates collapse, distinct docs survive
    rows = [(i, f"totally unique document number {i} with distinct content words {i*7}")
            for i in range(8)]
    rows += [(100, rows[0][1]), (101, rows[0][1])]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    emb = similarity.hash_embed(docs, dim=32)
    got = {r.vec_id: r for r in
           similarity.semantic_dedup(emb, min_cos=0.9999, k=4, dim=32).collect()}
    assert got[0].keep and got[0].component == 0
    assert not got[100].keep and got[100].component == 0
    assert not got[101].keep and got[101].component == 0
    assert all(got[i].keep for i in range(1, 8))


def test_ann_recall_paths(spark):
    # recall@k of each approximate path against brute force on a seeded
    # corpus: exact agreement paths score 1.0, quantized paths score
    # high-but-measurable, and the number itself is what the operator
    # must report faithfully (verified against a python set overlap)
    import random

    from rnadam_spark.operators import similarity as S

    rng = random.Random(5)
    rows = [(i, [rng.gauss(0, 1) for _ in range(S.DIM)]) for i in range(300)]
    emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>").cache()
    exact = S.brute_force_topk(emb, 0, k=10)
    exact_ids = {r.vec_id for r in exact.collect()}

    # rerank of a generous PQ candidate list: recall comes from the ADC
    books = S.train_pq(emb, m=8, nbits=4, max_iterations=2)
    q = rows[0][1]
    cand = S.pq_topk_on_codes(
        S.pq_encode(emb.filter("vec_id != 0"), books), q, books, k=60
    )
    rerank = S.exact_rerank(cand, emb.filter("vec_id != 0"), q, k=10)
    got = S.ann_recall(rerank, exact).collect()[0]
    want_hits = len({r.vec_id for r in rerank.collect()} & exact_ids)
    assert got.k == 10 and got.n_hits == want_hits
    assert abs(got.recall - want_hits / 10) < 1e-9
    # a self-comparison is perfect recall by construction
    perfect = S.ann_recall(exact, exact).collect()[0]
    assert perfect.recall == 1.0 and perfect.n_hits == 10


def test_trainers_clear_error_on_empty_table(spark):
    import pytest

    from rnadam_spark.operators import similarity as S

    empty = spark.createDataFrame([], "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    with pytest.raises(ValueError, match="empty"):
        S.kmeans_centroids(empty, k=2, max_iterations=1)
    with pytest.raises(ValueError, match="empty"):
        S.train_pq(empty, m=2, nbits=2, max_iterations=1)


def test_ann_scale_oracle_twin_matches_registered_oracle():
    """The registered embedding_bucket_pairs oracle is SCALE-ADAPTIVE
    (p planes masked from a 16-plane family by the in-SQL integer
    planes_for rule); the fixed-p twin in tools/ann_scale_oracle.py at
    the p that rule picks for this corpus (n=500 → p=3) must reproduce
    it row-for-row — pinning the adaptive masking to the sequentially-
    drawn plane family AND the tool that carried the pre-adaptive
    sf1/sf10 assurance."""
    import duckdb

    import __spark_entry__ as entrymod
    from rnadam_spark.operators.similarity import planes_for
    from tools.ann_scale_oracle import pair_oracle_sql

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS "
        "SELECT * FROM '/root/testdata/sf0.001/embeddings.parquet'"
    )
    n = con.execute("SELECT count(*) FROM embeddings").fetchone()[0]
    p = planes_for(n, 64)
    assert p == 3  # the corpus this pin was computed for
    registered = entrymod.oracle_sql()["embedding_bucket_pairs"]
    a = con.execute(
        f"SELECT * FROM ({registered}) ORDER BY vec_a, vec_b"
    ).fetchall()
    b = con.execute(
        f"SELECT * FROM ({pair_oracle_sql(p, 100)}) ORDER BY vec_a, vec_b"
    ).fetchall()
    assert len(a) > 0 and a == b


def test_lsh_buckets_fixed_matches_duckdb(spark):
    """Cross-engine pin for the FIXED-plane bucketing: lsh_buckets at
    the default 8 planes vs an independently-written DuckDB expression
    over the same plane family. The gate verifies only the adaptive
    form (embedding_bucket_pairs uses lsh_buckets_scaled); this keeps
    the fixed-p path — the one a caller with an off-plan planes_for
    sizing uses — hash-equivalent across engines too."""
    import duckdb

    from rnadam_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = {r.vec_id: r.bucket for r in S.lsh_buckets(emb).collect()}

    planes = S.hyperplanes()  # default 8 x 64, seed 99

    def plane_lit(plane):
        return "[" + ", ".join(f"{float(v)}" for v in plane) + "]"

    bucket_sql = " + ".join(
        f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {plane_lit(p)}) >= 0"
        f" THEN {2**j} ELSE 0 END)"
        for j, p in enumerate(planes)
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS "
        "SELECT * FROM '/root/testdata/sf0.001/embeddings.parquet'"
    )
    want = dict(
        con.execute(f"SELECT vec_id, {bucket_sql} FROM embeddings").fetchall()
    )
    assert got == want and len(got) > 0


def test_lsh_buckets_scaled_matches_fixed_at_computed_p(spark):
    """The in-plan adaptive plane count must reproduce the fixed-p
    bucketing exactly at the p the planes_for rule picks (the plane
    family is drawn sequentially, so the first p planes coincide)."""
    from rnadam_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    p = S.planes_for(emb.count(), 64)
    scaled = {r.vec_id: r.bucket for r in S.lsh_buckets_scaled(emb, 64).collect()}
    fixed = {r.vec_id: r.bucket for r in S.lsh_buckets(emb, n_planes=p).collect()}
    assert scaled == fixed and len(scaled) == emb.count()


def test_lsh_buckets_scaled_integer_p_boundaries(spark):
    """p at exact power-of-two corpus sizes: n == target stays at the
    1-plane floor, n == target+1 crosses to 1, n == 2*target+1 to 2 —
    the integer thresholds a float log2 could straddle by one ulp."""
    from pyspark.sql import functions as F

    from rnadam_spark.operators import similarity as S

    def p_of(n):
        emb = spark.range(n).select(
            F.col("id").alias("vec_id"),
            F.array(*[F.lit(1.0)] * 4).alias("embedding"),
        )
        # identical vectors -> all rows share one bucket; the bucket id
        # itself reveals how many planes were kept (all-ones plane dots
        # are positive or negative depending on the plane, but p only
        # bounds WHICH bits can be set)
        buckets = S.lsh_buckets_scaled(emb, target_bucket=8, dim=4).collect()
        assert len({r.bucket for r in buckets}) == 1
        return buckets[0].bucket

    # n=8 (== target): p floors at 1 -> bucket < 2
    assert p_of(8) < 2
    # n=9: p=1 -> bucket < 2; n=17: p=2 -> bucket < 4; n=33: p=3 -> bucket < 8
    assert p_of(9) < 2
    assert p_of(17) < 4
    assert p_of(33) < 8


def test_embedding_topk_matches_retired_oracle(spark, sf_dir):
    # gate rotation r11 retired the embedding_topk CORRECTNESS row
    # (slot → ann_recall, whose oracle embeds this very SQL as its
    # exact CTE); the brute-force ranking keeps its own direct
    # cross-engine check here
    import os

    import duckdb

    from rnadam_spark.queries.pipeline_q import _EMB_TOPK_SQL, embedding_topk

    got = [(r.vec_id, r.cos) for r in embedding_topk(spark, sf_dir).collect()]
    con = duckdb.connect()
    pq = os.path.join(sf_dir, "embeddings.parquet")
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{pq}')")
    want = list(map(tuple, con.execute(_EMB_TOPK_SQL).fetchall()))
    assert got == want and len(got) == 20


def test_ivf_topk_matches_retired_oracle(spark, sf_dir):
    # gate rotation r12 retired the ivf_topk CORRECTNESS row (slot →
    # the native ingestion rows in ingest_q.py); ann_recall's oracle
    # embeds _IVF_TOPK_SQL verbatim as its approx CTE, and the probe
    # ranking keeps its direct cross-engine check here
    import os

    import duckdb

    from rnadam_spark.queries.pipeline_q import _IVF_TOPK_SQL, ivf_topk

    got = [(r.vec_id, r.cos) for r in ivf_topk(spark, sf_dir).collect()]
    con = duckdb.connect()
    pq = os.path.join(sf_dir, "embeddings.parquet")
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{pq}')")
    want = list(map(tuple, con.execute(_IVF_TOPK_SQL).fetchall()))
    assert got == want and len(got) == 20


# --- interpreted-HOF references for the numpy embedding kernels (the
# forms the kernels replaced; each kernel must match them bit for bit)


def _bucket_bits_hof(emb: Column, planes: list[list[int]], p: Column | None = None) -> Column:
    """``Σ_{j<p} (v·hⱼ ≥ 0)·2ʲ`` as ONE transform over the folded plane
    literal + ONE aggregate, the interpreted expression the numpy bucket
    kernel replaced (OPTIMIZATION_r13.md). ``p`` masks to the first p
    planes (None = use all)."""
    scores = F.transform(
        similarity._lit_vectors(planes), lambda c: similarity.dot(emb, c)
    )
    powers = F.array(*[F.lit(2**j).cast("bigint") for j in range(len(planes))])

    def term(s: Column, j: Column) -> Column:
        keep = (s >= 0) if p is None else ((j.cast("bigint") < p) & (s >= 0))
        return F.when(keep, F.element_at(powers, j + F.lit(1))).otherwise(
            F.lit(0).cast("bigint")
        )

    return F.aggregate(
        F.transform(scores, term), F.lit(0).cast("bigint"), lambda acc, x: acc + x
    )


def _lsh_buckets_hof(df, seed=99, dim=similarity.DIM, n_planes=similarity.N_PLANES):
    planes = similarity.hyperplanes(n=n_planes, dim=dim, seed=seed)
    bucket = _bucket_bits_hof(similarity._as_double("embedding"), planes)
    return df.select("vec_id", bucket.cast("bigint").alias("bucket"))


def _lsh_buckets_scaled_hof(df, target_bucket, seed=99, dim=similarity.DIM, n_planes_max=16):
    planes = similarity.hyperplanes(n=n_planes_max, dim=dim, seed=seed)
    n = df.agg(F.count("*").alias("__n"))
    tgt = max(target_bucket, 1)
    p = F.greatest(
        F.lit(1).cast("bigint"),
        sum(
            F.when(F.lit(tgt * 2 ** (j - 1)) < F.col("__n"), 1).otherwise(0)
            for j in range(1, n_planes_max + 1)
        ).cast("bigint"),
    )
    bucket = _bucket_bits_hof(similarity._as_double("embedding"), planes, p=p)
    return df.crossJoin(F.broadcast(n)).select("vec_id", bucket.cast("bigint").alias("bucket"))


def _ivf_cells_hof(df, n_centroids=16, seed=1234, dim=similarity.DIM, centroids=None):
    cents = (
        centroids
        if centroids is not None
        else similarity.hyperplanes(n=n_centroids, dim=dim, seed=seed)
    )
    scores = similarity._centroid_scores(similarity._as_double("embedding"), cents)
    return df.select("vec_id", F.array_max(scores)["cid"].cast("bigint").alias("cell"))


def _pq_encode_hof(df, codebooks, dim=similarity.DIM):
    m = len(codebooks)
    emb = similarity._as_double("embedding")
    codes = F.array(
        *[
            F.array_max(similarity._l2_scores(s, codebooks[sub]))["cid"]
            for sub, s in enumerate(similarity._sub_slices(emb, m=m, dim=dim))
        ]
    )
    return df.select("vec_id", codes.alias("codes"))


def _corner_corpus(spark, dim=64, n=40, seed=7):
    # realistic float rows + every misshapen corner the numpy kernels
    # route through the scalar mirror: null, empty, short, long — plus
    # NaN rows (r14, ADVICE fix): Spark's nan-safe ordering makes a NaN
    # score pass `>= 0` and sort ABOVE every double, so the numpy/python
    # mirrors must replicate that, not IEEE's always-false comparisons
    import random

    rng = random.Random(seed)
    nan = float("nan")
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(n)
    ]
    rows += [
        (n, None),
        (n + 1, []),
        (n + 2, [0.5, -0.25, 0.125]),
        (n + 3, [rng.uniform(-1, 1) for _ in range(dim + 1)]),
        (n + 4, [nan] * dim),
        (n + 5, [nan] + [rng.uniform(-1, 1) for _ in range(dim - 1)]),
    ]
    return spark.createDataFrame(rows, SCHEMA)


def test_ivf_cells_kernels_equal(spark):
    df = _corner_corpus(spark)
    got_p = {r.vec_id: r.cell for r in similarity.ivf_cells(df).collect()}
    got_j = {r.vec_id: r.cell for r in _ivf_cells_hof(df).collect()}
    assert got_p == got_j and len(got_p) == 46
    # trained-float centroids too (the cell_near_pairs path)
    cents = [[0.1 * ((i * 7 + j * 3) % 11 - 5) for j in range(64)] for i in range(8)]
    got_p = {r.vec_id: r.cell for r in similarity.ivf_cells(df, centroids=cents).collect()}
    got_j = {
        r.vec_id: r.cell
        for r in _ivf_cells_hof(df, centroids=cents).collect()
    }
    assert got_p == got_j
    # exact-tie breaks to the larger cid in BOTH forms
    tie = spark.createDataFrame([(0, [1.0, 1.0, 0.0, 0.0])], SCHEMA)
    tie_cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0], [-1.0, 0.0, 0.0, 0.0]]
    for form in (similarity.ivf_cells, _ivf_cells_hof):
        [r] = form(tie, centroids=tie_cents, dim=4).collect()
        assert r.cell == 1


def test_pq_encode_kernels_equal(spark):
    import random

    df = _corner_corpus(spark)
    rng = random.Random(13)
    books = [
        [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(4)] for _ in range(8)
    ]
    got_p = {r.vec_id: r.codes for r in similarity.pq_encode(df, books).collect()}
    got_j = {
        r.vec_id: r.codes for r in _pq_encode_hof(df, books).collect()
    }
    assert got_p == got_j and len(got_p) == 46


def test_lsh_buckets_kernels_equal(spark):
    df = _corner_corpus(spark)
    # an exact-zero dot must set the bit in BOTH kernels (0.0 >= 0)
    zero = spark.createDataFrame([(100, [0.0] * 64)], SCHEMA)
    df = df.union(zero)
    got_p = {r.vec_id: r.bucket for r in similarity.lsh_buckets(df).collect()}
    got_j = {
        r.vec_id: r.bucket for r in _lsh_buckets_hof(df).collect()
    }
    assert got_p == got_j and len(got_p) == 47
    assert got_p[100] == 2**similarity.N_PLANES - 1  # all-zero dots: every bit set
    # misshapen rows (null / empty / short / long) bucket to 0 in both
    for vid in (40, 41, 42, 43):
        assert got_p[vid] == 0


def test_lsh_buckets_scaled_kernels_equal(spark):
    # n spanning the p = 1, 2, 3 integer boundaries of the tgt·2^(j-1)
    # rule (tgt=8: p rises at n=9, 17, 33) + the misshapen corners
    df = _corner_corpus(spark, dim=4, n=30)
    for tgt in (8, 64):
        got_p = {
            r.vec_id: r.bucket
            for r in similarity.lsh_buckets_scaled(df, tgt, dim=4).collect()
        }
        got_j = {
            r.vec_id: r.bucket
            for r in _lsh_buckets_scaled_hof(df, tgt, dim=4).collect()
        }
        assert got_p == got_j and len(got_p) == 36
