"""Driver-facing queries for the training-data pipeline operators
(dedup, similarity search, text analysis), each with a DuckDB oracle
that reproduces the exact same portable hash arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rnadam_spark.functions.hashing import MOD, hash_family, poly_hash_sql
from rnadam_spark.functions.rounding import hround, hround_sql
from rnadam_spark.lineage import truncate_lineage
from rnadam_spark.operators import (
    dedup,
    mixing,
    repetition,
    sampling,
    similarity,
    sketches,
    text,
)
from rnadam_spark.registry import query
from rnadam_spark.sources.tables import load_table

# ---------------------------------------------------------------- dedup

_SHINGLES4_SQL = """
SELECT doc_id, substring(text, CAST(i AS INT), 4) AS s
FROM (SELECT doc_id, text, unnest(range(1, greatest(length(text) - 3, 0) + 1)) AS i
      FROM documents WHERE length(text) >= 4)
"""

_CODE4 = poly_hash_sql("s", 4)
_MIN_COLS = ",\n       ".join(
    f"min((({_CODE4}) * {a} + {b}) % {MOD}) AS h{j}"
    for j, (a, b) in enumerate(hash_family(dedup.N_HASHES, 42))
)
_MINHASH_SQL = f"""
SELECT doc_id,
       {_MIN_COLS}
FROM ({_SHINGLES4_SQL})
GROUP BY doc_id
"""

_BANDS_SQL = "\nUNION ALL\n".join(
    f"SELECT doc_id, {b} AS band, concat_ws('_', h{b * 4}, h{b * 4 + 1}, h{b * 4 + 2}, h{b * 4 + 3}) AS band_sig FROM sig"
    for b in range(dedup.N_BANDS)
)


def exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup = the reference's group-by-signature classing (A3)
    generalized to content hashes.

    Not registered (gate rotation r7, third wave): the md5 content-hash
    kernel stays hash-verified via ``corpus_diff`` (per-doc md5 compare)
    and the min/count-per-group kernel via ``customer_order_stats``;
    row retired to make room for ``boilerplate_3grams``."""
    return dedup.exact_dup_groups(load_table(spark, sf_dir, "documents"))


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document MinHash signature, shuffle-free on the Spark side
    (shingle array → per-hash transform → array_min in one projection;
    the oracle's explode+min is the same multiset minimum).

    Not registered (gate rotation r7, second wave): the signature
    kernel is the first CTE of ``lsh_candidate_pairs``' oracle — every
    hash of every document still hash-compares there; the standalone
    row retired to make room for ``lm_perplexity``."""
    return dedup.minhash_signatures(load_table(spark, sf_dir, "documents", widen=True))


LSH_MAX_BUCKET = 100  # scale guard: a bucket of n emits n² pairs

_LSH_PAIRS_SQL = f"""
    WITH sig AS ({_MINHASH_SQL}),
    bands AS ({_BANDS_SQL}),
    capped AS (SELECT * FROM bands
               QUALIFY count(*) OVER (PARTITION BY band, band_sig) <= {LSH_MAX_BUCKET})
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM capped a JOIN capped b USING (band, band_sig)
    WHERE a.doc_id < b.doc_id
    """


@query("lsh_candidate_pairs", oracle=_LSH_PAIRS_SQL)
def lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH banding: near-dup candidates agreeing on ≥1 band.
    Runs with the ``max_bucket`` guard ON — a boilerplate band bucket
    of n docs costs n² pairs, so the uncapped operator does not survive
    a skewed corpus; the oracle mirrors the cap with a windowed count
    filter.

    Re-registered for the r13 optimization round: optimization rounds
    must keep every previously-declared query, and the gate checks only
    the first 50 registered rows, so the r13 mid-build rotation that
    had retired this row in favor of ``bam_ingest`` is undone here
    (the BAM loader keeps its pytest DuckDB cross-check)."""
    return dedup.lsh_candidate_pairs(
        load_table(spark, sf_dir, "documents", widen=True), max_bucket=LSH_MAX_BUCKET
    )


@query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_LSH_PAIRS_SQL}),
    sym AS (SELECT doc_a AS node, doc_b AS nbr FROM pairs
            UNION
            SELECT doc_b AS node, doc_a AS nbr FROM pairs),
    walk(node, lbl) AS (
      SELECT node, node FROM sym
      UNION
      SELECT s.node, w.lbl FROM sym s JOIN walk w ON s.nbr = w.node
    )
    SELECT node AS doc_id, min(lbl) AS component FROM walk GROUP BY node
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS from the LSH candidate pairs: connected
    components of the pair graph via alternating large-star/small-star
    rounds (operators/clustering.py — O(log n) rounds, edge-set state
    localCheckpointed per round). ``component`` is the min doc_id of the
    component, i.e. the canonical-duplicate id. The oracle walks the
    same graph with a recursive CTE (min label over reachability) —
    feasible at oracle scale, while the star rounds are the 100 TB path.

    The star rounds run over the CONTRACTED signature-group graph
    (``dedup.lsh_near_dup_components`` — groups are cliques, so doc
    components are the expanded group components; 10.6× fewer edges at
    sf10, 52–66s → ~13s, OPTIMIZATION_r13.md §23; set-equal to
    components over ``lsh_candidate_pairs``, pinned by
    test_lsh_components_match_pairs_cc + this oracle)."""
    cc = dedup.lsh_near_dup_components(
        load_table(spark, sf_dir, "documents", widen=True), max_bucket=LSH_MAX_BUCKET
    )
    return cc.select(F.col("node").alias("doc_id"), "component")


# Paragraph-level fuzzy dedup (registered round 9). The driver corpus is
# single-line, so pseudo-paragraph boundaries come from a literal token
# both engines split on with identical regex semantics; every downstream
# stage — posexplode indexing, min_chars filter, encoded unit keys,
# MinHash banding with the bucket cap, exact-Jaccard verify, connected
# components, loser decoding — is re-derived end-to-end in the oracle.
_PARA_SPLIT = " table "
_PARA_MIN_CHARS = 40
_PARA_ENC = 1 << 20  # unit = doc_id * 2^20 + para_idx (unit_key="encoded")

_PARA_UNITS_SQL = f"""
SELECT doc_id * {_PARA_ENC} + para_idx AS unit,
       arr[CAST(para_idx + 1 AS INT)] AS text
FROM (SELECT doc_id, arr, unnest(range(len(arr))) AS para_idx
      FROM (SELECT doc_id, string_split_regex(text, '{_PARA_SPLIT}') AS arr
            FROM documents))
WHERE length(trim(arr[CAST(para_idx + 1 AS INT)])) >= {_PARA_MIN_CHARS}
"""

_PARA_BANDS_SQL = "\nUNION ALL\n".join(
    f"SELECT unit, {b} AS band, concat_ws('_', h{b * 4}, h{b * 4 + 1}, h{b * 4 + 2}, h{b * 4 + 3}) AS band_sig FROM psig"
    for b in range(dedup.N_BANDS)
)

_PARA_INTER = "len(list_intersect(a.sset, b.sset))"
_PARA_JAC = (
    f"CAST({_PARA_INTER} AS DOUBLE) / "
    f"CAST(greatest(len(a.sset) + len(b.sset) - {_PARA_INTER}, 1) AS DOUBLE)"
)

# CTE chain up to the verified pair set — shared between the gate
# oracle below (which appends the recursive reachability walk) and the
# sf1 union-find verification path (tools/unionfind_oracle.py), where
# the walk is the infeasible part: DuckDB derives these pairs in
# seconds, python union-find closes the components
_PARA_CTES = f"""
    units AS ({_PARA_UNITS_SQL}),
    sh AS (SELECT unit, substring(text, CAST(i AS INT), 4) AS s
           FROM (SELECT unit, text,
                        unnest(range(1, greatest(length(text) - 3, 0) + 1)) AS i
                 FROM units WHERE length(text) >= 4)),
    psig AS (SELECT unit, {_MIN_COLS} FROM sh GROUP BY unit),
    bands AS ({_PARA_BANDS_SQL}),
    capped AS (SELECT * FROM bands
               QUALIFY count(*) OVER (PARTITION BY band, band_sig) <= {LSH_MAX_BUCKET}),
    cand AS (SELECT DISTINCT a.unit AS ua, b.unit AS ub
             FROM capped a JOIN capped b USING (band, band_sig)
             WHERE a.unit < b.unit),
    shs AS (SELECT unit, list_distinct(list(s)) AS sset FROM sh GROUP BY unit),
    ver AS (SELECT c.ua, c.ub
            FROM cand c JOIN shs a ON a.unit = c.ua JOIN shs b ON b.unit = c.ub
            WHERE {hround_sql(_PARA_JAC, 6)} >= 0.8)"""

_PARA_PAIRS_SQL = f"WITH {_PARA_CTES}\n    SELECT ua, ub FROM ver"

_PARA_SQL = f"""
    WITH RECURSIVE {_PARA_CTES},
    sym AS (SELECT ua AS node, ub AS nbr FROM ver
            UNION
            SELECT ub AS node, ua AS nbr FROM ver),
    walk(node, lbl) AS (
      SELECT node, node FROM sym
      UNION
      SELECT s.node, w.lbl FROM sym s JOIN walk w ON s.nbr = w.node
    ),
    comp AS (SELECT node, min(lbl) AS component FROM walk GROUP BY node)
    SELECT CAST(node // {_PARA_ENC} AS BIGINT) AS doc_id,
           CAST(node % {_PARA_ENC} AS INT) AS para_idx
    FROM comp WHERE node <> component
    """


@query("paragraph_near_dups", oracle=_PARA_SQL)
def paragraph_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-granular fuzzy dedup (operators/dedup.paragraph_near_dups):
    posexplode into units → encoded unit keys → the document LSH/verify/CC
    stack → non-canonical (doc_id, para_idx) losers, ready for
    text.excise_paragraphs. ``unit_key="encoded"`` (doc_id·2²⁰+para_idx)
    makes the canonical-survivor choice — min unit key = lexicographic
    min (doc_id, para_idx) — fully re-derivable in SQL, which the
    default xxhash64 key is not; the oracle re-runs the whole chain
    including the exact-Jaccard verify stage (this row is the verify
    stage's first gate oracle — dedup_clusters covers LSH→CC without
    it)."""
    return dedup.paragraph_near_dups(
        load_table(spark, sf_dir, "documents", widen=True),
        threshold=0.8,
        max_bucket=LSH_MAX_BUCKET,
        min_chars=_PARA_MIN_CHARS,
        split_pattern=_PARA_SPLIT,
        unit_key="encoded",
    )


_TOKS_SQL = r"list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0)"

_PAD_TOKEN = "rpad(t, 8, '_')"
_SIMHASH_BITS = " + ".join(
    f"(CASE WHEN coalesce(list_sum(list_transform(toks, t -> "
    f"((({poly_hash_sql(_PAD_TOKEN, 8)}) * {a} + {b}) % {MOD} % 2) * 2 - 1)), 0) >= 0 "
    f"THEN {2**j} ELSE 0 END)"
    for j, (a, b) in enumerate(hash_family(16, 7))
)


_SIMHASH_SQL = f"""
    WITH t AS (SELECT doc_id, list_distinct({_TOKS_SQL}) AS toks FROM documents)
    SELECT doc_id, CAST({_SIMHASH_BITS} AS BIGINT) AS simhash FROM t
    """


def simhash_16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash over distinct tokens (sign-aggregated hashes).

    Not registered: ``simhash_hamming_pairs`` recomputes these
    signatures inside its own oracle (same ``_SIMHASH_SQL`` CTE), so
    the signature math stays hash-verified without its own gate slot."""
    return dedup.simhash16(load_table(spark, sf_dir, "documents", widen=True))


SIMHASH_MAX_BUCKET = 100
SIMHASH_MAX_DISTANCE = 3

_SIMHASH_BANDS_SQL = "\nUNION ALL\n".join(
    f"SELECT doc_id, simhash, {b} AS band, (simhash // {16**b}) % 16 AS band_val FROM sig"
    for b in range(4)
)


_SIMHASH_PAIRS_SQL = f"""
    WITH sig AS ({_SIMHASH_SQL}),
    banded AS ({_SIMHASH_BANDS_SQL}),
    capped AS (SELECT * FROM banded
               QUALIFY count(*) OVER (PARTITION BY band, band_val) <= {SIMHASH_MAX_BUCKET})
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM capped a JOIN capped b USING (band, band_val)
    WHERE a.doc_id < b.doc_id
      AND bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_DISTANCE}
    """  # kept for the rows-equal pytest cross-check (tests/test_dedup.py)


def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs within Hamming distance 3, candidates by
    4×4-bit band pigeonhole (exact recall for d ≤ 3), verified with
    bit_count(xor); band buckets capped — same scale guard as the
    MinHash-LSH path.

    Not registered (gate rotation r8): the 64-bit banding + xor-popcount
    kernel is also exercised by the dHash/audio near-dup pytest DuckDB
    cross-checks, and ``_SIMHASH_PAIRS_SQL`` stays its full DuckDB
    cross-check in tests/test_dedup.py — slot rotated to
    ``pagerank``/``frontier_dedup`` (queries/web_q.py)."""
    return dedup.simhash_hamming_pairs(
        load_table(spark, sf_dir, "documents", widen=True),
        max_distance=SIMHASH_MAX_DISTANCE,
        max_bucket=SIMHASH_MAX_BUCKET,
    )


NGRAM_MAX_DF = 100  # scale guard: a gram with df=d contributes d² join rows


_NGRAM_JACCARD_SQL = f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    g AS (SELECT DISTINCT doc_id, gram FROM (
      SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
             i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS gram
      FROM t)),
    sizes AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id),
    capped AS (SELECT * FROM g
               QUALIFY count(*) OVER (PARTITION BY gram) <= {NGRAM_MAX_DF}),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_shared
      FROM capped a JOIN capped b USING (gram) WHERE a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT doc_a, doc_b, n_shared,
           floor((n_shared / CAST(sa.n_grams + sb.n_grams - n_shared AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS jaccard
    FROM shared
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_shared / CAST(sa.n_grams + sb.n_grams - n_shared AS DOUBLE) >= 0.03
    """  # kept for the rows-equal pytest cross-check below


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-trigram Jaccard near-dup pairs via shared-shingle join,
    with the gram-document-frequency cap ON (stopword-ish grams drive
    Σdf² without it).

    Not registered (gate rotation r7): the explode-join kernel is
    pinned by the ``lsh_candidate_pairs`` oracle plus the
    ``verify_pairs`` goldens, and ``_NGRAM_JACCARD_SQL`` remains its
    DuckDB cross-check in ``tests/test_dedup.py`` — slot rotated to
    ``bm25_topk``/``corpus_diff``."""
    df = dedup.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents", widen=True), max_gram_df=NGRAM_MAX_DF
    )
    return df.select("doc_a", "doc_b", "n_shared", hround("jaccard", 6).alias("jaccard"))


# ----------------------------------------------------------- similarity

_EMB = "embedding::DOUBLE[]"


def _plane_lit(plane: list[int]) -> str:
    return "[" + ", ".join(f"{float(v)}" for v in plane) + "]"


_EMB_TOPK_SQL = """
    WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT vec_id,
             list_dot_product(embedding::DOUBLE[], qe)
               / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                  * sqrt(list_dot_product(qe, qe))) AS cos_raw
      FROM embeddings, q WHERE vec_id != 0)
    SELECT vec_id, floor(cos_raw * 1000000.0 + 0.5) / 1000000.0 AS cos
    FROM scored ORDER BY cos DESC, vec_id LIMIT 20
    """  # kept for the rows-equal pytest cross-check (tests/test_similarity.py)


def embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k against vec_id=0 (ANN baseline).

    Not registered (gate rotation r11): the exact-scoring kernel is
    re-derived inside BOTH the ``ivf_topk`` oracle (its scored CTE) and
    the new ``ann_recall`` oracle (its exact CTE is this very SQL), and
    ``_EMB_TOPK_SQL`` stays the full DuckDB cross-check in
    tests/test_similarity.py — slot rotated to ``ann_recall``."""
    return similarity.brute_force_topk(load_table(spark, sf_dir, "embeddings"), 0, 20)


def embedding_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-random-projection bucketing, FIXED plane count (the form a
    caller uses when it has sized p off-plan via ``planes_for``).

    Not registered: the gate row ``embedding_bucket_pairs`` verifies the
    scale-adaptive ``lsh_buckets_scaled`` cross-engine, and the adaptive
    form is pinned to this fixed form by two tests —
    ``test_lsh_buckets_scaled_matches_fixed_at_computed_p`` (Spark vs
    Spark, exact bucket equality at the computed p) and
    ``test_lsh_buckets_fixed_matches_duckdb`` (this operator vs an
    independent DuckDB expression at p=8) — so the fixed path keeps
    cross-engine coverage without its own gate slot."""
    return similarity.lsh_buckets(load_table(spark, sf_dir, "embeddings"))


EMB_MAX_BUCKET = 100  # scale guard, same rationale as LSH_MAX_BUCKET
EMB_TARGET_BUCKET = 64  # planes_for design occupancy
_PLANES16 = similarity.hyperplanes(n=16)

# p = #{j in 1..16 : 64*2^(j-1) < n} — exact-integer form of
# ceil(log2(n/64)); a float log2 can land one ulp above an integer on
# one engine and flip ceil (and every bucket with it)
_EMB_P_SQL = "greatest(1, " + " + ".join(
    f"(CASE WHEN {EMB_TARGET_BUCKET * 2 ** (j - 1)} < nn.n THEN 1 ELSE 0 END)"
    for j in range(1, 17)
) + ")"

_SCALED_BUCKET_SQL = " + ".join(
    f"(CASE WHEN {j} < {_EMB_P_SQL} AND list_dot_product({_EMB}, {_plane_lit(p)}) >= 0"
    f" THEN {2**j} ELSE 0 END)"
    for j, p in enumerate(_PLANES16)
)


@query(
    "embedding_bucket_pairs",
    oracle=f"""
    WITH nn AS (SELECT count(*) AS n FROM embeddings),
    b0 AS (SELECT vec_id, CAST({_SCALED_BUCKET_SQL} AS BIGINT) AS bucket, embedding
           FROM embeddings, nn),
    b AS (SELECT * FROM b0
          QUALIFY count(*) OVER (PARTITION BY bucket) <= {EMB_MAX_BUCKET})
    SELECT a.vec_id AS vec_a, bb.vec_id AS vec_b,
           floor((list_dot_product(a.embedding::DOUBLE[], bb.embedding::DOUBLE[])
             / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                * sqrt(list_dot_product(bb.embedding::DOUBLE[], bb.embedding::DOUBLE[]))))
             * 1000000.0 + 0.5) / 1000000.0 AS cos
    FROM b a JOIN b bb USING (bucket)
    WHERE a.vec_id < bb.vec_id
      AND floor((list_dot_product(a.embedding::DOUBLE[], bb.embedding::DOUBLE[])
             / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                * sqrt(list_dot_product(bb.embedding::DOUBLE[], bb.embedding::DOUBLE[]))))
             * 1000000.0 + 0.5) / 1000000.0 >= 0.0
    """,
)
def embedding_bucket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN candidate verification: cosine over same-bucket pairs only,
    with the bucket-size cap ON (mirrored in the oracle). Buckets come
    from ``similarity.lsh_buckets_scaled`` — the plane count follows
    the corpus size in-plan (p = 3 at gate scale, 9 at sf1, 12 at
    sf10), so the row exercises the pair kernel at EVERY scale instead
    of degenerating to guard-drops-everything once a fixed plane count
    falls behind the corpus (the fixed-8 form returned 0 pairs at sf10:
    256 buckets, all past the cap)."""
    return similarity.bucket_near_pairs_scaled(
        load_table(spark, sf_dir, "embeddings"),
        0.0,
        target_bucket=EMB_TARGET_BUCKET,
        max_bucket=EMB_MAX_BUCKET,
    )


_IVF_CENTS = similarity.hyperplanes(n=16, dim=64, seed=1234)
_CENTS_VALUES = ", ".join(
    f"({cid}, {_plane_lit(c)}::DOUBLE[])" for cid, c in enumerate(_IVF_CENTS)
)

_IVF_CELLS_SQL = f"""
WITH cents(cid, cvec) AS (VALUES {_CENTS_VALUES}),
emb AS (SELECT vec_id, {_EMB} AS e FROM embeddings),
ranked AS (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY list_dot_product(e, cvec) DESC, cid DESC) AS rn
  FROM emb CROSS JOIN cents)
SELECT vec_id, CAST(cid AS BIGINT) AS cell FROM ranked WHERE rn = 1
"""


def ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse quantization: per-row argmax against broadcast
    centroid literals — zero shuffle (the oracle's cross-join + window
    formulation computes the same argmax).

    Not registered: ``ivf_topk`` embeds the same cell-assignment CTE in
    its oracle, so the quantizer stays hash-verified without its own
    gate slot (plan contract pinned by tests/test_plans.py)."""
    return similarity.ivf_cells(load_table(spark, sf_dir, "embeddings"))


_IVF_TOPK_SQL = f"""
    WITH cents(cid, cvec) AS (VALUES {_CENTS_VALUES}),
    emb AS (SELECT vec_id, {_EMB} AS e FROM embeddings),
    q AS (SELECT e AS qe FROM emb WHERE vec_id = 0),
    cells AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY list_dot_product(e, cvec) DESC, cid DESC) AS rn
        FROM emb CROSS JOIN cents) WHERE rn = 1),
    probes AS (
      SELECT cid FROM (
        SELECT cid, row_number() OVER (ORDER BY list_dot_product(qe, cvec) DESC, cid DESC) AS rn
        FROM cents CROSS JOIN q) WHERE rn <= 4),
    scored AS (
      SELECT emb.vec_id,
             list_dot_product(e, qe)
               / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qe, qe))) AS cos_raw
      FROM emb
      JOIN cells USING (vec_id)
      CROSS JOIN q
      WHERE cells.cid IN (SELECT cid FROM probes) AND emb.vec_id != 0)
    SELECT vec_id, floor(cos_raw * 1000000.0 + 0.5) / 1000000.0 AS cos
    FROM scored ORDER BY cos DESC, vec_id LIMIT 20
    """


def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-probed approximate top-k against vec_id=0 (4 of 16 cells
    scored — the tunable-recall scale path beside LSH bucketing).

    Not registered (gate rotation r12, slot → the native ingestion
    rows in ingest_q.py): ``ann_recall``'s oracle embeds
    ``_IVF_TOPK_SQL`` verbatim as its approx CTE, so the probe kernel
    stays hash-verified by a live gate row; the direct cross-engine
    check survives as a pytest DuckDB twin
    (tests/test_similarity.py::test_ivf_topk_matches_retired_oracle)."""
    return similarity.ivf_topk(load_table(spark, sf_dir, "embeddings"), 0, 20)


@query(
    "ann_recall",
    oracle=f"""
    WITH exact AS ({_EMB_TOPK_SQL}),
    approx AS ({_IVF_TOPK_SQL}),
    hits AS (SELECT CAST(count(*) AS BIGINT) AS n FROM approx
             WHERE vec_id IN (SELECT vec_id FROM exact))
    SELECT CAST((SELECT count(*) FROM exact) AS BIGINT) AS k,
           n AS n_hits,
           floor(CAST(n AS DOUBLE)
                 / greatest((SELECT count(*) FROM exact), 1)
                 * 1000000.0 + 0.5) / 1000000.0 AS recall
    FROM hits
    """,
)
def ann_recall_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@20 of the IVF-probed index against the exact top-k — the
    QUALITY number beside the ANN speed rows (gate rotation r11: the
    gate verified ANN speed paths for five rounds while recall quality
    lived only in the bench block; this registers it). One row
    (k, n_hits, recall): both inputs are bounded top-k tables, so the
    overlap is a broadcast semi-join + one aggregate
    (operators/similarity.ann_recall); the oracle re-derives BOTH the
    brute-force ranking (the retired embedding_topk SQL, verbatim) and
    the IVF probe ranking (the ivf_topk oracle, verbatim) and counts
    the intersection — so a probe-selection regression on either
    engine moves n_hits, not just a float."""
    emb = load_table(spark, sf_dir, "embeddings")
    approx = similarity.ivf_topk(emb, 0, 20)
    exact = similarity.brute_force_topk(emb, 0, 20)
    out = similarity.ann_recall(approx, exact)
    return out.select(
        F.col("k").cast("bigint").alias("k"), "n_hits", "recall"
    )


# ----------------------------------------------------------------- text


def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token stats. Not registered: ``bpe_token_stats``
    covers the token-counting operator in the gate (same operator
    family, operators/text.py), and the whitespace tokenizer itself is
    exercised by every registered SimHash/Jaccard/quality query."""
    return text.token_stats(load_table(spark, sf_dir, "documents"))


_BPE_SQL_PATTERN = text.BPE_PATTERN.replace("'", "''")


_BPE_STATS_SQL = f"""
    WITH t AS (SELECT doc_id, length(text) AS n_chars,
                      regexp_extract_all(text, '{_BPE_SQL_PATTERN}') AS toks
               FROM documents),
    c AS (SELECT doc_id, n_chars,
                 len(list_filter(toks, x -> NOT regexp_matches(x, '^\\s+$'))) AS n_bpe
          FROM t)
    SELECT doc_id, CAST(n_bpe AS BIGINT) AS n_bpe_tokens,
           floor((CAST(n_chars AS DOUBLE) / greatest(n_bpe, 1)) * 1000000.0 + 0.5) / 1000000.0 AS bytes_per_token
    FROM c
    """


def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish-regex token counting (GPT-2 pre-tokenizer pattern) — the
    training-data budgeting stat beside whitespace token_stats.

    Not registered (gate rotation r12, slot → the native ingestion
    rows in ingest_q.py): the tokenizer regex + whitespace filter stay
    gate-verified through ``token_budget_rollup`` (same kernel, same
    SQL CTE, rolled up per source/lang) and keep their direct per-doc
    cross-engine check as a pytest DuckDB twin
    (tests/test_bpe.py::test_bpe_token_stats_matches_retired_oracle);
    its sf100 assurance came from a Python reference, not this SQL."""
    return text.bpe_token_stats(load_table(spark, sf_dir, "documents"))


_QUALITY_SQL = rf"""
    WITH t AS (
      SELECT doc_id, text, {_TOKS_SQL} AS toks,
             length(text) AS n_chars,
             length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS n_punct,
             length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit
      FROM documents),
    r AS (
      SELECT doc_id,
             CAST(len(list_filter(toks, x -> lower(x) IN ('the','a','of','and','is','to','in'))) AS DOUBLE)
               / greatest(len(toks), 1) AS stopword_ratio,
             CAST(n_punct AS DOUBLE) / greatest(n_chars, 1) AS punct_ratio,
             CAST(n_digit AS DOUBLE) / greatest(n_chars, 1) AS digit_ratio
      FROM t)
    SELECT doc_id,
           floor(stopword_ratio * 1000000.0 + 0.5) / 1000000.0 AS stopword_ratio,
           floor(punct_ratio * 1000000.0 + 0.5) / 1000000.0 AS punct_ratio,
           floor(digit_ratio * 1000000.0 + 0.5) / 1000000.0 AS digit_ratio,
           floor((1.0 - least(punct_ratio * 2, 0.5) - least(digit_ratio * 2, 0.3)
                  + least(stopword_ratio, 0.2)) * 1000000.0 + 0.5) / 1000000.0 AS quality
    FROM r
    """


def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length/punct/stopword quality heuristics. Deregistered round 6
    (rotation, fourth wave) in favor of ``gopher_quality``: the quality
    column expressions stay hash-verified through ``curated_documents``
    (the composite inlines them) and ``quality_quantile_filter`` (which
    thresholds on them); ``_QUALITY_SQL`` remains their oracle for the
    local harness."""
    return text.quality_scores(load_table(spark, sf_dir, "documents"))


_GOPHER_STOPWORDS_SQL = "[" + ", ".join(f"'{s}'" for s in text.GOPHER_STOPWORDS) + "]"

_GOPHER_SQL = rf"""
    WITH t AS (
      SELECT doc_id, text, {_TOKS_SQL} AS toks,
             list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
                         x -> length(x) > 0) AS lns
      FROM documents),
    r AS (
      SELECT doc_id,
             len(toks) AS n_words,
             CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS DOUBLE)
               / greatest(len(toks), 1) AS mean_len,
             CAST(len(regexp_extract_all(text, '#')) AS DOUBLE)
               / greatest(len(toks), 1) AS hash_ratio,
             CAST(len(regexp_extract_all(text, '\.\.\.|…')) AS DOUBLE)
               / greatest(len(toks), 1) AS ell_sym_ratio,
             CAST(len(list_filter(lns, x -> substring(x, 1, 1) IN ('•', '-', '*'))) AS DOUBLE)
               / greatest(len(lns), 1) AS bullet_frac,
             CAST(len(list_filter(lns, x -> regexp_matches(x, '(\.\.\.|…)$'))) AS DOUBLE)
               / greatest(len(lns), 1) AS ellipsis_frac,
             CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
               / greatest(len(toks), 1) AS alpha_frac,
             len(list_filter({_GOPHER_STOPWORDS_SQL},
                             s -> list_contains(list_transform(toks, x -> lower(x)), s)))
               AS n_stop
      FROM t),
    d AS (
      SELECT *,
             CASE WHEN n_words < 50 OR n_words > 100000 THEN 'word_count'
                  WHEN mean_len < 3.0 OR mean_len > 10.0 THEN 'mean_word_len'
                  WHEN hash_ratio > 0.1 OR ell_sym_ratio > 0.1 THEN 'symbol_ratio'
                  WHEN bullet_frac > 0.9 THEN 'bullet_lines'
                  WHEN ellipsis_frac > 0.3 THEN 'ellipsis_lines'
                  WHEN alpha_frac < 0.8 THEN 'alpha_words'
                  WHEN n_stop < 2 THEN 'stopwords'
                  ELSE NULL END AS drop_reason
      FROM r)
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           floor(mean_len * 1000000.0 + 0.5) / 1000000.0 AS mean_word_len,
           floor(hash_ratio * 1000000.0 + 0.5) / 1000000.0 AS hash_word_ratio,
           floor(ell_sym_ratio * 1000000.0 + 0.5) / 1000000.0 AS ellipsis_word_ratio,
           floor(bullet_frac * 1000000.0 + 0.5) / 1000000.0 AS bullet_line_frac,
           floor(ellipsis_frac * 1000000.0 + 0.5) / 1000000.0 AS ellipsis_line_frac,
           floor(alpha_frac * 1000000.0 + 0.5) / 1000000.0 AS alpha_word_frac,
           CAST(n_stop AS BIGINT) AS n_stopwords_present,
           drop_reason IS NULL AS keep_doc,
           drop_reason
    FROM d
    """


@query("gopher_quality", oracle=_GOPHER_SQL)
def gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher document-level quality rules (Rae et al. 2021 table A1) as
    one zero-shuffle pass; the oracle reruns the exact regex/list
    arithmetic in DuckDB so thresholds, first-failing drop_reason, and
    the 6dp-rounded stats hash-compare across engines.

    Default implementation is the Arrow-batched pandas twin — the r11
    measurement has it 2.2x
    faster than the staged-HOF form at sf10 (2.5s vs 5.5s); the two are
    pinned value-equal by tests/test_gopher.py, so the gate hash is
    implementation-independent. The HOF column expressions remain the
    composable form the fused curate chains inline."""
    return text.gopher_quality_pandas(load_table(spark, sf_dir, "documents"))


_LANGS = sorted(text.LANG_MARKERS)
_LANG_SCORES = ",\n       ".join(
    f"CAST(len(list_filter(toks, x -> lower(x) IN ({', '.join(repr(m) for m in text.LANG_MARKERS[lang])}))) AS DOUBLE)"
    f" / greatest(len(toks), 1) AS s_{lang}"
    for lang in _LANGS
)
_LANG_CASE = (
    "CASE "
    + " ".join(f"WHEN s_{lang} = m THEN '{lang}'" for lang in _LANGS[:-1])
    + f" ELSE '{_LANGS[-1]}' END"
)


_LANG_SQL = f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    s AS (SELECT doc_id,
       {_LANG_SCORES}
    FROM t),
    m AS (SELECT *, greatest({', '.join('s_' + lang for lang in _LANGS)}) AS m FROM s)
    SELECT doc_id, {_LANG_CASE} AS predicted_lang,
           floor(m * 1000000.0 + 0.5) / 1000000.0 AS best_score
    FROM m
    """


def lang_id_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language-ID heuristic (argmax, first-wins ties).

    Not registered (gate rotation r9): the lang_columns kernel stays
    hash-verified inside ``curated_documents`` (whose oracle embeds
    ``_LANG_SQL`` and filters on predicted_lang), and the full output
    incl. best_score keeps a pytest DuckDB cross-check
    (tests/test_text_curation.py); row retired to make room for
    ``mixture_sample``."""
    return text.lang_scores(load_table(spark, sf_dir, "documents"))


@query(
    "curated_documents",
    oracle=f"""
    WITH q AS ({_QUALITY_SQL}),
    lng AS ({_LANG_SQL}),
    canon AS (SELECT min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS n_dups
              FROM documents GROUP BY md5(text))
    SELECT q.doc_id, q.quality, lng.predicted_lang, canon.n_dups
    FROM q
    JOIN lng ON q.doc_id = lng.doc_id
    JOIN canon ON q.doc_id = canon.doc_id
    WHERE q.quality >= 0.9 AND lng.predicted_lang = 'en'
    """,
)
def curated_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite a training-data user actually runs: exact-dedup to
    canonical docs ∘ quality filter ∘ language filter, in one plan.
    The filter on rounded quality uses the identical rounded value on
    both engines, so the predicate cannot disagree at the boundary.

    r12: quality + lang fused into ONE Arrow pass
    (``text.curation_scores_pandas``) — the separate-projection form
    let Catalyst push the two filters into the scans' DataFilters,
    evaluating the full interpreted kernels TWICE per document (36.5s
    at sf10 where the parts sum to ~13s); a mapInPandas boundary is
    opaque to pushdown, so each kernel runs once (twin pinned
    value-equal incl. NULL corners)."""
    docs = load_table(spark, sf_dir, "documents")
    scores = text.curation_scores_pandas(docs)
    canon = dedup.exact_dup_groups(docs).select(
        F.col("canonical_id").alias("doc_id"), "n_dups"
    )
    return (
        scores.filter((F.col("quality") >= 0.9) & (F.col("predicted_lang") == "en"))
        .join(canon, "doc_id")
        .select("doc_id", "quality", "predicted_lang", "n_dups")
    )


@query(
    "token_budget_rollup",
    oracle=f"""
    WITH t AS (SELECT doc_id, length(text) AS n_chars,
                      regexp_extract_all(text, '{_BPE_SQL_PATTERN}') AS toks
               FROM documents),
    c AS (SELECT doc_id,
                 CAST(len(list_filter(toks, x -> NOT regexp_matches(x, '^\\s+$'))) AS BIGINT) AS n_bpe
          FROM t)
    SELECT d.source, d.lang,
           CAST(sum(c.n_bpe) AS BIGINT) AS total_tokens,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM c JOIN documents d ON c.doc_id = d.doc_id
    GROUP BY ROLLUP (d.source, d.lang)
    """,
)
def token_budget_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'how much training data do I have' report: BPE-ish token
    totals per (source, lang), per source, and grand total in one
    ROLLUP pass — Spark expands the grouping sets before the partial
    aggregate, so the map-side combine applies per set and the single
    shuffle carries only aggregated rows."""
    docs = load_table(spark, sf_dir, "documents")
    bpe = text.bpe_token_stats(docs).select("doc_id", "n_bpe_tokens")
    j = bpe.join(docs.select("doc_id", "source", "lang"), "doc_id")
    return j.rollup("source", "lang").agg(
        F.sum("n_bpe_tokens").cast("bigint").alias("total_tokens"),
        F.count("*").alias("n_docs"),
    )


PACK_BUDGET = 1024
PACK_GROUPS = 16

_PACK_SQL = f"""
    WITH t AS (SELECT doc_id,
                      CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens,
                      doc_id % {PACK_GROUPS} AS pack_group
               FROM documents),
    s AS (SELECT doc_id, n_tokens, pack_group,
                 sum(n_tokens) OVER (PARTITION BY pack_group ORDER BY doc_id
                                     ROWS UNBOUNDED PRECEDING) - n_tokens AS start
          FROM t)
    SELECT doc_id, n_tokens, pack_group,
           CAST(floor(start / {PACK_BUDGET}.0) AS BIGINT) AS pack_id,
           CAST(start % {PACK_BUDGET} AS BIGINT) AS pack_offset
    FROM s
    """


@query("pack_sequences", oracle=_PACK_SQL)
def pack_sequences_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing (operators/lm.pack_sequences): each
    document gets its position in a stream of fixed-budget training
    examples — (pack_group, pack_id, pack_offset) via a running token
    sum windowed over pack_group = doc_id % {n_groups}, NOT the whole
    corpus, so there is ONE hash-partition exchange and no global sort;
    the same corpus packs identically on any partitioning (order pinned
    to (pack_group, doc_id)). The oracle is the running-sum window SQL
    re-derived in DuckDB."""
    from rnadam_spark.operators import lm

    docs = load_table(spark, sf_dir, "documents")
    return lm.pack_sequences(docs, budget=PACK_BUDGET, n_groups=PACK_GROUPS)


# ------------------------------------------------------------- sampling

SAMPLE_SEED = 17
SAMPLE_FRACTION = 0.1
_LANG_FRACTIONS = {"en": 0.5, "zh": 0.2, "de": 1.0}
_LANG_DEFAULT = 0.05


def hash_sampled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% Bernoulli sample by key hash — reproducible on
    any partitioning/engine (df.sample's seeded RNG is not), zero
    shuffle, filter pushes to the scan.

    Unregistered since round 6 (the driver gate caps at 50 entries and
    the curation scrub operators took the slots): the `_sample_code`
    kernel stays hash-verified via ``cap_per_domain``, and
    the zero-shuffle plan contract stays pinned in tests/test_plans.py."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.hash_sample(docs, "doc_id", SAMPLE_FRACTION, SAMPLE_SEED).select(
        "doc_id", "lang", "source"
    )


_STRATA_CASE = (
    "CASE "
    + " ".join(
        f"WHEN lang = '{v}' THEN {int(f * MOD)}"
        for v, f in sorted(_LANG_FRACTIONS.items(), reverse=True)
    )
    + f" ELSE {int(_LANG_DEFAULT * MOD)} END"
)


def stratified_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language keep-rates (the downsample-the-crawl, keep-the-
    curated-text shape) — one deterministic pass, thresholds as a CASE
    over the stratum column.

    Retired from the gate in the round-8 second rotation to make room
    for ``cap_per_domain``: the ``_sample_code`` affine-mod kernel stays
    hash-verified there (its oracle ranks by the identical
    ``sample_code_sql`` arithmetic — a strictly harder exercise than a
    threshold compare), and the CASE-threshold form stays pinned by
    tests/test_sampling.py's stratified-rates test."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.stratified_hash_sample(
        docs, "lang", _LANG_FRACTIONS, "doc_id", _LANG_DEFAULT, SAMPLE_SEED
    ).select("doc_id", "lang")


CAP_N = 8
CAP_SEED = 23


@query(
    "cap_per_domain",
    oracle=f"""
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
               ORDER BY {sampling.sample_code_sql("doc_id", CAP_SEED)}, doc_id) AS rn
      FROM documents) WHERE rn <= {CAP_N}
    """,
)
def cap_per_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact deterministic per-domain quota (``sampling.cap_per_group``):
    keep the ``CAP_N`` smallest-hash docs per source. The Spark plan is
    the skew-safe threshold-refinement form (counts → broadcast
    threshold → bounded row_number over ~n survivors — a hot domain
    never materializes in one task); the oracle is the textbook window
    DuckDB can afford at gate scale, ranking by the SAME
    ``sample_code_sql`` affine-mod arithmetic — so the gate verifies the
    refinement plan selects exactly the textbook set."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.cap_per_group(
        docs.select("doc_id", "source"), "source", CAP_N, "doc_id", seed=CAP_SEED
    )


# Token-budget mixture sampling (registered round 9). The fixed budget
# makes the three listed sources UPSAMPLE at gate scale (~7.5k chars per
# source → rates 2.5/1.4/1.0) and DOWNSAMPLE at sf0.1 (~75k → 0.27/0.16/
# 0.11), so one row exercises both regimes across the two verification
# scales. The oracle re-derives the rates from the same share CASE and
# IEEE-double arithmetic (never the collected literals), the fractional
# draw from the shared affine-mod hash with floor() mirroring Spark's
# truncating double→bigint cast, and the copy explosion via range().
_MIX_SHARES = {"src0": 0.5, "src1": 0.3, "src2": 0.2}
_MIX_BUDGET = 40_000
_MIX_SEED = 41
_MIX_CASE = (
    "CASE source "
    + " ".join(
        f"WHEN '{s}' THEN CAST({v} AS DOUBLE)" for s, v in sorted(_MIX_SHARES.items())
    )
    + " ELSE CAST(0.0 AS DOUBLE) END"
)

_MIX_SQL = f"""
    WITH totals AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS avail
                    FROM documents GROUP BY source),
    rated AS (SELECT d.doc_id, d.source, d.n_chars,
                     ({_MIX_CASE}) * CAST({_MIX_BUDGET} AS DOUBLE)
                       / CAST(t.avail AS DOUBLE) AS rate
              FROM documents d JOIN totals t USING (source)),
    n AS (SELECT doc_id, source, n_chars,
                 CAST(floor(rate) AS BIGINT)
                 + CASE WHEN ({sampling.sample_code_sql("doc_id", _MIX_SEED)})
                        < CAST(floor((rate - floor(rate)) * {MOD}.0) AS BIGINT)
                        THEN 1 ELSE 0 END AS n_copies
          FROM rated)
    SELECT doc_id, source, n_chars, unnest(range(n_copies)) AS n_copy
    FROM n WHERE n_copies > 0
    """


@query("mixture_sample", oracle=_MIX_SQL)
def mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture realization (operators/mixing.mixture_sample):
    per-source token accounting → rates = share·budget/available →
    floor(rate) guaranteed copies + one deterministic fractional draw,
    emitted with a dense ``n_copy`` repeat index via in-row
    sequence+explode. Broadcast-CASE + projection — no window, no
    global sort (plan-pinned in tests/test_mixing.py); the oracle
    reproduces the full (doc_id, n_copy) multiset including upsampled
    repeats."""
    docs = load_table(spark, sf_dir, "documents")
    return mixing.mixture_sample(
        docs, _MIX_SHARES, _MIX_BUDGET, seed=_MIX_SEED
    ).select("doc_id", "source", "n_chars", "n_copy")


QUALITY_TOP_FRACTION = 0.25


@query(
    "quality_quantile_filter",
    oracle=f"""
    WITH q AS ({_QUALITY_SQL}),
    j AS (SELECT q.doc_id, d.source, q.quality
          FROM q JOIN documents d ON q.doc_id = d.doc_id),
    thr AS (SELECT source, quantile_cont(quality, {1.0 - QUALITY_TOP_FRACTION}) AS _thr
            FROM j GROUP BY source)
    SELECT j.doc_id, j.source, j.quality
    FROM j JOIN thr ON j.source = thr.source
    WHERE j.quality >= thr._thr
    """,
)
def quality_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep the best-quality ≈25% of documents per source — the
    per-group quantile cut of a curation pipeline, in the skew-safe
    broadcast-threshold form (VERDICT r2 #2): groupBy percentile
    threshold → broadcast join → filter. No per-group window anywhere
    in the plan (the old percent_rank form funneled each source's whole
    document set through ONE task — a 100 TB scale-killer; plan
    contract pinned in tests/test_plans.py). The registered threshold
    is the exact ``percentile`` aggregate so the DuckDB oracle
    (``quantile_cont``, same p·(n−1) interpolation) hash-matches; the
    boundary-set is engine-stable because both engines' thresholds lie
    in the same closed interval of 6dp-rounded quality values.
    Production at high-cardinality scores swaps one expression for the
    ``percentile_approx`` sketch (``top_fraction_per_group_approx``,
    tested equivalent at matching accuracy in tests/test_sampling.py)."""
    docs = load_table(spark, sf_dir, "documents")
    q = text.quality_scores(docs).select("doc_id", "quality")
    # materialized once (r12): the slim scored table feeds BOTH the
    # threshold aggregate and the probe side of the broadcast join —
    # without the boundary the interpreted quality kernel evaluates
    # twice (13.1 → 7.4s at sf10; the cli excise discipline). The
    # checkpointed table is 3 slim columns, far cheaper than a second
    # kernel pass at any scale.
    j = truncate_lineage(q.join(docs.select("doc_id", "source"), "doc_id"))
    return sampling.top_fraction_per_group_threshold(
        j, "source", "quality", QUALITY_TOP_FRACTION
    ).select("doc_id", "source", "quality")


def binary_asset_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing check: byte length + content hash of an
    opaque binary column (assets built from documents — the same
    schema/partitioning media payloads use).

    Not registered (gate rotation r7, third wave): a two-function
    projection pinned by tests/test_multimodal.py's round-trips; row
    retired to make room for ``distinct_users_by_type``."""
    from rnadam_spark.operators.multimodal import assets_from_documents

    assets = assets_from_documents(load_table(spark, sf_dir, "documents"))
    from pyspark.sql import functions as F

    return assets.select(
        "asset_id",
        F.octet_length("data").cast("bigint").alias("n_bytes"),
        F.md5("data").alias("content_md5"),
    )


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-4 sketch of shingle hashes (rolling-hash fingerprint).

    Unregistered since round 6 (gate capped at 50; the poly-hash kernel
    stays hash-verified via ``lsh_candidate_pairs``' signature CTE); pinned by
    the golden in tests/test_text_curation.py."""
    return text.fingerprints(load_table(spark, sf_dir, "documents"))


def _redact_sql() -> str:
    """Progressive-replacement oracle generated from the SAME pattern
    table the Spark operator uses (text.PII_PATTERNS), so the two can't
    drift: count pattern i on the text after patterns 1..i-1 replaced,
    then replace — n_redactions equals replacements made."""
    ctes = ["c0 AS (SELECT doc_id, text FROM documents)"]
    kept: list[str] = []
    for i, (name, pat) in enumerate(text.PII_PATTERNS, start=1):
        cols = ", ".join(["doc_id", *kept])
        ctes.append(
            f"c{i} AS (SELECT {cols}, "
            f"len(regexp_extract_all(text, '{pat}')) AS k{i}, "
            f"regexp_replace(text, '{pat}', '<{name}>', 'g') AS text FROM c{i - 1})"
        )
        kept.append(f"k{i}")
    total = " + ".join(kept)
    return (
        "WITH " + ",\n    ".join(ctes) + f"\n    SELECT doc_id, text, "
        f"CAST({total} AS BIGINT) AS n_redactions FROM c{len(text.PII_PATTERNS)}"
    )


@query("redact_pii_docs", oracle=_redact_sql())
def redact_pii_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over the corpus: emails, IPv4s, phone-shaped runs →
    ``<TYPE>`` tokens + an exact per-doc replacement count. Chained
    regexp_replace projections — scan-speed, shuffle-free. All three
    patterns are RE2-compatible, so the oracle runs the identical
    regexes and the redacted TEXT itself is hash-compared, not just
    the counts."""
    return text.redact_pii(load_table(spark, sf_dir, "documents"))


DECONTAM_N = 13
_BENCH_MOD = 20  # every 20th doc stands in for the held-out eval suite

_CONTAM_SQL = f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    dg AS (SELECT doc_id,
                  CASE WHEN len(toks) >= {DECONTAM_N}
                       THEN list_distinct(list_transform(range(1, len(toks) - {DECONTAM_N - 2}),
                              i -> array_to_string(toks[i:i+{DECONTAM_N - 1}], ' ')))
                       ELSE [] END AS grams
           FROM toks),
    g AS (SELECT doc_id, unnest(grams) AS gram FROM dg),
    b AS (SELECT DISTINCT gram FROM g WHERE doc_id % {_BENCH_MOD} = 0),
    agg AS (SELECT g.doc_id,
                   CAST(count(*) AS BIGINT) AS n_grams,
                   CAST(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_contaminated
            FROM g LEFT JOIN b ON g.gram = b.gram
            GROUP BY g.doc_id)
    SELECT d.doc_id,
           coalesce(a.n_grams, 0) AS n_grams,
           coalesce(a.n_contaminated, 0) AS n_contaminated,
           {hround_sql("CAST(coalesce(a.n_contaminated, 0) AS DOUBLE)"
                       " / greatest(coalesce(a.n_grams, 0), 1)", 6)} AS contamination
    FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
    """


def _gram_ctes(n: int) -> str:
    """Word n-gram multiplicity CTEs over the tokenized documents CTE
    ``toks`` (same slicing arithmetic as _CONTAM_SQL's 13-grams)."""
    return f"""g{n} AS (SELECT doc_id, n_chars,
           unnest(CASE WHEN len(toks) >= {n}
                  THEN list_transform(range(1, len(toks) - {n - 2}),
                         i -> array_to_string(toks[i:i+{n - 1}], ' '))
                  ELSE [] END) AS gram
       FROM toks),
    gc{n} AS (SELECT doc_id, n_chars, gram, count(*) AS c FROM g{n} GROUP BY 1, 2, 3)"""


def _top_cte(n: int) -> str:
    """Most common n-gram per doc; ties toward the largest gram — the
    same (cnt, value) struct-max order Spark's array_max picks."""
    return f"""top{n} AS (SELECT doc_id,
           CAST(c AS DOUBLE) * length(gram) / CAST(n_chars AS DOUBLE) AS frac
       FROM gc{n}
       QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram DESC) = 1)"""


_REPETITION_SQL = f"""
    WITH lines AS (
      SELECT doc_id, trim(l) AS line
      FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS l FROM documents)
      WHERE length(trim(l)) > 0),
    lc AS (SELECT doc_id, line, count(*) AS c FROM lines GROUP BY 1, 2),
    lstats AS (SELECT doc_id,
            CAST(sum(c) AS BIGINT) AS n_lines,
            CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS DOUBLE)
              / greatest(CAST(sum(c) AS DOUBLE), 1.0) AS dup_line_frac,
            CAST(sum(CASE WHEN c >= 2 THEN c * length(line) ELSE 0 END) AS DOUBLE)
              / greatest(CAST(sum(c * length(line)) AS DOUBLE), 1.0) AS dup_line_char_frac
        FROM lc GROUP BY doc_id),
    toks AS (SELECT doc_id, greatest(length(text), 1) AS n_chars, {_TOKS_SQL} AS toks
             FROM documents),
    {_gram_ctes(2)},
    {_top_cte(2)},
    {_gram_ctes(3)},
    {_top_cte(3)},
    {_gram_ctes(5)},
    d5 AS (SELECT doc_id,
           CAST(sum(CASE WHEN c >= 2 THEN c * length(gram) ELSE 0 END) AS DOUBLE)
             / greatest(CAST(sum(c * length(gram)) AS DOUBLE), 1.0) AS frac
       FROM gc5 GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(coalesce(l.n_lines, 0) AS BIGINT) AS n_lines,
           {hround_sql("coalesce(l.dup_line_frac, 0.0)", 6)} AS dup_line_frac,
           {hround_sql("coalesce(l.dup_line_char_frac, 0.0)", 6)} AS dup_line_char_frac,
           {hround_sql("coalesce(top2.frac, 0.0)", 6)} AS top_2gram_char_frac,
           {hround_sql("coalesce(top3.frac, 0.0)", 6)} AS top_3gram_char_frac,
           {hround_sql("coalesce(d5.frac, 0.0)", 6)} AS dup_5gram_char_frac
    FROM documents d
    LEFT JOIN lstats l ON d.doc_id = l.doc_id
    LEFT JOIN top2 ON d.doc_id = top2.doc_id
    LEFT JOIN top3 ON d.doc_id = top3.doc_id
    LEFT JOIN d5 ON d.doc_id = d5.doc_id
    """


@query("repetition_stats", oracle=_REPETITION_SQL)
def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter inputs (duplicate-line fraction
    and char mass, most-common-2/3-gram char fraction, duplicated-
    5-gram char mass) — one shuffle-free pass, zero exchanges.
    Registered with the multiset-mass definitions pinned in
    operators/repetition.py so the oracle reproduces every division
    bit-for-bit; both engines break top-gram ties toward the
    lexicographically-largest gram.

    Default implementation is the Arrow-batched pandas twin: the
    r11 measurement has it 5.3x faster than the interpreted-HOF form at sf10 (3.5s vs
    18.5s) — this kernel does enough per-row array work that
    interpreted higher-order evaluation costs more than the Arrow
    transfer + Python Counter pass. The two forms are pinned
    value-equal (tests/test_repetition.py twin test), so the gate hash
    is implementation-independent."""
    from rnadam_spark.operators import repetition as rep

    return rep.repetition_stats_pandas(
        load_table(spark, sf_dir, "documents", widen=True)
    )


CHUNK_MAX_CHARS = 64
CHUNK_OVERLAP = 16
_CHUNK_STRIDE = CHUNK_MAX_CHARS - CHUNK_OVERLAP

_CHUNK_SQL = f"""
    SELECT doc_id,
           CAST(s // {_CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
           chunk_text,
           CAST(length(chunk_text) AS BIGINT) AS n_chars
    FROM (SELECT doc_id, s,
                 substring(text, CAST(s + 1 AS INT), {CHUNK_MAX_CHARS}) AS chunk_text
          FROM (SELECT doc_id, text,
                       unnest(range(0, greatest(length(text) - {CHUNK_OVERLAP} - 1, 0) + 1,
                                    {_CHUNK_STRIDE})) AS s
                FROM documents))
    """


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing: split documents into ≤64-char chunks
    with 16-char overlap (sequence → substr → posexplode, all JVM —
    the row-explosion shape that must never round-trip through Python
    at 100 TB).

    Retired from the gate in the round-8 second rotation to make room
    for ``blocklist_suffix``: the chunking kernel keeps a STRONGER pin
    than the oracle gave it — the hypothesis property test reassembles
    every chunking back into the original text byte-for-byte and
    asserts the no-redundant-tail rule on arbitrary corpora
    (tests/test_properties.py::test_chunks_reassemble_and_never_nest),
    plus the pytest goldens. ``_CHUNK_SQL`` stays for the test-side
    cross-check."""
    return text.chunk_documents(
        load_table(spark, sf_dir, "documents", widen=True),
        max_chars=CHUNK_MAX_CHARS,
        overlap=CHUNK_OVERLAP,
    ).withColumn("chunk_idx", F.col("chunk_idx").cast("bigint"))


_VOCAB_SQL = f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    tok AS (SELECT doc_id, unnest(toks) AS token FROM toks),
    per_doc AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf_doc
                FROM tok GROUP BY 1, 2)
    SELECT token, CAST(sum(tf_doc) AS BIGINT) AS tf, CAST(count(*) AS BIGINT) AS df
    FROM per_doc GROUP BY token
    """


def vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary with term and document frequencies: the df
    side runs on the per-document run-length counts (one struct row
    per distinct (doc, token) BEFORE the shuffle — no count(distinct)
    expansion), so the single groupBy moves per-doc-distinct tokens,
    not raw token occurrences.

    Retired from the gate in the round-10 rotation to make room for
    ``vocabulary_shift``, whose oracle re-derives the tf kernel as its
    first CTEs (per snapshot) and whose Spark side calls
    text.vocabulary twice — the kernel stays gate-verified through it.
    ``_VOCAB_SQL`` stays the full (tf AND df) oracle for the pytest
    cross-check (tests/test_text_curation.py)."""
    return text.vocabulary(load_table(spark, sf_dir, "documents", widen=True))


@query("contamination_scores", oracle=_CONTAM_SQL)
def contamination_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """13-gram decontamination audit: fraction of each document's
    distinct word 13-grams that appear in the benchmark set (every
    20th doc stands in for the eval suite — at 100 TB the benchmark is
    tiny next to the corpus, so its distinct grams fit one broadcast /
    one task closure and the corpus side never shuffles). Docs shorter
    than 13 tokens score 0, never dropped.

    Default implementation is the Arrow-batched pandas twin — the
    biggest win of the r11 twin series: 21.8x at sf10 (4.8s vs 105s). Building a
    13-token gram string per position through interpreted
    slice+array_join, then array_distinct + explode + join, is exactly
    the shape Python set arithmetic does in microseconds per document;
    the two forms are pinned value-equal by tests/test_text_curation."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % _BENCH_MOD == 0)
    return text.contamination_scores_pandas(docs, bench, n=DECONTAM_N)


def _c4_bad_sql() -> str:
    bad = ", ".join(f"'{w}'" for w in text.C4_BAD_WORDS)
    return (
        r"""
    WITH t AS (
      SELECT doc_id, text,
             list_transform(string_split(text, chr(10)), l -> trim(l)) AS lns
      FROM documents),
    k AS (
      SELECT doc_id, text,
             len(list_filter(lns, l -> length(l) > 0)) AS n_lines,
             list_filter(lns, l ->
               regexp_matches(l, '[.!?"”]$')
               AND len(list_filter(regexp_split_to_array(l, '\s+'),
                                   w -> length(w) > 0)) >= 5
               AND NOT regexp_matches(lower(l), '\bjavascript\b')) AS kept
      FROM t)
    SELECT doc_id,
           coalesce(list_aggregate(kept, 'string_agg', chr(10)), '') AS text,
           CAST(len(kept) AS BIGINT) AS n_lines_kept,
           CAST(n_lines - len(kept) AS BIGINT) AS n_lines_dropped,
           reason IS NULL AS keep_doc, reason AS drop_reason
    FROM (SELECT *,
            CASE WHEN contains(text, '{') OR contains(text, '}') THEN 'brace'
                 WHEN contains(lower(text), 'lorem ipsum') THEN 'lorem_ipsum'
                 WHEN len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
                                      w -> w IN ("""
        + bad
        + r"""))) > 0 THEN 'bad_word'
                 WHEN len(kept) < 3 THEN 'too_few_lines'
            END AS reason
          FROM k)
    """
    )


@query("c4_clean_docs", oracle=_c4_bad_sql())
def c4_clean_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 heuristic cleaning (Raffel et al. 2020 §2.2) over the
    documents table: line filters (terminal punctuation, >= 5 words,
    no "javascript") plus page-drop attribution (brace / lorem ipsum /
    bad word / too few kept lines), all as ONE zero-shuffle projection
    (plan-asserted in tests/test_plans.py). The oracle runs the exact
    same regexes (Java and RE2 agree on this subset) over DuckDB list
    functions, so the rewritten text itself hash-compares."""
    return text.c4_clean(load_table(spark, sf_dir, "documents", widen=True))


# -------------------------------------------------------- search / diff

BM25_QUERY = "the data and system"
BM25_K = 20
_BM25_TERMS = sorted(set(BM25_QUERY.split()))

_BM25_TF = ", ".join(
    f"len(list_filter(toks, x -> x = '{t}')) AS tf_{i}" for i, t in enumerate(_BM25_TERMS)
)
_BM25_DF = ", ".join(
    f"sum(CASE WHEN list_contains(toks, '{t}') THEN 1 ELSE 0 END) AS df_{i}"
    for i, t in enumerate(_BM25_TERMS)
)
_BM25_SCORE = " + ".join(
    f"(ln((s.n - s.df_{i} + 0.5) / (s.df_{i} + 0.5) + 1.0) * tf_{i} * 2.2 "
    f"/ (tf_{i} + 1.2 * (0.25 + 0.75 * dl / s.avgdl)))"
    for i in range(len(_BM25_TERMS))
)


@query(
    "bm25_topk",
    oracle=f"""
    WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
               FROM documents),
    d AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, {_BM25_TF} FROM t),
    s AS (SELECT count(*) AS n, avg(len(toks)) AS avgdl, {_BM25_DF} FROM t)
    SELECT doc_id,
           floor(({_BM25_SCORE}) * 1000000.0 + 0.5) / 1000000.0 AS score
    FROM d, s
    WHERE ({_BM25_SCORE}) > 0
    ORDER BY score DESC, doc_id LIMIT {BM25_K}
    """,
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-k (Robertson; k1=1.2, b=0.75) for a fixed query
    over the documents table. The Spark side is the two-pass shape from
    ``operators/search.py`` — one corpus-stats aggregate (N, avgdl,
    per-term df as conditional sums; no token explode), then idf-literal
    zero-shuffle scoring + TakeOrdered. The oracle recomputes the same
    formula with the same fixed term order, so scores hash-compare to
    1e-6."""
    from rnadam_spark.operators import search

    return search.bm25_topk(
        load_table(spark, sf_dir, "documents"), BM25_QUERY, k=BM25_K
    )


_CORPUS_DIFF_SQL = """
    WITH o AS (SELECT doc_id, coalesce(md5(text), '<null-text>') AS h_old
               FROM documents WHERE doc_id % 97 != 3),
    n AS (SELECT doc_id,
                 coalesce(md5(CASE WHEN doc_id % 7 = 0 THEN text || ' [v2]'
                                   ELSE text END), '<null-text>') AS h_new
          FROM documents WHERE doc_id % 89 != 5)
    SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN h_old IS NULL THEN 'added'
                WHEN h_new IS NULL THEN 'removed'
                WHEN h_old = h_new THEN 'unchanged'
                ELSE 'changed' END AS status
    FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
    """  # kept for the rows-equal pytest cross-check (tests/test_diffing.py)


def corpus_diff_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff (operators/diffing.py): two deterministic
    snapshot views of the documents table — "old" drops ids ≡ 3 (mod
    97) (they appear 'added'), "new" drops ids ≡ 5 (mod 89) ('removed')
    and rewrites text for ids ≡ 0 (mod 7) ('changed') — compared by
    (id, md5) full-outer join. Text never crosses the join
    (plan-asserted in tests/test_diffing.py).

    Not registered (gate rotation r11): the snapshot views are shared
    verbatim with the still-registered ``vocabulary_shift`` (same mods,
    same release), the per-doc md5 compare stays cross-checked by
    ``_CORPUS_DIFF_SQL`` in tests/test_diffing.py, and the kernel was
    gate-verified value-exact through sf100 in rounds 8–10 — slot
    rotated to ``excise_paragraphs``."""
    from rnadam_spark.operators.diffing import corpus_diff

    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 97 != 3)
    new = docs.filter(F.col("doc_id") % 89 != 5).withColumn(
        "text",
        F.when(F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" [v2]")))
        .otherwise(F.col("text")),
    )
    return corpus_diff(old, new)


# p_* magnitudes are ~1/vocab-size (1e-7 at sf10), so the usual 6dp
# grain would zero the whole table; 15dp keeps >= 8 significant digits
# at any plausible corpus while floor(x*1e15+0.5) stays under 2^53 for
# x <= 1 (probabilities and their JS summands both are).
_VSHIFT_D = 15

_VSHIFT_SQL = f"""
    WITH old_docs AS (SELECT text FROM documents WHERE doc_id % 97 != 3),
    new_docs AS (SELECT CASE WHEN doc_id % 7 = 0 THEN text || ' [v2]' ELSE text END AS text
                 FROM documents WHERE doc_id % 89 != 5),
    o AS (SELECT token, CAST(count(*) AS BIGINT) AS tf
          FROM (SELECT unnest({_TOKS_SQL}) AS token FROM old_docs) GROUP BY token),
    n AS (SELECT token, CAST(count(*) AS BIGINT) AS tf
          FROM (SELECT unnest({_TOKS_SQL}) AS token FROM new_docs) GROUP BY token),
    po AS (SELECT token, CAST(tf AS DOUBLE) / (SELECT CAST(sum(tf) AS DOUBLE) FROM o) AS p_old FROM o),
    pn AS (SELECT token, CAST(tf AS DOUBLE) / (SELECT CAST(sum(tf) AS DOUBLE) FROM n) AS p_new FROM n),
    j AS (SELECT coalesce(po.token, pn.token) AS token,
                 coalesce(p_old, 0.0) AS p, coalesce(p_new, 0.0) AS q
          FROM po FULL OUTER JOIN pn ON po.token = pn.token)
    SELECT token,
           {hround_sql('p', _VSHIFT_D)} AS p_old,
           {hround_sql('q', _VSHIFT_D)} AS p_new,
           {hround_sql('''(CASE WHEN p > 0 THEN 0.5 * p * ln(p / ((p + q) / 2)) ELSE 0.0 END)
            + (CASE WHEN q > 0 THEN 0.5 * q * ln(q / ((p + q) / 2)) ELSE 0.0 END)''', _VSHIFT_D)} AS js_contribution
    FROM j
    """


@query("vocabulary_shift", oracle=_VSHIFT_SQL)
def vocabulary_shift_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution drift between two corpus snapshots
    (operators/diffing.vocabulary_shift): per-snapshot term frequencies
    normalized to probabilities, full-outer-joined on token, and each
    token's Jensen-Shannon summand (½·p·ln(p/m) + ½·q·ln(q/m),
    m=(p+q)/2 — contributions SUM to the JS divergence). Snapshot views
    reuse corpus_diff's deterministic mods so the two monitoring rows
    describe the same synthetic release. Full table, no top_k: the
    output is bounded by vocabulary size, not corpus size, and the
    order-insensitive gate needs no tie-prone ranking. Shape: two
    bounded token aggregates (map-side partial), one token-keyed
    full-outer join, broadcast scalar totals — the corpus is read twice
    and never shuffled raw."""
    from rnadam_spark.operators.diffing import vocabulary_shift

    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 97 != 3)
    new = docs.filter(F.col("doc_id") % 89 != 5).withColumn(
        "text",
        F.when(F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" [v2]")))
        .otherwise(F.col("text")),
    )
    out = vocabulary_shift(old, new, top_k=None)
    return out.select(
        "token",
        hround("p_old", _VSHIFT_D).alias("p_old"),
        hround("p_new", _VSHIFT_D).alias("p_new"),
        hround("js_contribution", _VSHIFT_D).alias("js_contribution"),
    )


# ------------------------------------------------------- model scoring

_LM_N, _LM_V = 3, 128

_LM_PPL_SQL = f"""
    WITH doc_grams AS (
      SELECT doc_id, substring(text, CAST(i AS INT), {_LM_N}) AS gram
      FROM (SELECT doc_id, text,
                   unnest(range(1, greatest(length(text) - {_LM_N - 1}, 0) + 1)) AS i
            FROM documents)
    ), model AS (
      SELECT gram, CAST(count(*) AS BIGINT) AS gram_cnt FROM doc_grams GROUP BY gram
    ), prefixes AS (
      SELECT substring(gram, 1, {_LM_N - 1}) AS prefix,
             CAST(sum(gram_cnt) AS BIGINT) AS prefix_cnt
      FROM model GROUP BY substring(gram, 1, {_LM_N - 1})
    ), scored AS (
      SELECT dg.doc_id,
             ln(coalesce(p.prefix_cnt, 0) + {_LM_V}) - ln(coalesce(m.gram_cnt, 0) + 1) AS nlp
      FROM doc_grams dg
      LEFT JOIN model m ON dg.gram = m.gram
      LEFT JOIN prefixes p ON substring(dg.gram, 1, {_LM_N - 1}) = p.prefix
    )
    SELECT d.doc_id,
           CAST(count(s.nlp) AS BIGINT) AS n_grams,
           {hround_sql("coalesce(avg(s.nlp), 0.0)", 6)} AS avg_neg_log_prob,
           {hround_sql("exp(coalesce(avg(s.nlp), 0.0))", 6)} AS perplexity
    FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
    GROUP BY d.doc_id
    """


@query("lm_perplexity", oracle=_LM_PPL_SQL)
def lm_perplexity_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity scoring under a char-3-gram add-one LM
    trained on the corpus itself (operators/lm.py — the model table is
    bounded by alphabet³ rows so it broadcasts at any corpus size; the
    exploded corpus shuffles exactly once on doc_id). Self-training
    makes the query deterministic and the oracle closed-form: DuckDB
    re-derives the same gram/prefix counts and the same
    ln(prefix+V) − ln(gram+1) arithmetic, so n_grams, avg_neg_log_prob,
    and perplexity hash-compare at 6dp. Documents shorter than n keep
    n_grams=0 / perplexity=1 on both sides (no row vanishes)."""
    from rnadam_spark.operators import lm

    docs = load_table(spark, sf_dir, "documents", widen=True)
    # cache=False: the pandas scorer collects the model exactly once,
    # so a cached handle would be orphaned in the session after the
    # collect and accumulate across bench loops / repeated gate rows
    # (r12 ADVICE) — one uncached training pass is the same cost
    model = lm.train_char_lm(docs, n=_LM_N, cache=False)
    # the Arrow-batched scorer (r12, 2.8x at sf10; pinned value-equal
    # to the HOF+join form incl. NULL/short docs by tests/test_lm.py)
    return lm.lm_perplexity_pandas(docs, model, n=_LM_N, vocab_size=_LM_V)


# rounded-perplexity threshold for the excision composite: ~p90 of the
# paragraph distribution at gate scale (median 2.35, p90 2.49), so the
# row actually excises (~10% of paragraphs) instead of passing through.
# The compare is on the 6dp-ROUNDED value on both engines, so the
# threshold inherits the same cross-engine determinism as every other
# rounded gate column.
_EXCISE_PPL_T = 2.5

_EXCISE_SQL = f"""
    WITH sp AS (SELECT doc_id, string_split_regex(coalesce(text, ''), '{_PARA_SPLIT}') AS parts
                FROM documents),
    idx AS (SELECT doc_id, parts, unnest(range(1, len(parts) + 1)) AS i FROM sp),
    paras AS (SELECT doc_id, CAST(i - 1 AS INT) AS para_idx, parts[CAST(i AS INT)] AS para
              FROM idx WHERE length(trim(parts[CAST(i AS INT)])) > 0),
    doc_grams AS (
      SELECT substring(text, CAST(i AS INT), {_LM_N}) AS gram
      FROM (SELECT text, unnest(range(1, greatest(length(text) - {_LM_N - 1}, 0) + 1)) AS i
            FROM documents)),
    model AS (SELECT gram, CAST(count(*) AS BIGINT) AS gram_cnt
              FROM doc_grams GROUP BY gram),
    prefixes AS (SELECT substring(gram, 1, {_LM_N - 1}) AS prefix,
                        CAST(sum(gram_cnt) AS BIGINT) AS prefix_cnt
                 FROM model GROUP BY substring(gram, 1, {_LM_N - 1})),
    pg AS (SELECT doc_id, para_idx, substring(para, CAST(i AS INT), {_LM_N}) AS gram
           FROM (SELECT doc_id, para_idx, para,
                        unnest(range(1, greatest(length(para) - {_LM_N - 1}, 0) + 1)) AS i
                 FROM paras)),
    scored AS (
      SELECT pg.doc_id, pg.para_idx,
             ln(coalesce(p.prefix_cnt, 0) + {_LM_V}) - ln(coalesce(m.gram_cnt, 0) + 1) AS nlp
      FROM pg LEFT JOIN model m ON pg.gram = m.gram
      LEFT JOIN prefixes p ON substring(pg.gram, 1, {_LM_N - 1}) = p.prefix),
    pppl AS (
      SELECT a.doc_id, a.para_idx,
             {hround_sql("exp(coalesce(avg(s.nlp), 0.0))", 6)} AS ppl
      FROM paras a LEFT JOIN scored s
        ON a.doc_id = s.doc_id AND a.para_idx = s.para_idx
      GROUP BY a.doc_id, a.para_idx),
    kept AS (
      SELECT p.doc_id, p.para_idx, p.para
      FROM paras p JOIN pppl s ON p.doc_id = s.doc_id AND p.para_idx = s.para_idx
      WHERE s.ppl < {_EXCISE_PPL_T})
    SELECT d.doc_id,
           coalesce(string_agg(k.para, '{_PARA_SPLIT}' ORDER BY k.para_idx), '') AS text
    FROM documents d LEFT JOIN kept k ON d.doc_id = k.doc_id
    GROUP BY d.doc_id
    """


@query("excise_paragraphs", oracle=_EXCISE_SQL)
def excise_ppl_tail_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's actual tail-excision unit, end to end (gate rotation
    r11): train the char-3-gram LM on the corpus, score PARAGRAPHS
    (``lm.paragraph_perplexity`` — this corpus's paragraph convention
    splits on ``' table '``, the ``paragraph_near_dups`` precedent),
    condemn those whose 6dp-rounded perplexity is ≥ {2.5}, and rebuild
    every document with ``text.excise_paragraphs`` (one scan, one
    exchange, no window — condemned and blank paragraphs null out of a
    collect_list so all-condemned documents survive with empty text).
    The oracle re-derives the whole chain — split, model, per-paragraph
    ln-arithmetic, threshold, ordered re-join — so the output text
    hash-compares byte-for-byte; rejoining with the same separator
    makes untouched documents reproduce their input text exactly."""
    from rnadam_spark.operators import lm

    docs = load_table(spark, sf_dir, "documents", widen=True).select("doc_id", "text")
    # cache=False: single immediate pandas-scorer consumer — a cached
    # handle would outlive the collect as an orphan (r12 ADVICE)
    model = lm.train_char_lm(docs, n=_LM_N, cache=False)
    # the Arrow-batched paragraph scorer (r12, 3.1x at sf10;
    # value-equality pinned by tests/test_lm.py incl. the
    # trim/blank-segment edges)
    ppl = lm.paragraph_perplexity_pandas(
        docs, model, n=_LM_N, vocab_size=_LM_V, split_pattern=_PARA_SPLIT
    )
    bad = ppl.filter(F.col("perplexity") >= _EXCISE_PPL_T).select("doc_id", "para_idx")
    return text.excise_paragraphs(
        docs, bad, split_pattern=_PARA_SPLIT, sep=_PARA_SPLIT
    )


DSIR_BUCKETS = 4096
_DSIR_TARGET_FRAC = 0.2
_DSIR_SEED = 31

_POLY8_RPAD = poly_hash_sql("rpad(gram, 8, '_')", 8)

_DSIR_SQL = f"""
    WITH toks AS (
      SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS i
      FROM (SELECT doc_id, {_TOKS_SQL} AS t FROM documents)
    ), grams AS (
      SELECT doc_id, tok AS gram FROM toks
      UNION ALL
      SELECT a.doc_id, a.tok || ' ' || b.tok AS gram
      FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1
    ), feats AS (
      SELECT doc_id, ({_POLY8_RPAD}) % {DSIR_BUCKETS} AS bucket FROM grams
    ), tgt_ids AS (
      SELECT doc_id FROM documents
      WHERE ({sampling.sample_code_sql("doc_id", _DSIR_SEED)}) < {int(_DSIR_TARGET_FRAC * MOD)}
    ), tc AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS cnt
      FROM feats JOIN tgt_ids USING (doc_id) GROUP BY bucket
    ), rc AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS cnt FROM feats GROUP BY bucket
    ), tt AS (SELECT coalesce(sum(cnt), 0) AS s FROM tc),
    rt AS (SELECT coalesce(sum(cnt), 0) AS s FROM rc),
    ratio AS (
      SELECT rc.bucket,
             ln(coalesce(tc.cnt, 0) + 1.0) - ln(tt.s + {float(DSIR_BUCKETS)})
           - ln(rc.cnt + 1.0) + ln(rt.s + {float(DSIR_BUCKETS)}) AS lr
      FROM rc LEFT JOIN tc USING (bucket), tt, rt
    )
    SELECT d.doc_id,
           CAST(count(f.bucket) AS BIGINT) AS n_features,
           {hround_sql("coalesce(sum(r.lr), 0.0)", 6)} AS log_weight
    FROM documents d
    LEFT JOIN feats f ON d.doc_id = f.doc_id
    LEFT JOIN ratio r ON f.bucket = r.bucket
    GROUP BY d.doc_id
    """


@query("dsir_log_weights", oracle=_DSIR_SQL)
def dsir_log_weights_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (operators/dsir.py; Xie et al. 2023):
    hashed word uni+bigram bucket distributions for a target corpus (a
    deterministic 20% hash sample of documents — target ⊆ raw, so the
    oracle's rc-left-join ratio table equals the operator's full-outer
    form) and the raw corpus, then per-doc Σ log(p_target/p_raw) with
    add-1 smoothing. Both model tables are bounded by n_buckets rows
    (always broadcast); the corpus shuffles once on doc_id. The oracle
    re-derives buckets with the identical rpad-8 polynomial hash, so
    n_features and 6dp log_weight hash-compare. The Gumbel-top-k
    resample step (dsir_select) is pinned by pytest goldens — its
    percentile threshold is engine-portable but adds nothing to the
    hash surface beyond this row."""
    from rnadam_spark.operators import dsir

    docs = load_table(spark, sf_dir, "documents", widen=True)
    # r12 twin defaults (both pinned value-equal by tests/test_dsir.py),
    # r13 (OPTIMIZATION_r13.md §9): since
    # target ⊆ raw by a row-local hash predicate, ONE Arrow pass
    # histograms both corpora (dsir_log_weights_self_pandas) — counts
    # and ratio doubles identical to the two-scan form, 3 → 2 corpus
    # passes (sf10: 11.7 → 9.8s, interleaved min-of-3)
    return dsir.dsir_log_weights_self_pandas(
        docs,
        sampling.sample_predicate(F.col("doc_id"), _DSIR_TARGET_FRAC, seed=_DSIR_SEED),
        DSIR_BUCKETS,
    )


_BOILER_N = 3
_BOILER_SQL = f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    g AS (SELECT doc_id,
                 unnest(CASE WHEN len(toks) >= {_BOILER_N}
                        THEN list_transform(range(1, len(toks) - {_BOILER_N - 2}),
                               i -> array_to_string(toks[i:i+{_BOILER_N - 1}], ' '))
                        ELSE [] END) AS gram
          FROM toks),
    pd AS (SELECT doc_id, gram, count(*) AS tf_doc FROM g GROUP BY 1, 2)
    SELECT gram,
           CAST(count(*) AS BIGINT) AS df,
           CAST(sum(tf_doc) AS BIGINT) AS tf
    FROM pd GROUP BY gram HAVING count(*) >= 2
    """


def boilerplate_3grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate miner: corpus 3-grams present in >= 2 documents with
    document and term frequency (operators/repetition.boilerplate_ngrams)
    — the discovery stage feeding filter_bad_phrases' blocklist. The
    in-row value-counts kernel makes df a plain count(*) (no distinct
    expansion); the oracle re-derives per-doc gram multiplicities with
    the shared slicing arithmetic.

    Not registered (gate rotation r9): the in-row value-counts kernel
    stays hash-verified via ``vocabulary`` (tf/df over the same
    run-length machinery), and ``_BOILER_SQL`` keeps a pytest DuckDB
    cross-check (tests/test_repetition.py); row retired to make room
    for ``paragraph_near_dups``."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    return repetition.boilerplate_ngrams(docs, n=_BOILER_N, min_df=2)


@query(
    "distinct_users_by_type",
    oracle="""
    SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct
    FROM events WHERE user_id IS NOT NULL GROUP BY event_type
    """,
)
def distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per event type via the two-level bitmap
    roll-up (operators/sketches.distinct_counts_bitmap): the shuffle
    carries (group, 4096-bit-bucket, bitmap) partials instead of raw
    distinct values, and the plan contains no Expand (pinned by
    tests/test_sketches.py). Same answer as count(distinct), different
    — skew-proof — physical form."""
    events = load_table(spark, sf_dir, "events")
    return sketches.distinct_counts_bitmap(events, ["event_type"], "user_id")
