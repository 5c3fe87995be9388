"""Reference-parity operators re-targeted onto the driver's tables.

The reference pipeline's hottest path is k-mer counting → class mapping
(rice-core/.../algorithms/Quantify.scala:58-72). The driver's oracle
tables carry no genomic reads, so for the hash-checked correctness gate
these operators run over ``documents.text`` — same operator semantics
(shingle → explode → count → join → roll-up), different alphabet. The
genomic pipeline itself (Index/Quantify/Tare over A-fixtures) lives in
``rnadam_spark.algorithms`` with its own golden tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rnadam_spark.algorithms.quantify import edge_partitions
from rnadam_spark.functions.shingles import char_shingles
from rnadam_spark.functions.rounding import hround
from rnadam_spark.functions.runlength import count_classes, let_, with_value_counts
from rnadam_spark.registry import query
from rnadam_spark.sources.tables import load_table

K = 5  # shingle width for the documents-table analogs


def _doc_kmer_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, kc ARRAY<STRUCT<value,cnt>>) — per-document k-mer counts
    computed inside the row (functions/runlength.py): both reference
    groupings (A2 per-(container,kmer) counts, A3 classes) are keyed by
    container first, so they need no shuffle at all."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    return with_value_counts(docs.select("doc_id", "text"), char_shingles("text", K), "kc").drop(
        "text"
    )


# DuckDB can't lateral-join generate_series on a column; unnest(range())
# in the select list expands rows instead (empty range → row dropped,
# matching char_shingles' empty array under explode).
_KMERS_SQL = f"""
SELECT doc_id, substring(text, CAST(i AS INT), {K}) AS kmer
FROM (SELECT doc_id, text, unnest(range(1, greatest(length(text) - {K - 1}, 0) + 1)) AS i
      FROM documents)
"""


@query(
    "kmer_count",
    oracle=f"""
    SELECT kmer, CAST(count(*) AS BIGINT) AS cnt
    FROM ({_KMERS_SQL})
    GROUP BY kmer
    """,
)
def kmer_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 (word count over shingles): Quantify.scala:58-60 / adamCountKmers.

    The ``em_global_counts`` Counter form — ONE Counter per Arrow batch
    (a map-side combine in Python) emits one partial row per distinct
    k-mer per batch, so the exchange moves vocabulary-bounded partials
    and the shingle slicing never materializes 200×-exploded rows.
    Integer sums — exact. It beat explode → groupBy → count 2.3 vs 7.1s
    at sf10 (OPTIMIZATION_r13.md).
    """
    docs = load_table(spark, sf_dir, "documents", widen=True)
    counts = em_global_counts(docs)
    return counts.select("kmer", F.col("g_cnt").alias("cnt"))


def kmer_doc_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: per-(container, kmer) counts (Index.scala:90-94's
    ((t.id, kmer), 1) → reduceByKey, with documents as containers) —
    zero-shuffle: the count is a per-row run-length, not a groupBy.

    Not registered: same code path and row grain as ``kmer_to_class``
    (both explode ``_doc_kmer_counts``; hash-verified there), retired
    from the registry so all registered queries fit the driver's
    50-entry correctness gate."""
    kc = _doc_kmer_counts(spark, sf_dir)
    return kc.select("doc_id", F.explode("kc").alias("x")).select(
        "doc_id", F.col("x.value").alias("kmer"), F.col("x.cnt").alias("cnt")
    )


_KMER_DOC_COUNTS_SQL = f"SELECT doc_id, kmer, count(*) AS cnt FROM ({_KMERS_SQL}) GROUP BY doc_id, kmer"

# A3+A4: equivalence classes = k-mers sharing a (container, count)
# signature; IDs are content hashes (md5 of the sorted member list), not
# zipWithUniqueId (Index.scala:98) — deterministic across partitionings.
_CLASSES_SQL = f"""
SELECT doc_id, cnt,
       md5(string_agg(kmer, '|' ORDER BY kmer)) AS class_id,
       CAST(count(*) AS BIGINT) AS n_kmers
FROM ({_KMER_DOC_COUNTS_SQL})
GROUP BY doc_id, cnt
"""


def _classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cnt, class_id, n_kmers) — the equivalence-class grain.

    Emits the class grain straight from one Arrow-batched pass — per
    doc a Counter of shingles, members grouped by multiplicity in
    sorted-kmer order, md5 of the '|'-joined members — no interpreted
    run-length kernel, no explode.
    Exactness: counts are ints, Python ``sorted`` on str equals Spark's
    UTF8-binary ``sort_array`` (UTF-8 byte order is codepoint order),
    and ``hashlib.md5`` of the identical utf-8 bytes equals Spark's
    ``md5``; parity pinned by tests/test_index.py against the in-row
    run-length + count_classes form it replaced (5.0 vs 19.6s at sf10,
    OPTIMIZATION_r13.md)."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    k = K

    def batches(it):
        import hashlib
        from collections import Counter

        import pandas as pd

        for pdf in it:
            out = {"doc_id": [], "cnt": [], "class_id": [], "n_kmers": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None or len(text) < k:
                    continue
                c = Counter(text[i : i + k] for i in range(len(text) - k + 1))
                groups: dict[int, list[str]] = {}
                for km in sorted(c):
                    groups.setdefault(c[km], []).append(km)
                for cnt, members in groups.items():
                    out["doc_id"].append(doc_id)
                    out["cnt"].append(cnt)
                    out["class_id"].append(
                        hashlib.md5("|".join(members).encode()).hexdigest()
                    )
                    out["n_kmers"].append(len(members))
            yield pd.DataFrame(out)

    return docs.select("doc_id", "text").mapInPandas(
        batches, "doc_id bigint, cnt bigint, class_id string, n_kmers bigint"
    )


@query("equivalence_classes", oracle=_CLASSES_SQL)
def equivalence_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3+A4: group k-mers by equal-abundance signature (Index.scala:95-98).

    Re-registered for the r13 optimization round: optimization rounds
    must keep every previously-declared query, and the gate checks only
    the first 50 registered rows, so the r13 mid-build rotation that
    had retired this row in favor of ``bam_region_ingest`` is undone
    here (the BAM region loader keeps its pytest DuckDB cross-check)."""
    return _classes(spark, sf_dir)


@query(
    "kmer_to_class",
    oracle=f"""
    WITH kc AS ({_KMER_DOC_COUNTS_SQL}),
    cls AS (SELECT doc_id, cnt, md5(string_agg(kmer, '|' ORDER BY kmer)) AS class_id
            FROM kc GROUP BY doc_id, cnt)
    SELECT kc.kmer, kc.doc_id, cls.class_id
    FROM kc JOIN cls ON kc.doc_id = cls.doc_id AND kc.cnt = cls.cnt
    """,
)
def kmer_to_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: invert the class index back to kmer → class
    (Index.scala:104-106). The reference's join of k-mer counts against
    classes (J1 shape) is a per-row lookup here: a k-mer's class is the
    class whose cnt equals its own — no shuffle, no join.
    """
    kc = _doc_kmer_counts(spark, sf_dir)
    pairs = let_(
        F.col("kc"),
        lambda vc: let_(
            count_classes(vc),
            lambda classes: F.transform(
                vc,
                lambda x: F.struct(
                    x["value"].alias("kmer"),
                    F.element_at(F.filter(classes, lambda cl: cl["cnt"] == x["cnt"]), 1)[
                        "class_id"
                    ].alias("class_id"),
                ),
            ),
        ),
    )
    return kc.select("doc_id", F.explode(pairs).alias("p")).select(
        "p.kmer", "doc_id", "p.class_id"
    )


@query(
    "class_counts_normalized",
    oracle=f"""
    WITH cls AS ({_CLASSES_SQL}),
    counted AS (
      SELECT class_id, CAST(sum(cnt * n_kmers) AS BIGINT) AS class_count
      FROM cls GROUP BY class_id
    )
    SELECT class_id, class_count,
           floor((class_count / sum(class_count) OVER ()) * 100000000.0 + 0.5) / 100000000.0 AS p
    FROM counted
    """,
)
def class_counts_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2→A6→A7→A8: roll counts up to classes, then normalize by the
    global total (Quantify.scala:153-158, 79-87). The global sum is a
    broadcast 1-row aggregate — an empty-partition window would funnel
    every class through one task; this keeps the normalize parallel.
    """
    cls = _classes(spark, sf_dir)
    # ``counted`` feeds BOTH the global-total aggregate and the
    # normalize probe, but needs NO explicit barrier: both consumers
    # sit directly above the SAME groupBy exchange, and Spark's
    # ReuseExchange serves them from one shuffle — A/B'd none vs cache
    # vs localCheckpoint at sf0.1 (1.07/1.07/0.77s, job-noise range)
    # and sf10 (13.0/13.0s, identical). Contrast the quantile/stats
    # rows below, whose PROBE side has no exchange to reuse and where a
    # barrier genuinely halves the work (r12 double-consumption audit).
    counted = cls.groupBy("class_id").agg(
        F.sum(F.col("cnt") * F.col("n_kmers")).cast("bigint").alias("class_count")
    )
    total = counted.agg(F.sum("class_count").alias("_total"))
    return counted.crossJoin(F.broadcast(total)).select(
        "class_id",
        "class_count",
        hround(F.col("class_count") / F.col("_total"), 8).alias("p"),
    )


_EM5_ORACLE = f"""
WITH kdc AS ({_KMER_DOC_COUNTS_SQL}),
wc AS (SELECT kmer,
              md5(concat(CAST(doc_id AS VARCHAR), ':', CAST(cnt AS VARCHAR))) AS class_id,
              CAST(doc_id AS VARCHAR) AS t_id
       FROM kdc),
kc AS (SELECT kmer, CAST(count(*) AS BIGINT) AS cnt FROM ({_KMERS_SQL}) GROUP BY kmer),
cc AS (SELECT class_id, sum(kc.cnt) AS cnt FROM wc JOIN kc USING (kmer) GROUP BY class_id),
ct AS (SELECT DISTINCT class_id, t_id FROM wc),
rel AS (SELECT class_id, cnt / (SELECT CAST(sum(cnt) AS DOUBLE) FROM cc) AS rel_p FROM cc),
tl AS (SELECT CAST(doc_id AS VARCHAR) AS t_id, CAST(n_chars AS DOUBLE) AS t_len
       FROM documents),
sumf AS (SELECT t_id, sum(rel_p) AS sum_alpha FROM ct JOIN rel USING (class_id) GROUP BY t_id),
rawf AS (SELECT t_id, sum_alpha / (t_len - {K} + 1) AS mu_raw FROM sumf JOIN tl USING (t_id)),
muf AS (SELECT t_id, mu_raw / (SELECT sum(mu_raw) FROM rawf) AS mu FROM rawf)
SELECT t_id, floor(mu * 100000000.0 + 0.5) / 100000000.0 AS abundance FROM muf
"""


def em_global_counts(docs: DataFrame) -> DataFrame:
    """(kmer, g_cnt): corpus-wide k-mer counts — em_state's scan 1,
    bounded by vocabulary (distinct k-mers ≤ alphabet^k) so the result
    broadcasts/collects at any corpus size. ONE Counter per Arrow batch
    (a map-side combine in Python) emits one partial row per distinct
    k-mer per batch, so the exchange moves vocabulary-bounded partials
    — 4.8 vs 10.7s at sf10 / 23 vs 114s at sf100 against the explode +
    codegen hash aggregate (OPTIMIZATION_r13.md), which
    tests/test_quantify_e2e.py keeps as its oracle (integer counts,
    exact)."""
    k = K

    def batches(it):
        from collections import Counter

        import pandas as pd

        c: Counter = Counter()
        for pdf in it:
            for text in pdf["text"]:
                if text is None:
                    continue
                c.update(text[i : i + k] for i in range(len(text) - k + 1))
        yield pd.DataFrame({"kmer": list(c.keys()), "g_p": list(c.values())})

    part = docs.select("text").mapInPandas(batches, "kmer string, g_p long")
    return part.groupBy("kmer").agg(F.sum("g_p").alias("g_cnt"))


def em_state(docs: DataFrame, max_vocab: int = 2_000_000) -> dict[str, DataFrame]:
    """The em_quantify flagship's state construction, shared verbatim
    with ``tools/em_stage_attribution.py`` (extracted r11 so the
    attribution tool cannot silently desynchronize from the plan the
    flagship actually runs).

    r12 rebuild — the FUSED-PANDAS two-scan form. The r11 construction
    (explode+hashagg global counts, then interpreted run-length kernel
    → 1B-row explode → broadcast join → partial agg) left a 421s
    residual at sf100, decomposed this round as kernel 138s + join
    probe 118s + agg 7s + the 93s global-counts scan. The decisive
    observation: the class key is (doc_id, kcnt) — ENTIRELY within one
    document — so one Arrow-batched Python pass can emit the FINAL
    class grain directly: per doc, Counter(k-mers) then an accumulate
    of broadcast g_cnt by count value. That eliminates the corpus-sized
    explode, the 1B broadcast-join probes, the partial aggregate, AND
    the 1B-row Arrow back-transfer (output is ~6 rows/doc, not ~200) —
    measured 5.9s vs 20.7s at sf10 and 53.8s vs 329.9s (6.1x) at sf100
    for the whole state build (gc + cc, OPTIMIZATION_r13.md; the r11
    JVM form survives only as the over-``max_vocab`` fallback below,
    pinned value-equal by tests/test_quantify_e2e.py — integer sums,
    exact).

      * scan 1 (``global_counts``): :func:`em_global_counts` — Counter
        partials per Arrow batch, vocabulary-bounded output, COLLECTED
        to a broadcast dict (the same boundedness argument that
        broadcast-joined it before; a bounded model table, not a data
        path — the C5 collect-audit class). ``max_vocab`` GUARDS the
        boundedness argument (r12 judge #1): alphabet^K bounds the
        vocabulary over the driver corpus (4^5 over ACGT, ~30^5 over
        lowercased text), but at 100 TB of real text the distinct
        5-gram count can reach 1e8–1e9 — a multi-GB driver dict. The
        distinct-kmer count is checked first (the global_counts table
        is persisted so the guard count and the collect share one
        materialization — the ``max_bench_grams`` pattern at
        operators/text.py) and a vocabulary past the cap AUTO-SWITCHES
        to the JVM join form below, with the broadcast hint dropped so
        Catalyst picks a shuffle join for the over-cap table instead
        of OOMing an executor with it. The default cap is 2M kmers
        (~0.3 GB as a python dict of 5-char keys + longs), matching
        ``max_bench_grams``'s measured driver-safety envelope;
      * scan 2 (``cc``): the fused Python pass above — zero shuffle,
        zero join, final grain straight out of the scan;
      * the md5 class key mints once per CLASS (n_classes rows);
      * t_len is n_chars, carried through — the edge table needs NO
        joins at all.

    Exactness: every count is a long (sums exact in any order; the
    Python accumulate sums the same integers the JVM join+agg summed),
    rel_p and t_len are the identical values, so only the M-step's
    double summation order can shift — absorbed by the 8dp rounding
    exactly as the DuckDB oracle's own ordering already is. At 100 TB:
    both scans are embarrassingly parallel; the only state that is not
    corpus-sized is the vocabulary dict, the same object every engine
    that counts k-mers must hold somewhere.

    Returns every piece so the attribution tool can force each at its
    production materialization boundary: ``global_counts``, ``cc``
    (cached), ``class_counts``, ``edges`` (class_id-partitioned,
    cached), ``transcripts``."""
    # the vocabulary guard: count distinct kmers BEFORE collecting them
    # to the driver. Persist so the guard count and whichever branch
    # wins (collect / join) share one materialization instead of
    # re-scanning the corpus (the max_bench_grams pattern); the handle
    # is unpersisted as soon as the winning branch has consumed it.
    from pyspark import StorageLevel

    global_counts = em_global_counts(docs).persist(StorageLevel.MEMORY_AND_DISK)
    if global_counts.count() <= max_vocab:
        k = K
        gcd = {r["kmer"]: r["g_cnt"] for r in global_counts.collect()}
        global_counts.unpersist()
        bc = docs.sparkSession.sparkContext.broadcast(gcd)

        def batches(it):
            from collections import Counter

            import pandas as pd

            G = bc.value
            for pdf in it:
                out = {"doc_id": [], "n_chars": [], "kcnt": [], "class_cnt": []}
                for doc_id, n_chars, text in zip(
                    pdf["doc_id"], pdf["n_chars"], pdf["text"]
                ):
                    if text is None:
                        continue
                    c = Counter(text[i : i + k] for i in range(len(text) - k + 1))
                    acc: dict[int, int] = {}
                    for km, cnt in c.items():
                        acc[cnt] = acc.get(cnt, 0) + G.get(km, 0)
                    for cnt, s in acc.items():
                        out["doc_id"].append(doc_id)
                        out["n_chars"].append(n_chars)
                        out["kcnt"].append(cnt)
                        out["class_cnt"].append(s)
                yield pd.DataFrame(out)

        cc = docs.select("doc_id", "n_chars", "text").mapInPandas(
            batches, "doc_id bigint, n_chars bigint, kcnt bigint, class_cnt bigint"
        ).cache()
    else:
        # over-cap: the driver dict would be multi-GB — fall back to
        # the r11 JVM form (run-length kernel → explode → join →
        # partial agg) with NO broadcast hint: a table past the collect
        # cap is past the broadcast cap for the same reason, so AQE
        # picks the join strategy. Viable only because the engine session
        # EXCLUDES Spark's InferFiltersFromGenerate rule (session.py):
        # it infers ``size(kc) > 0`` from the explode and pushes it
        # below the widen exchange, re-evaluating the whole interpreted
        # kernel twice more per row (31.2s vs 1.6s at sf1).
        kexp = (
            with_value_counts(
                docs.select("doc_id", "n_chars", "text"), char_shingles("text", K), "kc"
            )
            .drop("text")
            .select("doc_id", "n_chars", F.explode("kc").alias("x"))
            .select(
                "doc_id", "n_chars", F.col("x.value").alias("kmer"), F.col("x.cnt").alias("kcnt")
            )
        )
        cc = (
            kexp.join(global_counts, "kmer")
            .groupBy("doc_id", "n_chars", "kcnt")
            .agg(F.sum("g_cnt").alias("class_cnt"))
            .cache()
        )
        # the guard's count() already made this path eager, so force cc
        # now and release the (large — that is why we are here)
        # persisted histogram instead of leaving it as dead weight on
        # executor disk
        cc.count()
        global_counts.unpersist()
    class_key = F.md5(F.concat_ws(":", F.col("doc_id"), F.col("kcnt")))
    class_counts = cc.select(class_key.alias("class_id"), F.col("class_cnt").alias("cnt"))
    total = cc.agg(F.sum("class_cnt").alias("_total"))
    # Scale-adaptive partition count for the cached, loop-iterated edge
    # table (r13, guide §2.2): `repartition("class_id")` pinned the
    # cache at spark.sql.shuffle.partitions (AQE's coalescing keeps
    # defaultParallelism under parallelismFirst), so every EM iteration
    # paid 32 near-empty tasks per stage at gate/bench scale. Derive
    # the count from the DATA instead (``edge_partitions``, shared with
    # ``quantify``) — cc is cached and the loop forces it anyway, so
    # the count() only moves that materialization earlier.
    n_parts = edge_partitions(cc.count())
    edges = (
        cc.crossJoin(F.broadcast(total))
        .select(
            class_key.alias("class_id"),
            F.col("doc_id").cast("string").alias("t_id"),
            (F.col("class_cnt") / F.col("_total")).alias("rel_p"),
            F.col("n_chars").cast("long").alias("t_len"),
        )
        .repartition(n_parts, "class_id")
        .cache()
    )
    transcripts = docs.select(
        F.col("doc_id").cast("string").alias("t_id"),
        F.lit("g").alias("gene_id"),
        F.lit(True).alias("strand"),
        F.array(
            F.struct(
                F.concat(F.col("doc_id").cast("string"), F.lit("e")).alias("exon_id"),
                F.lit("c0").alias("contig"),
                F.lit(0).cast("long").alias("start"),
                (F.col("n_chars") + 1).cast("long").alias("end"),
            )
        ).alias("exons"),
    )
    return {
        "global_counts": global_counts,
        "cc": cc,
        "class_counts": class_counts,
        "edges": edges,
        "transcripts": transcripts,
    }


@query("em_quantify", oracle=_EM5_ORACLE)
def em_quantify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the full Sailfish EM pipeline (Quantify.scala:42-127)
    driven over the documents table — each document doubles as a
    "transcript" (its text is the reference sequence) and as its own
    "read", the class structure is derived with the Index semantics
    (equal-count signatures, content-hash IDs), and up to 5 EM
    iterations redistribute class counts into per-document abundances.
    State is built by :func:`em_state` (fused two-scan construction —
    see its docstring for the r11 attribution and design rationale) and
    the iterations run in :func:`algorithms.quantify.em_loop`, the loop
    the one-iteration gate twin (``em_two_steps``) certifies.

    Oracle: with this dataset mapping every class is keyed by
    md5(doc_id:cnt), so each class has exactly ONE member transcript;
    the E-step fraction-of-group is therefore exactly 1 from iteration
    1 on, and the EM sits at the closed-form fixed point
    µ_t ∝ (Σ_{{classes of t}} rel_p) / (len_t − k + 1), which IS
    DuckDB-expressible. ``em_loop`` detects that every class has one
    member (:func:`algorithms.quantify.em_iterations`) and stops there,
    after one iteration instead of 5: iterations 2..5 would reproduce
    the same µ bit for bit. The oracle checks that fixed point at 8dp;
    the genuinely multi-member EM dynamics — where the window E-step
    does real redistribution — stay hash-verified by ``em_two_steps``,
    whose class construction spans documents.
    """
    from rnadam_spark.algorithms.quantify import em_loop

    # widened: the k-mer count explodes ~200 shingles per row, and a
    # single-row-group parquet file otherwise scans as ONE task
    docs = load_table(spark, sf_dir, "documents", widen=True)
    state = em_state(docs)
    result = em_loop(
        state["class_counts"],
        state["edges"],
        state["transcripts"],
        k=K,
        max_iterations=5,
        calibrate_length_bias=False,
    )
    return result.select("t_id", hround("abundance", 8).alias("abundance"))


_EM2_ORACLE = f"""
WITH kdc AS ({_KMER_DOC_COUNTS_SQL}),
k2c AS (SELECT DISTINCT kmer, md5(CAST(cnt AS VARCHAR)) AS class_id FROM kdc),
ct AS (SELECT DISTINCT md5(CAST(cnt AS VARCHAR)) AS class_id,
              CAST(doc_id AS VARCHAR) AS t_id
       FROM kdc),
tl AS (SELECT CAST(doc_id AS VARCHAR) AS t_id, CAST(n_chars AS DOUBLE) AS t_len
       FROM documents),
kc AS (SELECT kmer, CAST(count(*) AS BIGINT) AS cnt FROM ({_KMERS_SQL}) GROUP BY kmer),
cc AS (SELECT class_id, sum(kc.cnt) AS cnt
       FROM k2c JOIN kc USING (kmer) GROUP BY class_id),
rel AS (SELECT class_id, cnt / (SELECT CAST(sum(cnt) AS DOUBLE) FROM cc) AS rel_p FROM cc),
alpha0 AS (SELECT ct.class_id, ct.t_id,
                  cc.cnt / CAST(count(*) OVER (PARTITION BY ct.class_id) AS DOUBLE) AS alpha
           FROM cc JOIN ct USING (class_id)),
sum1 AS (SELECT t_id, sum(alpha * rel_p) AS sum_alpha
         FROM alpha0 JOIN rel USING (class_id) GROUP BY t_id),
raw1 AS (SELECT t_id, sum_alpha / (t_len - {K} + 1) AS mu_raw FROM sum1 JOIN tl USING (t_id)),
mu1 AS (SELECT t_id, mu_raw / (SELECT sum(mu_raw) FROM raw1) AS mu FROM raw1),
alpha1 AS (SELECT ct.class_id, ct.t_id,
                  mu / sum(mu) OVER (PARTITION BY ct.class_id) AS alpha
           FROM ct JOIN mu1 USING (t_id)),
sum2 AS (SELECT t_id, sum(alpha * rel_p) AS sum_alpha
         FROM alpha1 JOIN rel USING (class_id) GROUP BY t_id),
raw2 AS (SELECT t_id, sum_alpha / (t_len - {K} + 1) AS mu_raw FROM sum2 JOIN tl USING (t_id)),
mu2 AS (SELECT t_id, mu_raw / (SELECT sum(mu_raw) FROM raw2) AS mu FROM raw2)
SELECT t_id, floor(mu * 100000000.0 + 0.5) / 100000000.0 AS mu FROM mu2
"""


@query("em_two_steps", oracle=_EM2_ORACLE)
def em_two_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EM flagship with a hash-checkable oracle: the production
    ``quantify()`` driver run for exactly one loop iteration
    (init → M → E → M, Quantify.scala:90-114 unrolled), which IS
    DuckDB-expressible as chained CTEs — so the driver's gate verifies
    the same code path ``em_quantify`` runs for 5 (and production for
    50) iterations, not a reimplementation.

    Unlike ``em_quantify`` (classes per (doc, cnt) — one member each),
    classes here are keyed by multiplicity alone, so each equivalence
    class spans every document sharing that k-mer count and the E-step's
    fraction-of-group window is genuinely multi-member.
    """
    from rnadam_spark.algorithms.quantify import quantify

    docs = load_table(spark, sf_dir, "documents", widen=True)
    reads = docs.select(F.col("doc_id").alias("read_id"), F.col("text").alias("sequence"))
    # cached: both the kmer→class map and the membership edges derive
    # from this one table — without the cache the per-document
    # run-length subtree (the expensive part) executes twice
    kc = kmer_doc_counts(spark, sf_dir).cache()
    class_of = F.md5(F.col("cnt").cast("string"))
    kmer_to_class_df = kc.select("kmer", class_of.alias("class_id")).distinct()
    class_transcripts = kc.select(
        class_of.alias("class_id"), F.col("doc_id").cast("string").alias("t_id")
    ).distinct()
    transcripts = docs.select(
        F.col("doc_id").cast("string").alias("t_id"),
        F.lit("g").alias("gene_id"),
        F.lit(True).alias("strand"),
        F.array(
            F.struct(
                F.concat(F.col("doc_id").cast("string"), F.lit("e")).alias("exon_id"),
                F.lit("c0").alias("contig"),
                F.lit(0).cast("long").alias("start"),
                (F.col("n_chars") + 1).cast("long").alias("end"),
            )
        ).alias("exons"),
    )
    result = quantify(
        reads,
        kmer_to_class_df,
        class_transcripts,
        transcripts,
        k=K,
        max_iterations=1,
        calibrate_kmer_bias=False,
        calibrate_length_bias=False,
    )
    return result.select("t_id", hround("abundance", 8).alias("mu"))


def substring_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: region extraction ≡ substring over [start, end)
    (Index.scala:84-86; oracle semantics QuantifySuite.scala:33-36).

    Not registered (gate rotation r7): P1 is exercised inside
    ``equivalence_classes``' oracle chain (the transcript-extraction
    step of the index pipeline), so the standalone row retired to make
    room for ``bm25_topk``/``corpus_diff``."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(F.col("n_chars") >= 30).select(
        "doc_id", F.substring("text", 11, 20).alias("region")
    )


_DINUC_SQL = f"""
    WITH bigrams AS (
      SELECT doc_id, substring(text, CAST(i AS INT), 2) AS bigram
      FROM (SELECT doc_id, text, unnest(range(1, greatest(length(text) - 1, 0) + 1)) AS i
            FROM documents)
    ), valid AS (
      SELECT doc_id, bigram FROM bigrams WHERE bigram ~ '^[a-z]{{2}}$'
    )
    SELECT doc_id, bigram,
           CAST(count(*) AS BIGINT) AS cnt,
           floor((count(*) / CAST(sum(count(*)) OVER (PARTITION BY doc_id) AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS frac
    FROM valid
    GROUP BY doc_id, bigram
    """  # kept for the rows-equal pytest cross-check (tests/test_tare.py)


def dinuc_context_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3–P5: 2-shingles filtered to a valid alphabet, then per-container
    fractional histogram (Tare.scala:88-101's dinucleotide featurization,
    alphabet [a-z] for documents).

    Zero-shuffle: the histogram is keyed by the container, so both the
    per-(doc, bigram) count and the per-doc total are functions of one
    input row — run-length counts over the sorted shingle array
    (functions/runlength.py), same rewrite as kmer_doc_counts. The old
    explode → groupBy(doc, bigram) → window(doc) plan paid two
    exchanges for work the scan can carry for free.

    Not registered (gate rotation r8): the shingle/run-length kernel
    stays oracle-verified via ``kmer_count``/``kmer_bias_calibration``,
    and ``_DINUC_SQL`` remains its full DuckDB cross-check in
    tests/test_tare.py — slot rotated to ``pagerank``/``frontier_dedup``
    (queries/web_q.py).
    """
    docs = load_table(spark, sf_dir, "documents", widen=True)
    valid = F.filter(char_shingles("text", 2), lambda x: x.rlike("^[a-z]{2}$"))
    kc = with_value_counts(docs.select("doc_id", "text"), valid, "kc").drop("text")
    rows = let_(
        F.col("kc"),
        lambda vc: let_(
            F.aggregate(vc, F.lit(0).cast("long"), lambda acc, x: acc + x["cnt"]),
            lambda total: F.transform(
                vc,
                lambda x: F.struct(
                    x["value"].alias("bigram"),
                    x["cnt"].alias("cnt"),
                    hround(x["cnt"] / total.cast("double"), 6).alias("frac"),
                ),
            ),
        ),
    )
    return kc.select("doc_id", F.explode(rows).alias("r")).select(
        "doc_id", "r.bigram", "r.cnt", "r.frac"
    )


@query(
    "length_bias_calibration",
    oracle="""
    WITH base AS (
      SELECT CAST(doc_id AS VARCHAR) AS t_id,
             CAST(1 + doc_id % 7 AS DOUBLE) AS w,
             CAST(n_chars AS DOUBLE) AS t_len
      FROM documents WHERE n_chars > 0
    ),
    mu0 AS (
      SELECT t_id, t_len, w / (SELECT sum(w) FROM base) AS mu FROM base
    ),
    fit AS (
      SELECT covar_pop(ln(t_len), ln(mu)) / var_pop(ln(t_len)) AS slope,
             avg(ln(mu)) - (covar_pop(ln(t_len), ln(mu)) / var_pop(ln(t_len))) * avg(ln(t_len)) AS intercept,
             -ln(CAST(count(*) AS DOUBLE)) AS mean
      FROM mu0
    ),
    cal AS (
      SELECT t_id, exp(mean + ((slope * mu + intercept) - mu)) AS mu_cal
      FROM mu0 CROSS JOIN fit
    )
    SELECT t_id,
           floor((mu_cal / (SELECT sum(mu_cal) FROM cal)) * 100000000.0 + 0.5) / 100000000.0 AS mu
    FROM cal
    """,
)
def length_bias_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2+P7 (Tare.scala:150-193): transcript-length bias removal with
    the OLS of y=log(µ) on x=log(len) computed as closed-form
    covar_pop/var_pop aggregates — fully distributed, no driver solve —
    and the reference's exact (quirky) recalibration formula
    µ' = exp(mean + ((slope·µ + intercept) − µ)).

    Abundance weights are a deterministic synthetic (1 + doc_id % 7) so
    the fit has nontrivial slope; lengths come from n_chars.
    """
    from rnadam_spark.algorithms.tare import calibrate_tx_len_bias

    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    base = docs.select(
        F.col("doc_id").cast("string").alias("t_id"),
        (F.lit(1) + F.pmod(F.col("doc_id"), F.lit(7))).cast("double").alias("w"),
        F.col("n_chars").alias("t_len"),
    )
    total_w = base.agg(F.sum("w").alias("_tw"))
    mu0 = base.crossJoin(F.broadcast(total_w)).select(
        "t_id", (F.col("w") / F.col("_tw")).alias("mu")
    )
    t_len = base.select("t_id", "t_len")
    cal = calibrate_tx_len_bias(mu0, t_len)
    return cal.select("t_id", hround("mu", 8).alias("mu"))


@query(
    "kmer_bias_calibration",
    oracle=f"""
    WITH kc AS (
      SELECT kmer, CAST(count(*) AS BIGINT) AS cnt FROM ({_KMERS_SQL}) GROUP BY kmer
    ),
    stats AS (
      SELECT ln(sum(cnt) / CAST(count(*) AS DOUBLE)) AS mean FROM kc
    ),
    pred AS (
      SELECT kmer, ln(CAST(cnt AS DOUBLE)) AS label,
             0.5 * ln(CAST(cnt AS DOUBLE)) AS prediction
      FROM kc
    )
    SELECT kmer, CAST(floor(exp(mean + (label - prediction))) AS BIGINT) AS cnt
    FROM pred CROSS JOIN stats
    """,
)
def kmer_bias_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 (Tare.scala:125-130): the k-mer bias recalibration
    count' = ⌊exp(mean + (label − prediction))⌋, hash-verified through
    the production ``recalibrate_counts`` path (algorithms/tare.py).

    The ML model's ``prediction`` column is replaced by a deterministic
    synthetic (0.5·label) — the same trick ``em_two_steps`` uses to
    oracle the EM loop: the regression solver isn't bit-reproducible
    across engines, but the recalibration arithmetic it feeds is, so
    that arithmetic gets its own green gate row while the solver keeps
    its directional pytest coverage (tests/test_tare.py).
    """
    from rnadam_spark.algorithms.tare import recalibrate_counts
    from rnadam_spark.lineage import truncate_lineage

    # ``kc`` feeds BOTH the stats aggregate and the per-kmer projection.
    # With the r12 JVM form no barrier was needed (ReuseExchange served
    # both consumers from the groupBy exchange — A/B'd at sf10: 8.4s
    # bare vs 8.5s checkpointed). The r13 pandas kernel BREAKS that
    # reuse: the two consumers' MapInPandas nodes no longer canonicalize
    # equal (measured: 2 MapInPandas nodes, 0 ReusedExchange — the
    # corpus scanned twice in Python, 1.34s vs 1.06s at sf0.1), so the
    # vocabulary-bounded kc table (distinct k-mers ≤ alphabet^k) gets
    # the quality_quantile_filter barrier instead: one corpus scan,
    # both consumers read the checkpointed rows.
    kc = truncate_lineage(kmer_count(spark, sf_dir))
    stats = kc.agg(F.count("*").alias("n"), F.sum("cnt").alias("total_mult")).select(
        F.log(F.col("total_mult") / F.col("n")).alias("mean")
    )
    label = F.log(F.col("cnt").cast("double"))
    predicted = kc.select("kmer", label.alias("label"), (F.lit(0.5) * label).alias("prediction"))
    return recalibrate_counts(predicted, stats)


@query(
    "array_length_aggregate",
    oracle="""
    SELECT o_orderkey, floor((sum(l_quantity)) * 10000.0 + 0.5) / 10000.0 AS total_qty,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    GROUP BY o_orderkey
    """,
)
def array_length_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9: Σ over a nested collection per parent (the reference's
    exons.map(width-1).reduce(+), Quantify.scala:137-141) — expressed
    with collect_list + F.aggregate to exercise the higher-order-function
    path the nested `transcripts.exons` schema uses."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    nested = (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderkey")
        .agg(F.collect_list("l_quantity").alias("quantities"))
    )
    return nested.select(
        "o_orderkey",
        hround(
            F.aggregate("quantities", F.lit(0.0), lambda acc, x: acc + x), 4
        ).alias("total_qty"),
        F.size("quantities").cast("bigint").alias("n_lines"),
    )
