"""BM25 relevance ranking (operators/search.py): golden, DuckDB
cross-check, and plan contracts."""

from __future__ import annotations

import math

import duckdb
from pyspark.sql import functions as F

from rnadam_spark.functions.rounding import hround
from rnadam_spark.operators import search
from rnadam_spark.plans.checks import count_shuffles
from rnadam_spark.sources.tables import load_table


# --- the conditional-sum / HOF expression forms the Arrow kernels
# replaced (OPTIMIZATION_r13.md), kept as their independent oracle


def _terms_of(text_col):
    return F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), 0)


def _corpus_stats_jvm(docs, query_terms, text_col="text"):
    toks = _terms_of(text_col)
    aggs = [F.count("*").alias("_n"), F.avg(F.size(toks)).alias("_avgdl")] + [
        F.sum(F.array_contains(toks, t).cast("bigint")).alias(f"_df_{i}")
        for i, t in enumerate(query_terms)
    ]
    row = docs.agg(*aggs).collect()[0]
    dfs = {t: int(row[f"_df_{i}"] or 0) for i, t in enumerate(query_terms)}
    return int(row["_n"]), float(row["_avgdl"] or 0.0), dfs


def _bm25_topk_jvm(docs, query, k=10, k1=1.2, b=0.75, text_col="text", id_col="doc_id"):
    terms = sorted(set(search._py_terms(query)))
    n, avgdl, dfs = _corpus_stats_jvm(docs, terms, text_col)
    idfs = [math.log((n - dfs[t] + 0.5) / (dfs[t] + 0.5) + 1.0) for t in terms]
    toks = _terms_of(text_col)
    dl = F.size(toks).cast("double")
    denom_norm = 1.0 - b + b * dl / F.lit(max(avgdl, 1e-9))

    def term_tf(term):
        # closure helper, NOT a two-arg lambda default: filter() feeds a
        # second lambda parameter the element INDEX
        return F.size(F.filter(toks, lambda x: x == F.lit(term))).cast("double")

    score = F.lit(0.0)
    for t, idf in zip(terms, idfs):
        tf = term_tf(t)
        score = score + F.lit(idf) * tf * (k1 + 1.0) / (tf + k1 * denom_norm)
    return (
        docs.select(F.col(id_col), hround(score, 6).alias("score"))
        .filter(F.col("score") > 0.0)
        .orderBy(F.col("score").desc(), id_col)
        .limit(k)
    )


def _docs(spark):
    rows = [
        (1, "spark engines process data. spark is fast."),
        (2, "data pipelines move data between data systems."),
        (3, "cooking pasta requires water and salt."),
        (4, "spark data processing at scale with spark sql."),
        (5, ""),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_bm25_golden_ordering(spark):
    got = search.bm25_topk(_docs(spark), "spark data", k=5).collect()
    ids = [r.doc_id for r in got]
    # docs 1 and 4 match both terms; 2 matches only the common term
    assert set(ids[:2]) == {1, 4}
    assert ids[2] == 2
    assert 3 not in ids and 5 not in ids  # no match -> excluded
    assert got[0].score >= got[1].score >= got[2].score > 0


def test_bm25_matches_duckdb(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    query = "the data and system"
    got = [(r.doc_id, r.score) for r in search.bm25_topk(docs, query, k=20).collect()]

    terms = sorted(set(search._py_terms(query)))
    con = duckdb.connect()
    con.execute("CREATE TABLE docs (doc_id BIGINT, text VARCHAR)")
    con.executemany(
        "INSERT INTO docs VALUES (?, ?)",
        [(r.doc_id, r.text) for r in docs.select("doc_id", "text").collect()],
    )
    tf_cols = ", ".join(
        f"len(list_filter(toks, x -> x = '{t}')) AS tf_{i}" for i, t in enumerate(terms)
    )
    df_cols = ", ".join(
        f"sum(CASE WHEN list_contains(toks, '{t}') THEN 1 ELSE 0 END) AS df_{i}"
        for i, t in enumerate(terms)
    )
    score = " + ".join(
        f"(ln((s.n - s.df_{i} + 0.5) / (s.df_{i} + 0.5) + 1.0) * tf_{i} * 2.2 "
        f"/ (tf_{i} + 1.2 * (0.25 + 0.75 * dl / s.avgdl)))"
        for i in range(len(terms))
    )
    want = con.execute(
        f"""
        WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
                   FROM docs),
        d AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, {tf_cols} FROM t),
        s AS (SELECT count(*) AS n, avg(len(toks)) AS avgdl, {df_cols} FROM t)
        SELECT doc_id,
               floor(({score}) * 1000000.0 + 0.5) / 1000000.0 AS score
        FROM d, s
        WHERE ({score}) > 0
        ORDER BY score DESC, doc_id LIMIT 20
        """
    ).fetchall()
    assert got == [(a, b) for a, b in want] and got


def test_bm25_scoring_pass_zero_shuffle(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    stats = search.corpus_stats(docs, ["data", "system"])
    df = search.bm25_topk(docs, "data system", k=10, stats=stats)
    assert count_shuffles(df) == 0  # idf literals + in-row tf + TakeOrdered
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_bm25_reused_stats_match_fresh(spark):
    docs = _docs(spark)
    stats = search.corpus_stats(docs, ["spark", "data"])
    a = [(r.doc_id, r.score) for r in search.bm25_topk(docs, "spark data", stats=stats).collect()]
    b = [(r.doc_id, r.score) for r in search.bm25_topk(docs, "spark data").collect()]
    assert a == b


def test_bm25_kernels_equal(spark, sf_dir):
    # r13: the numpy scoring kernel must reproduce the interpreted
    # expression's 6dp-rounded scores EXACTLY (same float sequence) —
    # over the real corpus plus unicode lowercasing corners (İ → i +
    # combining dot contains an ASCII 'i'; Kelvin K → k; ß; Σ;
    # titlecase ǅ; fullwidth chars) and null/empty texts
    from rnadam_spark.operators import search as search_mod

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    ).union(
        spark.createDataFrame(
            [
                (900001, None),
                (900002, ""),
                (900003, "İstanbul KELVIN K data ß ΣΙΓΜΑ ǅ ＦＵＬＬ the"),
                (900004, "the the the data data network"),
            ],
            "doc_id bigint, text string",
        )
    )
    q = "the data system and network"
    a = [tuple(r) for r in search_mod.bm25_topk(docs, q, k=30).collect()]
    jstats = _corpus_stats_jvm(docs, sorted(set(search_mod._py_terms(q))))
    pstats = search_mod.corpus_stats(docs, sorted(set(search_mod._py_terms(q))))
    assert jstats == pstats
    j = [tuple(r) for r in _bm25_topk_jvm(docs, q, k=30).collect()]
    assert a == j and len(a) == 30
