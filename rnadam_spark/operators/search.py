"""Relevance scoring over the document corpus: TF-IDF / BM25.

A curated corpus doubles as a retrieval target (eval-set mining,
near-query sampling, "find me training docs about X"), so the engine
needs term-relevance ranking alongside embedding ANN. BM25 (Robertson &
Sparck Jones; the Okapi formulation) over the documents table:

    score(d, q) = Σ_t idf(t) · tf(t,d)·(k1+1) /
                          (tf(t,d) + k1·(1 − b + b·|d|/avgdl))
    idf(t) = ln( (N − df(t) + 0.5) / (df(t) + 0.5) + 1 )

Scale shape — two jobs, no explode, no per-term shuffle:

1. **Corpus statistics pass**: one Arrow pass + aggregate computes N,
   avgdl, and df(t) for every query term (|query| tiny integers to the
   driver — never a corpus-keyed groupBy; a term-keyed df table would
   shuffle every token occurrence for terms nobody queried).
2. **Scoring pass**: idf values ride the closure; per-document tf is
   a Counter over the document's tokens; the whole score is a
   zero-shuffle Arrow projection + TakeOrdered top-k.

Tokenization is the engine-portable ``[a-z0-9]+`` lowercase extraction
(same as C4 bad-word matching and the DuckDB cross-check).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rnadam_spark.functions.rounding import hround


def corpus_stats(
    docs: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
) -> tuple[int, float, dict[str, int]]:
    """(N, avgdl, {term: df}) in ONE corpus aggregate: each Arrow batch
    emits its partial counts (a Counter-style map-side combine), so
    there is no token explode and no shuffle beyond the final scalar
    reduction. Every aggregate is integer-exact, and avgdl is the
    double Spark's avg over an int column gives (bigint sum divided
    once): ``float(total_dl)/float(n_nonnull)`` — pinned against the
    conditional-sum aggregate it replaced by tests/test_search.py."""
    terms = list(query_terms)

    def batches(it):
        import re

        import pandas as pd

        pat = re.compile(r"[a-z0-9]+")
        n = n_text = total_dl = 0
        df_c = {t: 0 for t in terms}
        for pdf in it:
            for text in pdf["_t"]:
                n += 1
                if text is None:
                    continue
                toks = pat.findall(text.lower())
                n_text += 1
                total_dl += len(toks)
                if terms:
                    ts = set(toks)
                    for t in terms:
                        if t in ts:
                            df_c[t] += 1
        yield pd.DataFrame(
            {
                "n": [n],
                "n_text": [n_text],
                "total_dl": [total_dl],
                **{f"df_{i}": [df_c[t]] for i, t in enumerate(terms)},
            }
        )

    part = docs.select(F.col(text_col).alias("_t")).mapInPandas(
        batches,
        "n bigint, n_text bigint, total_dl bigint, "
        + ", ".join(f"df_{i} bigint" for i in range(len(terms)))
        if terms
        else "n bigint, n_text bigint, total_dl bigint",
    )
    aggs = [F.sum("n").alias("n"), F.sum("n_text").alias("n_text"), F.sum("total_dl").alias("total_dl")] + [
        F.sum(f"df_{i}").alias(f"df_{i}") for i in range(len(terms))
    ]
    row = part.agg(*aggs).collect()[0]
    n_text = int(row["n_text"] or 0)
    # Spark's avg(int) = exact bigint sum / non-null count, one double
    # division — replicated here so avgdl is the identical double
    avgdl = float(row["total_dl"]) / float(n_text) if n_text else 0.0
    dfs = {t: int(row[f"df_{i}"] or 0) for i, t in enumerate(terms)}
    return int(row["n"] or 0), avgdl, dfs


def bm25_topk(
    docs: DataFrame,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    stats: tuple[int, float, dict[str, int]] | None = None,
) -> DataFrame:
    """(doc_id, score): top-k documents by Okapi BM25 for a free-text
    ``query``. Pass ``stats`` (from :func:`corpus_stats`, possibly
    computed once and reused across many queries) to skip the corpus
    pass — the production pattern where N/avgdl/df come from a
    maintained statistics table.

    Each Arrow batch scores in numpy with the JVM expression's EXACT float sequence — integer tf
    from a per-doc Counter, then per term
    ``((idf·tf)·(k1+1)) / (tf + k1·((1−b) + (b·dl)/avgdl))``
    accumulated left-to-right in sorted-term order, all float64 — so
    the 6dp-rounded scores (rounding/filter/top-k stay in the JVM,
    unchanged) are bit-identical to the interpreted form it replaced,
    which ran one ``filter(toks, x == t)`` HOF traversal per query term
    per doc (the scoring pass was 7.5s of bm25's 8.7s sf10 wall,
    OPTIMIZATION_r13.md). Tokenization parity
    (``str.lower``+``re.findall`` ≡ ``lower``+``regexp_extract_all``)
    is pinned incl. İ/K(Kelvin)/ß/Σ/titlecase/fullwidth corners against
    that form by tests/test_search.py."""
    terms = sorted(set(_py_terms(query)))
    if not terms:
        raise ValueError("query contains no indexable terms")
    n, avgdl, dfs = stats if stats is not None else corpus_stats(docs, terms, text_col)
    idfs = [math.log((n - dfs[t] + 0.5) / (dfs[t] + 0.5) + 1.0) for t in terms]
    avg_floor = max(avgdl, 1e-9)
    id_type = docs.schema[id_col].dataType.simpleString()

    def batches(it):
        import re
        from collections import Counter

        import numpy as np
        import pandas as pd

        pat = re.compile(r"[a-z0-9]+")
        for pdf in it:
            ids, dls = [], []
            tf_cols: list[list[int]] = [[] for _ in terms]
            for did, text in zip(pdf[id_col], pdf["_t"]):
                if text is None:
                    continue  # null text scores null → filtered
                c = Counter(pat.findall(text.lower()))
                ids.append(did)
                dls.append(sum(c.values()))
                for j, t in enumerate(terms):
                    tf_cols[j].append(c.get(t, 0))
            if not ids:
                continue
            dl = np.array(dls, dtype=np.float64)
            dn = (1.0 - b) + (b * dl) / avg_floor
            s = np.zeros(len(ids))
            for j, t in enumerate(terms):
                tf = np.array(tf_cols[j], dtype=np.float64)
                s = s + ((idfs[j] * tf) * (k1 + 1.0)) / (tf + k1 * dn)
            yield pd.DataFrame({id_col: ids, "_score": s})

    scored = docs.select(
        F.col(id_col), F.col(text_col).alias("_t")
    ).mapInPandas(batches, f"{id_col} {id_type}, _score double")
    return (
        scored.select(F.col(id_col), hround(F.col("_score"), 6).alias("score"))
        .filter(F.col("score") > 0.0)
        .orderBy(F.col("score").desc(), id_col)
        .limit(k)
    )


def _py_terms(s: str) -> list[str]:
    import re

    return re.findall(r"[a-z0-9]+", s.lower())
