"""Gopher document-level quality rules (text.gopher_quality) vs a pure
Python reference of Rae et al. 2021 table A1, plus per-rule goldens."""

from __future__ import annotations

import math
import random
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rnadam_spark.operators.text import (
    GOPHER_STOPWORDS,
    gopher_columns,
    gopher_prelude,
    gopher_quality,
)


def _gopher_quality_hof(
    docs: DataFrame,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopwords: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Oracle: the staged :func:`gopher_prelude` + :func:`gopher_columns`
    projection that was ``text.gopher_quality`` before the Arrow pass
    (2.5 vs 5.5 s at sf10) replaced it — the same column builders the
    fused curate chains inline, as ONE shuffle-free projection."""
    pre_exprs = gopher_prelude(text_col)
    staged = docs.select(
        F.col(id_col),
        F.col(text_col),
        *[c.alias(name) for name, c in pre_exprs.items()],
    )
    cols = gopher_columns(
        text_col,
        min_words=min_words,
        max_words=max_words,
        min_mean_word_len=min_mean_word_len,
        max_mean_word_len=max_mean_word_len,
        max_symbol_ratio=max_symbol_ratio,
        max_bullet_frac=max_bullet_frac,
        max_ellipsis_frac=max_ellipsis_frac,
        min_alpha_word_frac=min_alpha_word_frac,
        min_stopwords=min_stopwords,
        prelude={name: F.col(name) for name in pre_exprs},
    )
    return staged.select(F.col(id_col), *[c.alias(name) for name, c in cols.items()])


def _hr(x: float) -> float:
    return math.floor(x * 1e6 + 0.5) / 1e6


def _py_gopher(body: str, min_words=50, max_words=100_000) -> dict:
    toks = [t for t in re.split(r"\s+", body) if t]
    nw = max(len(toks), 1)
    mean_len = sum(len(t) for t in toks) / nw
    hash_ratio = body.count("#") / nw
    ell_sym_ratio = len(re.findall(r"\.\.\.|…", body)) / nw
    lines = [ln.strip() for ln in body.split("\n") if ln.strip()]
    nl = max(len(lines), 1)
    bullet = sum(1 for ln in lines if ln[:1] in ("•", "-", "*")) / nl
    ellipsis = sum(1 for ln in lines if re.search(r"(\.\.\.|…)$", ln)) / nl
    alpha = sum(1 for t in toks if re.search("[A-Za-z]", t)) / nw
    low = {t.lower() for t in toks}
    n_stop = sum(1 for s in GOPHER_STOPWORDS if s in low)
    if len(toks) < min_words or len(toks) > max_words:
        reason = "word_count"
    elif mean_len < 3.0 or mean_len > 10.0:
        reason = "mean_word_len"
    elif hash_ratio > 0.1 or ell_sym_ratio > 0.1:
        reason = "symbol_ratio"
    elif bullet > 0.9:
        reason = "bullet_lines"
    elif ellipsis > 0.3:
        reason = "ellipsis_lines"
    elif alpha < 0.8:
        reason = "alpha_words"
    elif n_stop < 2:
        reason = "stopwords"
    else:
        reason = None
    return {
        "n_words": len(toks),
        "mean_word_len": _hr(mean_len),
        "hash_word_ratio": _hr(hash_ratio),
        "ellipsis_word_ratio": _hr(ell_sym_ratio),
        "bullet_line_frac": _hr(bullet),
        "ellipsis_line_frac": _hr(ellipsis),
        "alpha_word_frac": _hr(alpha),
        "n_stopwords_present": n_stop,
        "keep_doc": reason is None,
        "drop_reason": reason,
    }


GOOD = (
    "The dataset pipeline needs to be clean and it must have documents "
    "that read like prose with normal words of sensible length so the "
    "filters keep them. " * 3
)


def test_matches_python_reference_random_corpus(spark):
    rng = random.Random(17)
    frag = [
        "the and of to with that have be",
        "• bullet line one\n• bullet line two",
        "trailing thoughts go on and on...",
        "#tag #tag #tag #tag",
        "12345 67890 11121 31415",
        "supercalifragilisticexpialidocious antidisestablishmentarianism",
        "short txt",
        GOOD,
    ]
    rows = [
        (i, "\n".join(rng.choice(frag) for _ in range(rng.randint(1, 6))))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: r.asDict() for r in gopher_quality(df, min_words=5).collect()}
    for d, body in rows:
        want = _py_gopher(body, min_words=5)
        g = got[d]
        for k, v in want.items():
            assert g[k] == v, (d, k, g[k], v, body[:60])


def test_per_rule_drop_reasons(spark):
    cases = [
        (1, "too few words", "word_count"),
        (2, "a b c d e " * 20, "mean_word_len"),  # mean len 1
        (3, GOOD + " " + "#" * 1 + " #a #b #c #d #e #f #g #h #i #j #k #l", "symbol_ratio"),
        (4, "\n".join("• " + GOOD for _ in range(10)), "bullet_lines"),
        (5, "\n".join(GOOD + "..." for _ in range(10)), "ellipsis_lines"),
        (6, GOOD + " " + " ".join(str(n) for n in range(100, 160)), "alpha_words"),
        (7, "word " * 60, "stopwords"),
        (8, GOOD, None),
    ]
    df = spark.createDataFrame([(i, t) for i, t, _ in cases], "doc_id bigint, text string")
    got = {r["doc_id"]: r["drop_reason"] for r in gopher_quality(df).collect()}
    for i, t, want in cases:
        assert _py_gopher(t)["drop_reason"] == want, ("fixture self-check", i)
        assert got[i] == want, (i, got[i], want)


def test_no_python_boundary_and_no_shuffle(spark):
    # the column builders the fused curate chains inline stay on the
    # JVM; the table operator is one Arrow map — neither shuffles
    df = spark.createDataFrame([(1, GOOD)], "doc_id bigint, text string")
    plan = _gopher_quality_hof(df)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Exchange" not in plan
    plan = gopher_quality(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1 and "Exchange" not in plan


def test_paragraph_lang_scores(spark):
    from rnadam_spark.operators.text import paragraph_lang_scores

    en = "the cat and the dog of the house is here and the day is long"
    de = "der hund und die katze ist da und das haus ist der ort"
    doc = en + "\n\n" + de + "\n\n" + "   \n\n" + en
    df = spark.createDataFrame([(1, doc), (2, de)], "doc_id bigint, text string")
    rows = paragraph_lang_scores(df).collect()
    by_key = {(r["doc_id"], r["para_idx"]): r["predicted_lang"] for r in rows}
    # doc 1: en / de / en (the whitespace-only paragraph is dropped)
    assert by_key[(1, 0)] == "en" and by_key[(1, 1)] == "de" and by_key[(1, 3)] == "en"
    assert (1, 2) not in by_key
    assert by_key[(2, 0)] == "de"
    # per-paragraph argmax agrees with document-level lang_scores run on
    # the paragraph text alone (shared kernel)
    from rnadam_spark.operators.text import lang_scores

    solo = lang_scores(
        spark.createDataFrame([(0, en), (1, de)], "doc_id bigint, text string")
    ).collect()
    assert {r["doc_id"]: r["predicted_lang"] for r in solo} == {0: "en", 1: "de"}


def test_gopher_pandas_twin_value_equal(spark, sf_dir):
    """The Arrow-batched gopher_quality must reproduce the staged-HOF
    oracle EXACTLY — all eleven columns — on real corpus rows plus
    null/empty/bullet/ellipsis/short-doc edges, and keep a string id's
    type."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    edge = spark.createDataFrame(
        [
            (200001, None),
            (200002, ""),
            (200003, "- one\n- two\n- three"),
            (200004, "trailing dots...\nand more…\nplain line"),
            # CRLF: Java's default `$` matches before a final \r, so the
            # JVM form counts "dots...\r" as ellipsis-ended — the twin
            # must mirror that (it diverged before the lookahead fix)
            (200008, "crlf dots...\r\nplain\r\nalso…\r\n"),
            (200005, "the " * 60 + "### and ..."),
            (200006, "short doc"),
            (200007, ("the quick brown fox jumps over a lazy dog and that " * 6)),
        ],
        "doc_id bigint, text string",
    )
    both = docs.union(edge)
    a = {r.doc_id: tuple(r)[1:] for r in _gopher_quality_hof(both).collect()}
    b = {r.doc_id: tuple(r)[1:] for r in gopher_quality(both).collect()}
    assert set(a) == set(b) and len(a) > 500
    for k in a:
        assert a[k] == b[k], (k, a[k], b[k])
    keyed = both.select(F.concat(F.lit("d"), F.col("doc_id")).alias("doc_id"), "text")
    got = {r.doc_id: tuple(r)[1:] for r in gopher_quality(keyed).collect()}
    assert got == {f"d{k}": v for k, v in a.items()}
