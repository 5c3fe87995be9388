"""Duplicated-span detection/removal (operators/spans.py) vs a pure
Python reference of the Lee et al. 2021 semantics: a maximal token span
is duplicated iff every ``min_tokens`` window inside it occurs >= 2
times corpus-wide."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from rnadam_spark.functions.shingles import token_ngrams
from rnadam_spark.operators.spans import (
    _merge_hit_positions,
    _window_hash_rows,
    duplicated_spans,
    remove_duplicated_spans,
)


def _window_hashes(text_col: str, min_tokens: int):
    """The in-row expression the Arrow window kernel replaced
    (OPTIMIZATION_r13.md) — its independent oracle: BIGINT hashes of
    every ``min_tokens``-token window."""
    return F.transform(token_ngrams(text_col, min_tokens), lambda g: F.xxhash64(g))


def _contaminated_spans_jvm(docs, benchmark, min_tokens):
    """contaminated_spans with both window tables built by the in-row
    expression instead of the Arrow kernel (the replaced form)."""
    windows = docs.select(
        F.col("doc_id"),
        F.posexplode(_window_hashes("text", min_tokens)).alias("pos", "wh"),
    )
    bench = benchmark.select(
        F.explode(_window_hashes("text", min_tokens)).alias("wh")
    ).distinct()
    hits = windows.join(F.broadcast(bench), "wh").groupBy("doc_id").agg(
        F.array_sort(F.collect_list("pos")).alias("_hits")
    )
    spans = _merge_hit_positions(F.col("_hits"), min_tokens)
    return hits.select(F.col("doc_id"), F.explode(spans).alias("s")).select(
        "doc_id",
        F.col("s.s").cast("bigint").alias("span_start"),
        F.col("s.e").cast("bigint").alias("span_end"),
        (F.col("s.e") - F.col("s.s") + 1).cast("bigint").alias("span_tokens"),
    )


def _py_spans(texts: dict[int, str], L: int) -> dict[int, list[tuple[int, int]]]:
    """Reference: hash-free window counting + interval merge."""
    toks = {d: t.split() for d, t in texts.items()}
    counts: Counter = Counter()
    for ts in toks.values():
        for i in range(len(ts) - L + 1):
            counts[tuple(ts[i : i + L])] += 1
    out: dict[int, list[tuple[int, int]]] = {}
    for d, ts in toks.items():
        hits = [i for i in range(len(ts) - L + 1) if counts[tuple(ts[i : i + L])] >= 2]
        spans: list[tuple[int, int]] = []
        for p in hits:
            e = p + L - 1
            if spans and p <= spans[-1][1] + 1:
                spans[-1] = (spans[-1][0], max(spans[-1][1], e))
            else:
                spans.append((p, e))
        if spans:
            out[d] = spans
    return out


WORDS = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]


def _text(seq: list[int]) -> str:
    return " ".join(WORDS[i % len(WORDS)] + str(i) for i in seq)


@pytest.fixture(scope="module")
def corpus(spark):
    shared = list(range(100, 108))  # an 8-token passage pasted into docs 1 and 2
    texts = {
        1: _text(list(range(0, 20)) + shared + list(range(40, 50))),
        2: _text(list(range(60, 70)) + shared + list(range(80, 95))),
        3: _text(list(range(200, 230))),  # clean document
        4: _text(list(range(300, 310)) + list(range(300, 310))),  # self-repeat
    }
    df = spark.createDataFrame(
        [(d, t) for d, t in texts.items()], "doc_id bigint, text string"
    )
    return texts, df


def test_spans_match_python_reference(corpus):
    texts, df = corpus
    for L in (4, 8):
        got = {
            (r["doc_id"], r["span_start"], r["span_end"])
            for r in duplicated_spans(df, min_tokens=L).collect()
        }
        want = {
            (d, s, e) for d, spans in _py_spans(texts, L).items() for s, e in spans
        }
        assert got == want, f"L={L}"


def test_span_tokens_at_least_min(corpus):
    _, df = corpus
    rows = duplicated_spans(df, min_tokens=4).collect()
    assert rows and all(r["span_tokens"] >= 4 for r in rows)


def test_removal_leaves_no_duplicated_spans(corpus):
    _, df = corpus
    cleaned = remove_duplicated_spans(df, min_tokens=4)
    rows = {r["doc_id"]: r for r in cleaned.collect()}
    assert set(rows) == {1, 2, 3, 4}  # no document vanishes
    assert rows[3]["n_tokens_removed"] == 0
    assert rows[1]["n_tokens_removed"] >= 8
    # re-detect on the cleaned corpus: nothing left
    assert duplicated_spans(cleaned, min_tokens=4).count() == 0


def test_removal_matches_reference_token_sets(corpus):
    texts, df = corpus
    want_spans = _py_spans(texts, 4)
    rows = {r["doc_id"]: r for r in remove_duplicated_spans(df, min_tokens=4).collect()}
    for d, text in texts.items():
        ts = text.split()
        drop = {
            i for s, e in want_spans.get(d, []) for i in range(s, e + 1)
        }
        want = " ".join(t for i, t in enumerate(ts) if i not in drop)
        assert rows[d]["text"] == want
        assert rows[d]["n_tokens_before"] == len(ts)
        assert rows[d]["n_tokens_removed"] == len(drop)


def test_partitioning_invariance(corpus):
    _, df = corpus
    a = sorted(map(tuple, duplicated_spans(df, min_tokens=4).collect()))
    b = sorted(map(tuple, duplicated_spans(df.repartition(7), min_tokens=4).collect()))
    assert a == b


def test_precomputed_spans_path(corpus):
    _, df = corpus
    spans = duplicated_spans(df, min_tokens=4)
    via_spans = remove_duplicated_spans(df, min_tokens=4, spans=spans)
    direct = remove_duplicated_spans(df, min_tokens=4)
    assert sorted(map(tuple, via_spans.collect())) == sorted(map(tuple, direct.collect()))


def test_short_docs_yield_no_windows(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c")], "doc_id bigint, text string"
    )
    # 3-token docs, 5-token windows: nothing to mark even though the
    # docs are exact duplicates (that is exact dedup's job)
    assert duplicated_spans(df, min_tokens=5).count() == 0
    out = {r["doc_id"]: r for r in remove_duplicated_spans(df, min_tokens=5).collect()}
    assert out[1]["text"] == "a b c" and out[1]["n_tokens_removed"] == 0


def test_no_python_boundary(corpus):
    # r13: the window builder is one MapInPandas (the vectorized XXH64
    # kernel) and nothing else Python
    _, df = corpus
    plan_p = duplicated_spans(df, min_tokens=4)._jdf.queryExecution().executedPlan().toString()
    assert plan_p.count("MapInPandas") == 0  # materialized BEFORE the boundary snapshot
    assert "BatchEvalPython" not in plan_p


def test_single_tokenize_pass(corpus):
    # VERDICT r6 #2: the windows table feeds both the dup-count
    # aggregate and the hits join; it must materialize at a stage
    # boundary so the corpus is tokenized/window-hashed exactly ONCE.
    # Contract: downstream of the checkpoint the plan scans the
    # materialized rows (ExistingRDD) and contains NO posexplode —
    # the tokenize/hash/explode subtree ran before the boundary.
    _, df = corpus
    plan = duplicated_spans(df, min_tokens=4)._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan
    assert "posexplode" not in plan


def test_contaminated_spans_excise_eval_text(spark):
    eval_passage = "what is the capital of france paris is the capital"
    doc1 = "Intro words about geography quizzes here. " + eval_passage + " Closing remarks follow the quiz text."
    doc2 = "Nothing from any benchmark appears inside this clean document at all."
    docs = spark.createDataFrame(
        [(1, doc1), (2, doc2)], "doc_id bigint, text string"
    )
    bench = spark.createDataFrame(
        [(100, "quiz: " + eval_passage + " end of answer key")],
        "doc_id bigint, text string",
    )
    from rnadam_spark.operators.spans import (
        contaminated_spans,
        remove_contaminated_spans,
    )

    spans = contaminated_spans(docs, bench, min_tokens=5)
    assert {r["doc_id"] for r in spans.collect()} == {1}
    cleaned = {r["doc_id"]: r for r in remove_contaminated_spans(docs, bench, min_tokens=5).collect()}
    assert set(cleaned) == {1, 2}  # both docs keep rows
    assert "capital of france" not in cleaned[1]["text"]
    assert "Intro words" in cleaned[1]["text"] and "Closing remarks" in cleaned[1]["text"]
    assert cleaned[2]["text"] == doc2 and cleaned[2]["n_tokens_removed"] == 0
    # excised text no longer overlaps the benchmark at the window size
    assert contaminated_spans(
        spark.createDataFrame(
            [(1, cleaned[1]["text"])], "doc_id bigint, text string"
        ),
        bench,
        min_tokens=5,
    ).count() == 0


def test_untouched_docs_keep_text_verbatim(spark):
    multiline = "first line here\n\nsecond paragraph stays intact\n\tindented too"
    df = spark.createDataFrame(
        [(1, multiline), (2, "a b c d a b c d")], "doc_id bigint, text string"
    )
    out = {r["doc_id"]: r for r in remove_duplicated_spans(df, min_tokens=2).collect()}
    # doc 1 has no duplicated span: its newlines/tabs survive byte-for-byte
    assert out[1]["text"] == multiline and out[1]["n_tokens_removed"] == 0
    # doc 2 (self-repeat) was actually cut
    assert out[2]["n_tokens_removed"] > 0


def test_duplicated_spans_full_duckdb_cross_check(spark):
    """Engine-to-engine re-derivation of the whole span detector — the
    oracle shape a future gate rotation would register. DuckDB groups
    duplicate windows by the window STRING itself (semantically what
    the operator's xxhash64 key stands for, minus the 2^-64 collision
    caveat) and merges hits into maximal spans with a gaps-and-islands
    running max mirroring the in-row fold's `p <= end + 1` rule."""
    import random

    import duckdb

    rng = random.Random(31)
    vocab = [f"w{i}" for i in range(40)]
    shared = " ".join(rng.choice(vocab) for _ in range(9))  # pasted passage
    docs = []
    for i in range(40):
        body = [rng.choice(vocab) for _ in range(rng.randrange(3, 25))]
        if i % 3 == 0:
            at = rng.randrange(0, len(body))
            body[at:at] = shared.split()
        if i % 7 == 0:  # a second paste INSIDE the same doc
            body.extend(shared.split())
        docs.append((i, " ".join(body)))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    L = 5
    got = sorted(
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in duplicated_spans(df, min_tokens=L).collect()
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE sdocs(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO sdocs VALUES (?, ?)", docs)
    sql = rf"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0) AS toks
      FROM sdocs),
    w AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
             array_to_string(toks[CAST(i AS INT):CAST(i + {L} - 1 AS INT)], ' ') AS win
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - {L} + 2)) AS i
            FROM toks WHERE len(toks) >= {L})),
    dup AS (SELECT win FROM w GROUP BY win HAVING count(*) >= 2),
    hit AS (SELECT doc_id, pos, pos + {L} - 1 AS we FROM w JOIN dup USING (win)),
    marked AS (
      SELECT doc_id, pos, we,
             CASE WHEN pos > coalesce(max(we) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
                  THEN 1 ELSE 0 END AS brk
      FROM hit),
    grp AS (SELECT doc_id, pos, we,
                   sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g
            FROM marked)
    SELECT doc_id,
           CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(we) AS BIGINT) AS span_end,
           CAST(max(we) - min(pos) + 1 AS BIGINT) AS span_tokens
    FROM grp GROUP BY doc_id, g
    """
    want = sorted(map(tuple, con.execute(sql).fetchall()))
    assert got == want and got


def test_xxh64_batch_matches_spark(spark):
    # r13: the vectorized spec-XXH64 behind _window_hash_rows must be
    # bit-identical to F.xxhash64 across every length/tail shape
    import random

    import numpy as np

    from pyspark.sql import functions as F

    from rnadam_spark.functions.xxh64_np import xxh64_ranges

    rng = random.Random(3)
    strs = [""]
    for L in list(range(1, 101)) + [200, 1000]:
        strs.append("".join(chr(rng.randrange(32, 127)) for _ in range(L)))
    strs += ["naïve café — ünïcode ♥" * 5, "日本語のテキスト", " nbsp and tab\t"]
    bufs = [s.encode("utf-8") for s in strs]
    buf = np.frombuffer(b"".join(bufs), dtype=np.uint8)
    lens = np.array([len(b) for b in bufs], dtype=np.int64)
    starts = np.zeros(len(bufs), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    mine = list(xxh64_ranges(buf, starts, lens))
    rows = spark.createDataFrame(
        [(i, s) for i, s in enumerate(strs)], "i long, s string"
    ).select("i", F.xxhash64("s").alias("h")).collect()
    want = [r.h for r in sorted(rows, key=lambda r: r.i)]
    assert mine == want


def test_duplicated_spans_kernels_equal(spark):
    # the window table is identical to the in-row expression's, incl.
    # the tokenization corners (NBSP is NOT a Java \s separator),
    # unicode text, short docs, null text, and real duplicated passages
    passage = "the quick brown fox jumps over the lazy dog again and again ok"
    rows = [
        (1, f"intro {passage} outro one"),
        (2, f"prefix words {passage} suffix"),
        (3, "nbsp glued token " + "filler word " * 10 + "nbsp glued token"),
        (4, "short doc"),
        (5, None),
        (6, ("ünïcode véry " * 8) + passage),
        (7, f"{passage} {passage}"),  # duplicated within ONE doc
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    win_p = sorted(
        map(tuple, _window_hash_rows(docs, 12, "text", "doc_id").collect())
    )
    win_j = sorted(
        map(
            tuple,
            docs.select(
                F.col("doc_id"),
                F.posexplode(_window_hashes("text", 12)).alias("pos", "wh"),
            ).collect(),
        )
    )
    assert win_p == win_j and len(win_p) > 10
    assert len(duplicated_spans(docs, 12).collect()) >= 3


def test_contaminated_spans_kernels_equal(spark):
    # r13: contaminated_spans' window tables come from the vectorized
    # XXH64 kernel; spans identical to the in-row expression form over
    # the same corner corpus (incl. a doc whose only hit is
    # unicode-adjacent and a clean doc)
    from rnadam_spark.operators.spans import contaminated_spans

    passage = "what is the capital of france paris is the capital city"
    docs = spark.createDataFrame(
        [
            (1, f"intro words {passage} closing words"),
            (2, "totally clean document with nothing leaked inside it at all"),
            (3, ("ünïcode véry " * 4) + passage),
            (4, None),
            (5, "short"),
        ],
        "doc_id bigint, text string",
    )
    bench = spark.createDataFrame(
        [(100, f"quiz: {passage} end of key")], "doc_id bigint, text string"
    )
    got_p = sorted(map(tuple, contaminated_spans(docs, bench, min_tokens=5).collect()))
    got_j = sorted(map(tuple, _contaminated_spans_jvm(docs, bench, 5).collect()))
    assert got_p == got_j and {r[0] for r in got_p} == {1, 3}
