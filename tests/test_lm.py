"""LM perplexity scoring, hashed-feature classifier, sequence packing,
and mixture reweighting (operators/lm.py)."""

from __future__ import annotations

import math
from collections import Counter

import duckdb
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rnadam_spark.functions.hashing import poly_hash_sql
from rnadam_spark.functions.rounding import hround, hround_sql
from rnadam_spark.functions.shingles import char_shingles
from rnadam_spark.operators import lm
from rnadam_spark.operators.sampling import sample_code_sql


def _lm_perplexity_hof(
    docs: DataFrame,
    lm: DataFrame,
    n: int = 3,
    vocab_size: int = 128,
    text_col: str = "text",
    id_col: str | tuple[str, ...] = "doc_id",
) -> DataFrame:
    """Oracle: the char_shingles explode + broadcast-join form that was
    ``lm.lm_perplexity`` before the Arrow scorer (2.8x at sf10)
    replaced it; ``id_col`` may be a composite key.

    (doc_id, n_grams, avg_neg_log_prob, perplexity): score each
    document under an add-one-smoothed character ``n``-gram LM trained
    by :func:`train_char_lm` — the CCNet quality signal (fluent prose
    scores low, boilerplate/garbage scores high; filter or bucket on
    it before training).

    Per gram ``g = p·c`` (prefix ``p`` of ``n−1`` chars, final char
    ``c``)::

        log P(c | p) = ln(cnt(g) + 1) − ln(cnt(p) + vocab_size)

    with unseen grams/prefixes counting 0 — every document scores, even
    against a tiny LM. ``perplexity = exp(avg_neg_log_prob)``. Documents
    shorter than ``n`` chars have no grams: kept with ``n_grams = 0``
    and perplexity 1 (an audit row must never vanish).

    Plan: both model tables broadcast (bounded by ``alphabet**n``);
    the exploded corpus never shuffles until the final map-side-partial
    ``doc_id`` re-aggregation — one exchange total."""
    grams = lm.select("gram", "gram_cnt")
    prefixes = F.broadcast(
        grams.groupBy(F.col("gram").substr(1, n - 1).alias("prefix")).agg(
            F.sum("gram_cnt").cast("bigint").alias("prefix_cnt")
        )
    )
    ids = [id_col] if isinstance(id_col, str) else list(id_col)
    doc_grams = docs.select(
        *[F.col(c) for c in ids], F.explode_outer(char_shingles(text_col, n)).alias("gram")
    )
    scored = (
        doc_grams.join(F.broadcast(grams), "gram", "left")
        .withColumn("prefix", F.col("gram").substr(1, n - 1))
        .join(prefixes, "prefix", "left")
        .withColumn(
            "_nlp",
            F.when(
                F.col("gram").isNotNull(),
                F.log(F.coalesce(F.col("prefix_cnt"), F.lit(0)) + F.lit(vocab_size))
                - F.log(F.coalesce(F.col("gram_cnt"), F.lit(0)) + F.lit(1)),
            ),
        )
    )
    anlp = F.coalesce(F.avg("_nlp"), F.lit(0.0))
    return scored.groupBy(*ids).agg(
        F.count("gram").cast("bigint").alias("n_grams"),
        hround(anlp, 6).alias("avg_neg_log_prob"),
        hround(F.exp(anlp), 6).alias("perplexity"),
    )


def _paragraph_perplexity_hof(
    docs: DataFrame,
    lm: DataFrame,
    n: int = 3,
    vocab_size: int = 128,
    split_pattern: str = r"\n{2,}",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Oracle: the posexplode + :func:`_lm_perplexity_hof` form that was
    ``lm.paragraph_perplexity`` before the Arrow pass (3.1x at sf10).

    (doc_id, para_idx, n_grams, avg_neg_log_prob, perplexity):
    paragraph-granularity perplexity — CCNet's actual unit (its LM
    filter scores and drops PARAGRAPHS, not documents, because real
    pages interleave fluent prose with boilerplate that a doc-level
    average blurs together). Split on blank lines (the
    ``paragraph_lang_scores`` convention), score each segment under
    the same add-one char-n-gram model via the shared
    :func:`lm_perplexity` kernel keyed on (doc_id, para_idx).

    Plan shape is unchanged from the doc-level scorer (which now
    accepts a composite key): the model tables broadcast, the exploded
    grams re-aggregate once on (doc_id, para_idx) with map-side
    partials, paragraphs number in-row via posexplode — no extra
    shuffle and no join for the finer grain. Callers excise tail
    paragraphs and rebuild documents with a concat_ws groupBy on
    doc_id (one more exchange, only when rewriting)."""
    paras = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), split_pattern)).alias("para_idx", "_para"),
    ).filter(F.length(F.trim(F.col("_para"))) > 0)
    return _lm_perplexity_hof(
        paras, lm, n=n, vocab_size=vocab_size, text_col="_para",
        id_col=(id_col, "para_idx"),
    )


TRAIN = [
    (1, "the cat sat on the mat"),
    (2, "the dog sat on the log"),
    (3, "cats and dogs and cats"),
]
SCORE = [
    (10, "the cat sat"),
    (11, "zqxj vvkw zzz"),
    (12, "on the mat the dog"),
    (13, "ab"),  # shorter than n=3: no grams
    (14, ""),
]


def _py_lm(train_rows, n=3):
    grams = Counter()
    for _, t in train_rows:
        for i in range(len(t) - n + 1):
            grams[t[i : i + n]] += 1
    prefixes = Counter()
    for g, c in grams.items():
        prefixes[g[: n - 1]] += c
    return grams, prefixes


def _py_score(text, grams, prefixes, n=3, v=128):
    gs = [text[i : i + n] for i in range(len(text) - n + 1)]
    if not gs:
        return 0, 0.0, 1.0
    nlps = [
        math.log(prefixes.get(g[: n - 1], 0) + v) - math.log(grams.get(g, 0) + 1)
        for g in gs
    ]
    anlp = sum(nlps) / len(nlps)
    rd = lambda x: math.floor(x * 1e6 + 0.5) / 1e6
    return len(gs), rd(anlp), rd(math.exp(anlp))


def test_train_char_lm_counts(spark):
    got = {
        r.gram: r.gram_cnt
        for r in lm.train_char_lm(spark.createDataFrame(TRAIN, ["doc_id", "text"])).collect()
    }
    want, _ = _py_lm(TRAIN)
    assert got == dict(want)


def test_train_char_lm_kernels_equal(spark):
    # the r13 Counter-partial training kernel must produce EXACTLY the
    # reference model — integer counts, all corners: null text, empty
    # text, shorter-than-n text, non-ASCII codepoints (Python slicing
    # and Spark substr are both codepoint-based)
    rows = TRAIN + [(4, None), (5, ""), (6, "ab"), (7, "naïve café — ok")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got_p = {
        r.gram: r.gram_cnt for r in lm.train_char_lm(df, cache=False).collect()
    }
    want, _ = _py_lm([(d, t) for d, t in rows if t is not None])
    assert got_p == dict(want)


def test_lm_perplexity_golden(spark):
    model = lm.train_char_lm(spark.createDataFrame(TRAIN, ["doc_id", "text"]))
    docs = spark.createDataFrame(SCORE, ["doc_id", "text"])
    got = {r.doc_id: r for r in lm.lm_perplexity(docs, model).collect()}
    grams, prefixes = _py_lm(TRAIN)
    assert set(got) == {d for d, _ in SCORE}  # no doc vanishes
    for doc_id, text in SCORE:
        n_grams, anlp, ppl = _py_score(text, grams, prefixes)
        r = got[doc_id]
        assert r.n_grams == n_grams
        assert r.avg_neg_log_prob == pytest.approx(anlp, abs=1e-9)
        assert r.perplexity == pytest.approx(ppl, abs=1e-9)
    # fluent in-domain text scores better than keyboard mash
    assert got[10].perplexity < got[11].perplexity


def test_lm_perplexity_matches_duckdb(spark):
    n, v = 3, 128
    model = lm.train_char_lm(spark.createDataFrame(TRAIN, ["doc_id", "text"]))
    docs = spark.createDataFrame(SCORE, ["doc_id", "text"])
    got = {
        (r.doc_id, r.n_grams, r.avg_neg_log_prob, r.perplexity)
        for r in lm.lm_perplexity(docs, model, n=n, vocab_size=v).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE train (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO train VALUES (?, ?)", TRAIN)
    con.execute("CREATE TABLE docs (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", SCORE)
    want = set(
        con.execute(
            f"""
            WITH grams AS (
              SELECT substr(text, CAST(i AS INT), {n}) AS gram, count(*) AS gram_cnt
              FROM (SELECT text,
                           unnest(range(1, greatest(length(text) - {n - 1}, 0) + 1)) AS i
                    FROM train)
              GROUP BY 1
            ),
            prefixes AS (
              SELECT substr(gram, 1, {n - 1}) AS prefix, sum(gram_cnt) AS prefix_cnt
              FROM grams GROUP BY 1
            ),
            doc_grams AS (
              SELECT doc_id, substr(text, CAST(i AS INT), {n}) AS gram
              FROM (SELECT doc_id, text,
                           unnest(range(1, greatest(length(text) - {n - 1}, 0) + 1)) AS i
                    FROM docs)
            ),
            nlp AS (
              SELECT doc_id,
                     ln(COALESCE(p.prefix_cnt, 0) + {v})
                       - ln(COALESCE(gr.gram_cnt, 0) + 1) AS _nlp
              FROM doc_grams dg
              LEFT JOIN grams gr USING (gram)
              LEFT JOIN prefixes p ON substr(dg.gram, 1, {n - 1}) = p.prefix
            ),
            agg AS (
              SELECT doc_id, count(*) AS n_grams, avg(_nlp) AS anlp
              FROM nlp GROUP BY doc_id
            )
            SELECT d.doc_id, CAST(COALESCE(a.n_grams, 0) AS BIGINT) AS n_grams,
                   {hround_sql('COALESCE(a.anlp, 0.0)', 6)} AS avg_neg_log_prob,
                   {hround_sql('exp(COALESCE(a.anlp, 0.0))', 6)} AS perplexity
            FROM docs d LEFT JOIN agg a USING (doc_id)
            """
        ).fetchall()
    )
    assert got == want


WEIGHTS = [("good", 2.0), ("great", 1.5), ("spam", -3.0), ("the", 0.1)]


def _weights_df(spark, n_features):
    from pyspark.sql import functions as F

    toks = spark.createDataFrame(WEIGHTS, ["tok", "weight"])
    return toks.select(
        lm.feature_bucket(F.col("tok"), n_features).alias("bucket"), "weight"
    )


CLS_DOCS = [
    (1, "good good great stuff"),
    (2, "spam spam spam offer"),
    (3, "the quiet middle"),
    (4, ""),
]


def test_classifier_score_matches_duckdb(spark):
    nf = 4096
    docs = spark.createDataFrame(CLS_DOCS, ["doc_id", "text"])
    got = {
        (r.doc_id, r.n_tokens, r.margin, r.prob)
        for r in lm.classifier_score(docs, _weights_df(spark, nf), intercept=0.25,
                                     n_features=nf).collect()
    }
    inner = poly_hash_sql("rpad(lower(tok), 8, ' ')", 8)
    bucket_expr = f"({inner}) % {nf}"
    con = duckdb.connect()
    con.execute("CREATE TABLE docs (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", CLS_DOCS)
    con.execute("CREATE TABLE w (tok VARCHAR, weight DOUBLE)")
    con.executemany("INSERT INTO w VALUES (?, ?)", WEIGHTS)
    want = set(
        con.execute(
            f"""
            WITH wb AS (SELECT {bucket_expr} AS bucket, weight FROM w),
            doc_tokens AS (
              SELECT doc_id, t.tok AS tok
              FROM docs LEFT JOIN LATERAL (
                SELECT unnest(list_filter(string_split_regex(text, '\\s+'),
                                          x -> length(x) > 0)) AS tok
              ) t ON TRUE
            ),
            j AS (
              SELECT doc_id, tok,
                     CASE WHEN tok IS NULL THEN NULL
                          ELSE COALESCE(wb.weight, 0.0) END AS wgt
              FROM doc_tokens
              LEFT JOIN wb ON wb.bucket = {bucket_expr}
            )
            SELECT doc_id, CAST(count(tok) AS BIGINT) AS n_tokens,
                   {hround_sql('0.25 + COALESCE(sum(wgt), 0.0)', 6)} AS margin,
                   {hround_sql('1.0 / (1.0 + exp(-(0.25 + COALESCE(sum(wgt), 0.0))))', 6)}
                     AS prob
            FROM j GROUP BY doc_id
            """
        ).fetchall()
    )
    assert got == want
    by_id = {t[0]: t for t in got}
    assert by_id[1][3] > 0.9 and by_id[2][3] < 0.1  # separation
    assert by_id[4][1] == 0  # empty doc kept, scores sigmoid(intercept)


def test_train_quality_classifier_separates(spark):
    good = ["good great content here", "great good writing", "good article great read"]
    bad = ["spam offer spam click", "click spam now", "spam spam buy now"]
    rows = [(i, 1.0, t) for i, t in enumerate(good)] + [
        (10 + i, 0.0, t) for i, t in enumerate(bad)
    ]
    labeled = spark.createDataFrame(rows, ["doc_id", "label", "text"])
    weights, intercept = lm.train_quality_classifier(labeled, n_features=1 << 10)
    held_out = spark.createDataFrame(
        [(100, "good great"), (101, "spam click")], ["doc_id", "text"]
    )
    scored = {
        r.doc_id: r.prob
        for r in lm.classifier_score(
            held_out, weights, intercept=intercept, n_features=1 << 10
        ).collect()
    }
    assert scored[100] > 0.8 and scored[101] < 0.2


PACK_DOCS = [
    (0, 6),
    (2, 5),
    (4, 12),
    (6, 3),
    (1, 4),
    (3, 9),
    (5, 2),
]  # (doc_id, n_tokens); two groups under n_groups=2


def _py_pack(rows, budget, n_groups):
    out = {}
    by_group: dict[int, list] = {}
    for doc_id, nt in sorted(rows):
        by_group.setdefault(doc_id % n_groups, []).append((doc_id, nt))
    for g, docs in by_group.items():
        cum = 0
        for doc_id, nt in docs:
            out[doc_id] = (nt, g, cum // budget, cum % budget)
            cum += nt
    return out


def test_pack_sequences_golden(spark):
    df = spark.createDataFrame(PACK_DOCS, ["doc_id", "n_tokens"])
    got = {
        r.doc_id: (r.n_tokens, r.pack_group, r.pack_id, r.pack_offset)
        for r in lm.pack_sequences(df, budget=8, n_tokens="n_tokens", n_groups=2).collect()
    }
    assert got == _py_pack(PACK_DOCS, 8, 2)
    # partitioning-invariant: same assignment from a repartitioned input
    got2 = {
        r.doc_id: (r.n_tokens, r.pack_group, r.pack_id, r.pack_offset)
        for r in lm.pack_sequences(
            df.repartition(7), budget=8, n_tokens="n_tokens", n_groups=2
        ).collect()
    }
    assert got2 == got


def test_pack_sequences_from_text(spark):
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "d e"), (3, "")], ["doc_id", "text"]
    )
    got = {r.doc_id: r.n_tokens for r in lm.pack_sequences(docs, budget=4).collect()}
    assert got == {1: 3, 2: 2, 3: 0}


def test_pack_sequences_matches_duckdb(spark):
    df = spark.createDataFrame(PACK_DOCS, ["doc_id", "n_tokens"])
    got = {
        tuple(r)
        for r in lm.pack_sequences(df, budget=8, n_tokens="n_tokens", n_groups=2).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, n_tokens BIGINT)")
    con.executemany("INSERT INTO d VALUES (?, ?)", PACK_DOCS)
    want = set(
        con.execute(
            """
            SELECT doc_id, n_tokens, doc_id % 2 AS pack_group,
                   CAST(floor((sum(n_tokens) OVER w - n_tokens) / 8.0) AS BIGINT) AS pack_id,
                   (sum(n_tokens) OVER w - n_tokens) % 8 AS pack_offset
            FROM d
            WINDOW w AS (PARTITION BY doc_id % 2 ORDER BY doc_id
                         ROWS UNBOUNDED PRECEDING)
            """
        ).fetchall()
    )
    assert got == want


MIX_DOCS = [
    (1, "web", "w w w w w w w w"),  # 8 tokens
    (2, "web", "w w w w w w w w"),  # 8 tokens
    (3, "books", "b b b"),  # 3 tokens
    (4, "wiki", "k"),  # 1 token
]


def test_mixture_weights(spark):
    docs = spark.createDataFrame(MIX_DOCS, ["doc_id", "source", "text"])
    nat = {r.group: r for r in lm.mixture_weights(docs, "source", alpha=1.0).collect()}
    assert nat["web"].n_docs == 2 and nat["web"].n_tokens == 16
    assert nat["web"].weight == pytest.approx(16 / 20, abs=1e-6)
    assert sum(r.weight for r in nat.values()) == pytest.approx(1.0, abs=1e-5)
    # alpha=0: uniform over groups regardless of size
    uni = {r.group: r.weight for r in lm.mixture_weights(docs, "source", alpha=0.0).collect()}
    assert all(w == pytest.approx(1 / 3, abs=1e-5) for w in uni.values())
    # alpha<1 moves mass from the big group to the small ones
    tempered = {
        r.group: r.weight for r in lm.mixture_weights(docs, "source", alpha=0.5).collect()
    }
    assert tempered["web"] < nat["web"].weight
    assert tempered["wiki"] > nat["wiki"].weight


def test_sample_to_mixture_deterministic(spark):
    docs = spark.createDataFrame(
        [(i, "web" if i < 80 else "books", "tok " * 5) for i in range(100)],
        ["doc_id", "source", "text"],
    )
    kept1 = sorted(r.doc_id for r in lm.sample_to_mixture(docs, "source", alpha=0.5).collect())
    kept2 = sorted(
        r.doc_id
        for r in lm.sample_to_mixture(docs.repartition(13), "source", alpha=0.5).collect()
    )
    assert kept1 == kept2  # membership is content-hash, not partitioning
    # the upweighted small group keeps everything (keep-rate capped at 1)
    assert all(i in kept1 for i in range(80, 100))
    # the big group sheds rows
    assert sum(1 for i in kept1 if i < 80) < 80
    assert set(lm.sample_to_mixture(docs, "source").columns) == set(docs.columns)


def test_lm_and_classifier_plans_broadcast(spark):
    """Classifier weights broadcast and the corpus side shuffles
    exactly once (the doc_id re-aggregation); the LM scorer is one
    Arrow map."""
    docs = spark.createDataFrame(SCORE, ["doc_id", "text"])
    model = lm.train_char_lm(spark.createDataFrame(TRAIN, ["doc_id", "text"]))
    plan = lm.lm_perplexity(docs, model)._jdf.queryExecution().executedPlan().toString()
    # the LM scorer collects its bounded model: no join, no exchange
    assert "Join" not in plan and "Exchange" not in plan
    cplan = (
        lm.classifier_score(docs, _weights_df(spark, 4096))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in cplan
    assert "SortMergeJoin" not in cplan


def test_perplexity_buckets(spark):
    import random

    rng = random.Random(5)
    fluent = "the cat sat on the mat and the dog sat on the log"
    # three clearly separated fluency tiers -> quantile cuts fall
    # between them (within a tier, perplexities tie)
    rows = (
        [(i, fluent + f" s{i % 7}") for i in range(12)]
        + [(50 + i, fluent[: 10 + i] + " zq vvk " + fluent[:12]) for i in range(12)]
        + [(100 + i, "".join(rng.choice("zqxjvwk ") for _ in range(40))) for i in range(12)]
    )
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    model = lm.train_char_lm(docs.filter("doc_id < 12"))
    got = {r.doc_id: r for r in lm.perplexity_buckets(docs, model).collect()}
    assert len(got) == 36
    # gibberish rows land in the tail; fully-fluent rows in the head
    assert all(got[100 + i].ppl_bucket == "tail" for i in range(12))
    assert all(got[i].ppl_bucket == "head" for i in range(12))
    buckets = {b: sum(1 for r in got.values() if r.ppl_bucket == b)
               for b in ("head", "middle", "tail")}
    assert buckets["tail"] >= 12
    assert buckets["head"] > 0 and buckets["middle"] > 0
    # bucket assignment is a pure function of the corpus, not partitioning
    got2 = {
        r.doc_id: r.ppl_bucket
        for r in lm.perplexity_buckets(docs.repartition(11), model).collect()
    }
    assert got2 == {d: r.ppl_bucket for d, r in got.items()}


def test_classifier_score_inrow_agrees_with_join_form(spark):
    nf = 4096
    docs = spark.createDataFrame(CLS_DOCS, ["doc_id", "text"])
    wmap = {r.bucket: r.weight for r in _weights_df(spark, nf).collect()}
    join_form = {
        tuple(r)
        for r in lm.classifier_score(
            docs, _weights_df(spark, nf), intercept=0.25, n_features=nf
        ).collect()
    }
    inrow = {
        tuple(r)
        for r in lm.classifier_score_inrow(
            docs, wmap, intercept=0.25, n_features=nf
        ).collect()
    }
    assert inrow == join_form
    # empty weights: every doc scores sigmoid(intercept)
    z = {r.doc_id: r.prob for r in lm.classifier_score_inrow(docs, {}, 0.0).collect()}
    assert all(p == 0.5 for p in z.values())


def test_classifier_score_inrow_on_stream(spark, tmp_path):
    from rnadam_spark.streaming.events import run_to_memory

    nf = 4096
    src = str(tmp_path / "cls_stream_src")
    docs = spark.createDataFrame(CLS_DOCS, ["doc_id", "text"])
    docs.write.parquet(src)
    wmap = {r.bucket: r.weight for r in _weights_df(spark, nf).collect()}
    stream = spark.readStream.schema(docs.schema).format("parquet").load(src)
    got = {
        tuple(r)
        for r in run_to_memory(
            lm.classifier_score_inrow(stream, wmap, intercept=0.25, n_features=nf),
            "cls_inrow_stream",
        ).collect()
    }
    want = {
        tuple(r)
        for r in lm.classifier_score_inrow(docs, wmap, intercept=0.25, n_features=nf).collect()
    }
    assert got == want  # stream and batch agree row-for-row


def test_paragraph_perplexity_matches_per_paragraph_docs(spark):
    """Paragraph scoring must equal document scoring applied to each
    paragraph as its own row (the shared-kernel contract), with empty
    segments dropped and indices preserved."""
    docs = [
        (1, "the cat sat on the mat\n\nzqxj vvkw zzz qqq wlrt"),
        (2, "the dog sat on the log\n\n\n\nsecond paragraph here"),
        (3, "single paragraph only"),
        (4, "\n\n"),  # only empty segments: no rows
    ]
    model = lm.train_char_lm(spark.createDataFrame(TRAIN, ["doc_id", "text"]))
    got = {
        (r.doc_id, r.para_idx): (r.n_grams, r.avg_neg_log_prob, r.perplexity)
        for r in lm.paragraph_perplexity(
            spark.createDataFrame(docs, ["doc_id", "text"]), model
        ).collect()
    }
    # expected: every non-empty paragraph, scored standalone
    import re

    expected = {}
    for doc_id, text in docs:
        for idx, para in enumerate(re.split(r"\n{2,}", text)):
            if para.strip():
                expected[(doc_id, idx)] = para
    assert set(got) == set(expected)
    single = spark.createDataFrame(
        [(f"{d}#{i}", p) for (d, i), p in expected.items()], ["doc_id", "text"]
    )
    want = {
        r.doc_id: (r.n_grams, r.avg_neg_log_prob, r.perplexity)
        for r in lm.lm_perplexity(single, model).collect()
    }
    for (d, i), vals in got.items():
        assert vals == want[f"{d}#{i}"], (d, i)
    # the boilerplate paragraph scores worse than the fluent one
    assert got[(1, 1)][2] > got[(1, 0)][2]


def test_paragraph_perplexity_full_duckdb_cross_check(spark):
    """Engine-to-engine re-derivation of the whole paragraph scorer —
    the oracle shape a future gate rotation would register: DuckDB
    splits on the same regex (indices BEFORE the blank filter, so
    gaps match posexplode), rebuilds the char-3-gram model from full
    document text, and reproduces the ln(prefix+V) − ln(gram+1)
    arithmetic per (doc_id, para_idx) at 6dp."""
    import random

    rng = random.Random(83)
    words = ["the", "fox", "ran", "over", "a", "log", "zq", "and", "sat"]
    docs = []
    for i in range(60):
        paras = []
        for _ in range(rng.randrange(1, 5)):
            paras.append(" ".join(rng.choice(words) for _ in range(rng.randrange(0, 9))))
        docs.append((i, "\n\n".join(paras)))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    model = lm.train_char_lm(df, n=3)
    got = sorted(
        (r.doc_id, r.para_idx, r.n_grams, r.avg_neg_log_prob, r.perplexity)
        for r in lm.paragraph_perplexity(df, model, n=3, vocab_size=128).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE pdocs(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO pdocs VALUES (?, ?)", docs)
    sql = rf"""
    WITH sp AS (SELECT doc_id, string_split_regex(text, '\n{{2,}}') AS parts FROM pdocs),
    idx AS (SELECT doc_id, parts, unnest(range(1, len(parts) + 1)) AS i FROM sp),
    paras AS (SELECT doc_id, CAST(i - 1 AS INT) AS para_idx,
                     parts[CAST(i AS INT)] AS para
              FROM idx WHERE length(trim(parts[CAST(i AS INT)])) > 0),
    doc_grams AS (
      SELECT substring(text, CAST(i AS INT), 3) AS gram
      FROM (SELECT text, unnest(range(1, greatest(length(text) - 2, 0) + 1)) AS i
            FROM pdocs)),
    model AS (SELECT gram, CAST(count(*) AS BIGINT) AS gram_cnt
              FROM doc_grams GROUP BY gram),
    prefixes AS (SELECT substring(gram, 1, 2) AS prefix,
                        CAST(sum(gram_cnt) AS BIGINT) AS prefix_cnt
                 FROM model GROUP BY substring(gram, 1, 2)),
    pg AS (
      SELECT doc_id, para_idx, substring(para, CAST(i AS INT), 3) AS gram
      FROM (SELECT doc_id, para_idx, para,
                   unnest(range(1, greatest(length(para) - 2, 0) + 1)) AS i
            FROM paras)),
    scored AS (
      SELECT pg.doc_id, pg.para_idx,
             ln(coalesce(p.prefix_cnt, 0) + 128) - ln(coalesce(m.gram_cnt, 0) + 1) AS nlp
      FROM pg LEFT JOIN model m ON pg.gram = m.gram
      LEFT JOIN prefixes p ON substring(pg.gram, 1, 2) = p.prefix)
    SELECT a.doc_id, a.para_idx,
           CAST(count(s.nlp) AS BIGINT) AS n_grams,
           {hround_sql("coalesce(avg(s.nlp), 0.0)", 6)} AS avg_neg_log_prob,
           {hround_sql("exp(coalesce(avg(s.nlp), 0.0))", 6)} AS perplexity
    FROM paras a LEFT JOIN scored s
      ON a.doc_id = s.doc_id AND a.para_idx = s.para_idx
    GROUP BY a.doc_id, a.para_idx
    """
    want = sorted(map(tuple, con.execute(sql).fetchall()))
    assert got == want and got


def _edge_docs(spark):
    return spark.createDataFrame(
        [
            (900001, None),                       # NULL text
            (900002, ""),                         # empty
            (900003, "ab"),                       # shorter than n=3
            (900004, "abc"),                      # exactly one gram
            (900005, "p1 xx\n\np2 yy\n\n \n\nzz"),  # blank + space-only segments
            (900006, "\n"),                       # F.trim keeps '\n' (space-only trim)
            (900007, "solo paragraph no split"),
        ],
        "doc_id bigint, text string",
    )


def test_lm_perplexity_pandas_twin_value_equal(spark, sf_dir):
    # the Arrow scorer must reproduce the explode+join oracle EXACTLY
    # (same 6dp-rounded values, same rows) on real corpus rows plus
    # null/short/exact-n edges
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    both = docs.union(_edge_docs(spark))
    model = lm.train_char_lm(both.filter("doc_id % 10 = 0"))
    a = {r.doc_id: tuple(r)[1:] for r in _lm_perplexity_hof(both, model).collect()}
    b = {r.doc_id: tuple(r)[1:] for r in lm.lm_perplexity(both, model).collect()}
    model.unpersist()
    assert set(a) == set(b) and len(a) > 500
    for k in a:
        assert a[k] == b[k], (k, a[k], b[k])
    # the contract rows: short/NULL docs keep (0, 0.0, 1.0)
    assert a[900001] == (0, 0.0, 1.0) and a[900003] == (0, 0.0, 1.0)


def test_paragraph_perplexity_pandas_twin_value_equal(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    both = docs.union(_edge_docs(spark))
    model = lm.train_char_lm(both.filter("doc_id % 10 = 0"))
    a = {
        (r.doc_id, r.para_idx): tuple(r)[2:]
        for r in _paragraph_perplexity_hof(both, model).collect()
    }
    b = {
        (r.doc_id, r.para_idx): tuple(r)[2:]
        for r in lm.paragraph_perplexity(both, model).collect()
    }
    model.unpersist()
    assert set(a) == set(b) and len(a) > 500
    for k in a:
        assert a[k] == b[k], (k, a[k], b[k])
    # parity contract: NULL text vanishes; blank segments keep their
    # index but emit no row; the '\n'-only doc survives (space-only trim)
    assert not any(d == 900001 for d, _ in a)
    assert {i for d, i in a if d == 900005} == {0, 1, 3}
    assert (900006, 0) in a


def test_np_char_scorer_bitwise_parity_with_scalar_scorer():
    # r13: the vectorized batch scorer must reproduce _score_chars_py
    # BIT-exactly — dense-table path (pure-ASCII grams), the non-ASCII
    # fallback branch, boundary docs, and the oversized-n scalar path
    import random
    import struct

    random.seed(5)
    alpha = "abcde \n\tXYZ.,!€ñ 中 "
    mk = lambda L: "".join(random.choice(alpha) for _ in range(L))  # noqa: E731
    n, V = 3, 128
    G: dict = {}
    for t in [mk(random.randint(0, 300)) for _ in range(120)]:
        for i in range(len(t) - n + 1):
            G[t[i : i + n]] = G.get(t[i : i + n], 0) + 1
    P: dict = {}
    for g, c in G.items():
        P[g[: n - 1]] = P.get(g[: n - 1], 0) + c
    texts = [mk(random.randint(0, 500)) for _ in range(300)] + [
        "", "a", "ab", "abc", "€€", "€€€€", mk(4000)
    ]
    scorer = lm._NpCharScorer(G, P, n, V)
    assert scorer.VAL is not None
    for t, got in zip(texts, scorer.score_batch(texts)):
        exp = lm._score_chars_py(t, G, P, n, V)
        assert exp[0] == got[0]
        assert struct.pack("d", exp[1]) == struct.pack("d", got[1]), (t[:30], exp, got)
        assert struct.pack("d", exp[2]) == struct.pack("d", got[2])
    # n=4: 128**4 exceeds the dense cap — scalar fallback engages
    s4 = lm._NpCharScorer(G, P, 4, V)
    assert s4.VAL is None
    assert s4.score_batch(texts[:20]) == [
        lm._score_chars_py(t, G, P, 4, V) for t in texts[:20]
    ]
