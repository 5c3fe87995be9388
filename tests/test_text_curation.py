"""PII redaction, document chunking, vocabulary (operators/text.py) —
the curation steps between raw scrape and training shards."""

from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rnadam_spark.functions.runlength import with_value_counts
from rnadam_spark.functions.shingles import tokens
from rnadam_spark.operators import text


def _vocabulary_hof(
    docs: DataFrame, top_k: int | None = None, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Oracle: the run-length explode + groupBy form that was
    ``text.vocabulary`` before the Arrow Counter pass (1.8x at sf10)
    replaced it. df counts each document once via the per-document
    run-length counts (no count(distinct) expansion)."""
    per_doc = (
        with_value_counts(docs.select(F.col(id_col), F.col(text_col)), tokens(text_col), "kc")
        .select(F.explode("kc").alias("tc"))
        .select(F.col("tc.value").alias("token"), F.col("tc.cnt").alias("tf_doc"))
    )
    vocab = per_doc.groupBy("token").agg(
        F.sum("tf_doc").alias("tf"), F.count("*").cast("bigint").alias("df")
    )
    if top_k is not None:
        return vocab.orderBy(F.col("tf").desc(), "token").limit(top_k)
    return vocab


def test_redact_pii_golden(spark):
    rows = [
        (1, "mail me at jane.doe+x@example.org or call +1 (555) 123-4567."),
        (2, "server 10.0.255.3 responded; no pii here otherwise"),
        (3, "clean text with a number 42 that must survive"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r for r in text.redact_pii(df).collect()}
    assert "<EMAIL>" in got[1].text and "<PHONE>" in got[1].text
    assert "jane" not in got[1].text and "555" not in got[1].text
    assert got[1].n_redactions == 2
    assert got[2].text == "server <IP> responded; no pii here otherwise"
    assert got[2].n_redactions == 1
    assert got[3].text == rows[2][1] and got[3].n_redactions == 0


def test_redact_pii_count_equals_replacements(spark):
    rows = [
        # phone-shaped digit run inside an email: ONE replacement
        # (<EMAIL> swallows it), so the audit count must be 1, not 2
        (1, "reach user123 at a.b-c+d123456789@host.com today"),
        # bare digit runs (IDs, timestamps) are not phones — no separator
        (2, "order 123456789012 at 20260813T120000 stays intact"),
        # a real phone with separators still redacts
        (3, "fax: 555-123-4567 ok"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r for r in text.redact_pii(df).collect()}
    assert got[1].text == "reach user123 at <EMAIL> today"
    assert got[1].n_redactions == 1
    assert got[2].text == rows[1][1] and got[2].n_redactions == 0
    assert got[3].text == "fax: <PHONE> ok" and got[3].n_redactions == 1


def test_redact_pii_partitioning_invariant(spark, sf_dir):
    from rnadam_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    a = {r.doc_id: (r.text, r.n_redactions) for r in text.redact_pii(docs).collect()}
    b = {
        r.doc_id: (r.text, r.n_redactions)
        for r in text.redact_pii(docs.repartition(7)).collect()
    }
    assert a == b and a


def test_chunk_documents_reassembles(spark):
    body = "".join(chr(97 + (i % 26)) for i in range(1000))
    df = spark.createDataFrame([(1, body), (2, "short"), (3, "")], ["doc_id", "text"])
    chunks = text.chunk_documents(df, max_chars=256, overlap=32)
    rows = sorted(chunks.collect(), key=lambda r: (r.doc_id, r.chunk_idx))
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    # stripping the 32-char overlap from every chunk after the first
    # reassembles the original exactly — no gaps, no duplication
    stride = 256 - 32
    rebuilt = by_doc[1][0].chunk_text + "".join(c.chunk_text[32:] for c in by_doc[1][1:])
    assert rebuilt == body
    assert all(c.n_chars <= 256 for c in by_doc[1])
    # consecutive chunks agree on the overlap region
    for prev, nxt in zip(by_doc[1], by_doc[1][1:]):
        assert prev.chunk_text[stride:] == nxt.chunk_text[:32]
    # short and empty docs still appear, as a single chunk
    assert [c.chunk_text for c in by_doc[2]] == ["short"]
    assert [c.chunk_text for c in by_doc[3]] == [""]


def test_chunk_documents_no_redundant_tail(spark):
    # stride = 224; docs whose length lands inside (stride,
    # stride + overlap] used to emit a second chunk fully contained in
    # the first — duplicated training content. Now: exactly 1 chunk.
    df = spark.createDataFrame(
        [
            (1, "x" * 225),  # stride + 1      -> 1 chunk (new char count 1 <= overlap)
            (2, "x" * 256),  # == max_chars    -> 1 chunk
            (3, "x" * 257),  # max_chars + 1   -> 2 chunks (tail adds 1 new char)
        ],
        ["doc_id", "text"],
    )
    chunks = text.chunk_documents(df, max_chars=256, overlap=32)
    n = {r.doc_id: r.n for r in chunks.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    assert n == {1: 1, 2: 1, 3: 2}
    # and in general no chunk is a pure substring of its predecessor:
    # every chunk after the first ends strictly later than the previous
    rows = sorted(
        chunks.filter(F.col("doc_id") == 3).collect(), key=lambda r: r.chunk_idx
    )
    stride = 256 - 32
    ends = [r.chunk_idx * stride + r.n_chars for r in rows]
    assert all(b > a for a, b in zip(ends, ends[1:]))


def test_vocabulary_matches_counter(spark, sf_dir):
    from rnadam_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(200)
    local_tf: Counter = Counter()
    local_df: Counter = Counter()
    for r in docs.collect():
        toks = [t for t in r.text.split() if t]
        local_tf.update(toks)
        local_df.update(set(toks))
    got = {r.token: (r.tf, r.df) for r in text.vocabulary(docs).collect()}
    assert got == {t: (local_tf[t], local_df[t]) for t in local_tf}

    top = text.vocabulary(docs, top_k=10).collect()
    expected_top = sorted(local_tf.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert [(r.token, r.tf) for r in top] == expected_top


def test_vocabulary_plan_shapes(spark, sf_dir):
    # one groupBy shuffle; the per-batch counts combine map-side
    from rnadam_spark.plans import count_shuffles
    from rnadam_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    assert count_shuffles(text.vocabulary(docs)) == 1


def test_fingerprints_matches_python(spark, sf_dir):
    # bottom-4 sketch of 4-shingle poly hashes, cross-checked against a
    # direct Python reimplementation (covers the operator now that its
    # oracle row is retired from the 50-entry gate; the poly-hash kernel
    # itself stays hash-verified via lsh_candidate_pairs' signature CTE)
    from rnadam_spark.functions.hashing import BASE, MOD
    from rnadam_spark.sources.tables import load_table

    def py_hash(s: str) -> int:
        acc = ord(s[0])
        for ch in s[1:]:
            acc = (acc * BASE + ord(ch)) % MOD
        return acc

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(50)
    expected = {}
    for r in docs.collect():
        if len(r.text) < 4:
            continue
        hs = sorted({py_hash(r.text[i : i + 4]) for i in range(len(r.text) - 3)})
        expected[r.doc_id] = "_".join(str(h) for h in hs[:4])
    got = {r.doc_id: r.fingerprint for r in text.fingerprints(docs).collect()}
    assert got == expected and got


def test_contamination_scores_golden(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),      # fully inside benchmark
            (2, "alpha beta epsilon zeta"),     # partial overlap
            (3, "nothing shared here at all"),  # clean
            (4, "too short"),                   # fewer tokens than n
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], ["bench_id", "text"]
    )
    got = {
        r.doc_id: (r.n_grams, r.n_contaminated, r.contamination)
        for r in text.contamination_scores(docs, bench, n=3).collect()
    }
    # doc 1: grams {a b g, b g d} both in bench -> 1.0
    assert got[1] == (2, 2, 1.0)
    # doc 2: grams {a b e, b e z}; bench has neither -> 0.0... but
    # "alpha beta gamma" is a bench gram, doc2's first gram is
    # "alpha beta epsilon" — no hits
    assert got[2] == (2, 0, 0.0)
    assert got[3] == (3, 0, 0.0)
    assert got[4] == (0, 0, 0.0)  # kept, scored zero — never dropped


def test_contamination_broadcast_plan(spark):
    # under the cap the benchmark ships as a broadcast variable: the
    # scoring pass is one Arrow map with no join and no exchange
    docs = spark.createDataFrame([(1, "a b c d e f")], ["doc_id", "text"])
    bench = spark.createDataFrame([(1, "a b c")], ["bench_id", "text"])
    df = text.contamination_scores(docs, bench, n=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan and "Join" not in plan and "Exchange" not in plan


def test_contamination_sortmerge_parity(spark, sf_dir):
    # the over-cap join path must agree with the Arrow path, whose
    # benchmark side is a collected driver set instead of a join. A
    # benchmark past max_bench_grams is too big to collect, so it is too
    # big to force-broadcast as well: the join carries no hint
    from rnadam_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    over = text.contamination_scores(docs, bench, n=13, max_bench_grams=0)
    optimized = over._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" in optimized and "broadcast" not in optimized.lower()
    a = {
        r.doc_id: (r.n_grams, r.n_contaminated, r.contamination)
        for r in over.collect()
    }
    b = {
        r.doc_id: (r.n_grams, r.n_contaminated, r.contamination)
        for r in text.contamination_scores(docs, bench, n=13).collect()
    }
    assert a == b and a


def _c4_docs(spark):
    rows = [
        # clean: 3 qualifying lines
        (1, "This is a perfectly normal sentence.\n"
            "Here is another one with enough words!\n"
            "And a third line that also qualifies?\n"
            "short."),
        # line filter: no terminal punct / too few words / javascript
        (2, "A line without terminal punctuation here\n"
            "Too few words.\n"
            "Please enable JavaScript to view this page.\n"
            "Only this very line survives all three filters.\n"
            "Second surviving line is also long enough.\n"
            "Third surviving line rounds out the document."),
        # doc drops: brace, lorem ipsum, bad word
        (3, "function f() { return 1; }\nMore code here lives on.\nThird line of the page here.\n"),
        (4, "Lorem Ipsum dolor sit amet as placeholder text.\n"
            "Second real-looking line with plenty of words.\n"
            "Third real-looking line with plenty of words."),
        (5, "This text contains badword1 somewhere inside it.\n"
            "Second line is long enough to qualify here.\n"
            "Third line is long enough to qualify here too."),
        # too few kept lines
        (6, "Just one single qualifying line lives right here.\nshort.\n"),
        (7, ""),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_c4_clean_golden(spark):
    got = {r.doc_id: r for r in text.c4_clean(_c4_docs(spark)).collect()}
    assert got[1].keep_doc and got[1].drop_reason is None
    assert got[1].n_lines_kept == 3 and got[1].n_lines_dropped == 1
    assert got[1].text.endswith("qualifies?")
    # doc 2: exactly the three "surviving" lines pass
    assert got[2].n_lines_kept == 3 and got[2].keep_doc
    assert "JavaScript" not in got[2].text and "surviving" in got[2].text
    assert (got[3].drop_reason, got[4].drop_reason, got[5].drop_reason) == (
        "brace", "lorem_ipsum", "bad_word")
    assert not got[3].keep_doc and not got[4].keep_doc and not got[5].keep_doc
    assert got[6].drop_reason == "too_few_lines"
    assert got[7].drop_reason == "too_few_lines" and got[7].text == ""


def test_c4_clean_matches_duckdb(spark):
    import duckdb

    df = _c4_docs(spark)
    got = {
        (r.doc_id, r.text, r.n_lines_kept, r.n_lines_dropped, r.keep_doc, r.drop_reason)
        for r in text.c4_clean(df).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE docs (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", [tuple(r) for r in df.collect()])
    bad = ", ".join(f"'{w}'" for w in text.C4_BAD_WORDS)
    want = set(
        con.execute(
            r"""
            WITH t AS (
              SELECT doc_id, text,
                     list_transform(string_split(text, chr(10)), l -> trim(l)) AS lns
              FROM docs),
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
                   list_aggregate(kept, 'string_agg', chr(10)) AS text2,
                   CAST(len(kept) AS BIGINT) AS n_lines_kept,
                   CAST(n_lines - len(kept) AS BIGINT) AS n_lines_dropped,
                   reason IS NULL AS keep_doc, reason AS drop_reason
            FROM (SELECT *,
                    CASE WHEN contains(text, '{') OR contains(text, '}') THEN 'brace'
                         WHEN contains(lower(text), 'lorem ipsum') THEN 'lorem_ipsum'
                         WHEN len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
                                              w -> w IN (""" + bad + r"""))) > 0 THEN 'bad_word'
                         WHEN len(kept) < 3 THEN 'too_few_lines'
                    END AS reason
                  FROM k)
            """
        ).fetchall()
    )
    want = {(a, ("" if b is None else b), c, d, e, f) for a, b, c, d, e, f in want}
    assert got == want


def test_c4_clean_zero_shuffle_plan(spark):
    plan = (
        text.c4_clean(_c4_docs(spark))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan  # pure projection: runs at scan speed


def test_filter_bad_phrases(spark):
    rows = [
        (1, "The cat sat on the mat."),
        (2, "Concatenate strings carefully."),          # substring, no token match
        (3, "A very bad phrase appears right here."),
        (4, "Nothing objectionable at all."),
        (5, "BAD   phrase, with odd spacing!"),          # normalization still hits
        (6, ""),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    phrases = spark.createDataFrame([("cat",), ("Bad Phrase",), ("",)], ["phrase"])
    kept = sorted(r.doc_id for r in text.filter_bad_phrases(docs, phrases).collect())
    assert kept == [2, 4, 6]
    # empty blocklist keeps everything
    none = spark.createDataFrame([], "phrase string")
    assert text.filter_bad_phrases(docs, none).count() == 6
    # phrase side rides a broadcast; corpus is never hash-shuffled for the semi join
    plan = (
        text.filter_bad_phrases(docs, phrases)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan


def test_excise_paragraphs_rebuilds_in_order(spark):
    from rnadam_spark.operators.text import excise_paragraphs

    docs = spark.createDataFrame(
        [
            (1, "keep one\n\ndrop me\n\nkeep two", "en"),
            (2, "all good here", "de"),
            (3, "only bad", "fr"),
            (4, "\n\n", "xx"),  # no paragraphs at all
        ],
        ["doc_id", "text", "lang"],
    )
    bad = spark.createDataFrame([(1, 1), (3, 0)], ["doc_id", "para_idx"])
    got = {r.doc_id: r for r in excise_paragraphs(docs, bad).collect()}
    assert set(got) == {1, 2, 3, 4}  # no doc vanishes
    assert got[1].text == "keep one\n\nkeep two"
    assert got[1].lang == "en"  # passthrough columns survive
    assert got[2].text == "all good here"
    assert got[3].text == ""  # fully condemned -> empty, not missing
    assert got[4].text == ""
    # composes with the paragraph scorers: drop the worst-perplexity
    # paragraph of doc 1 via the actual scoring table
    from rnadam_spark.operators import lm

    model = lm.train_char_lm(docs.filter("doc_id = 2"))
    scored = lm.paragraph_perplexity(docs, model)
    worst = (
        scored.filter("doc_id = 1")
        .orderBy(scored.perplexity.desc())
        .limit(1)
        .select("doc_id", "para_idx")
    )
    out = {r.doc_id: r.text for r in excise_paragraphs(docs, worst).collect()}
    assert "\n\n" in out[1] or out[1].count("keep") == 2


def test_chunk_documents_matches_retired_oracle(spark):
    # the round-8-retired gate row's DuckDB oracle, kept exercised here
    import duckdb

    from rnadam_spark.queries.pipeline_q import _CHUNK_SQL, chunk_documents

    sf_dir = "/root/testdata/sf0.001"
    got = {tuple(r) for r in chunk_documents(spark, sf_dir).collect()}
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    want = {tuple(r) for r in con.execute(_CHUNK_SQL).fetchall()}
    assert got == want and len(got) > 0


def test_nfkc_normalize_matches_python_and_counts(spark):
    import unicodedata

    from rnadam_spark.operators.text import nfkc_normalize

    rows = [
        (1, "ﬁre ﬂow ＡＢＣ １２３", "en"),          # ligatures + fullwidth
        (2, "café naı̈ve", "en"),        # combining sequences
        (3, "plain ascii text", "en"),              # unchanged
        (4, None, "en"),                            # null passthrough
        (5, " space　wide", "en"),         # nbsp/ideographic space
    ]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING, lang STRING")
    got = {r.doc_id: r for r in nfkc_normalize(df).collect()}
    for doc_id, text, _ in rows:
        want = None if text is None else unicodedata.normalize("NFKC", text)
        assert got[doc_id].text == want
        assert got[doc_id].n_changed == (0 if text in (None, want) else 1)
        assert got[doc_id].lang == "en"  # passthrough column survives
    assert got[3].n_changed == 0 and got[1].n_changed == 1


def test_excise_paragraphs_null_text_doc_survives(spark):
    from rnadam_spark.operators.text import excise_paragraphs

    docs = spark.createDataFrame(
        [(1, None), (2, "keep me\n\ndrop me")], "doc_id BIGINT, text STRING"
    )
    bad = spark.createDataFrame([(2, 1)], "doc_id BIGINT, para_idx INT")
    got = {r.doc_id: r.text for r in excise_paragraphs(docs, bad).collect()}
    assert got == {1: "", 2: "keep me"}


def test_lang_scores_matches_retired_oracle(spark):
    # the round-9-retired gate row's DuckDB oracle, kept exercised here
    # (the predicted_lang kernel stays gate-verified inside
    # curated_documents; this pins the full output incl. best_score)
    import duckdb

    from rnadam_spark.queries.pipeline_q import _LANG_SQL, lang_id_scores

    sf_dir = "/root/testdata/sf0.001"
    got = {tuple(r) for r in lang_id_scores(spark, sf_dir).collect()}
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    want = {tuple(r) for r in con.execute(_LANG_SQL).fetchall()}
    assert got == want and len(got) > 0


def test_vocabulary_matches_retired_oracle(spark):
    # the round-10-retired gate row's DuckDB oracle (tf AND df), kept
    # exercised here; the tf kernel stays gate-verified inside
    # vocabulary_shift's per-snapshot CTEs
    import duckdb

    from rnadam_spark.queries.pipeline_q import _VOCAB_SQL, vocabulary

    sf_dir = "/root/testdata/sf0.001"
    got = {tuple(r) for r in vocabulary(spark, sf_dir).collect()}
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    want = {tuple(r) for r in con.execute(_VOCAB_SQL).fetchall()}
    assert got == want and len(got) > 0


def test_contamination_pandas_twin_value_equal(spark, sf_dir):
    """The Arrow driver-set path must reproduce the join path (the
    form past ``max_bench_grams``) EXACTLY on real corpus rows plus
    null/short/exact-13-token/contaminated edges, and keep a string
    id's type."""
    from rnadam_spark.operators.text import contamination_scores

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    thirteen = "a b c d e f g h i j k l m"
    edge = spark.createDataFrame(
        [
            (300001, None),
            (300002, ""),
            (300003, "too short for thirteen grams"),
            (300004, thirteen),                      # exactly one gram
            (300005, thirteen + " " + thirteen),     # repeated grams collapse
        ],
        "doc_id bigint, text string",
    )
    both = docs.union(edge)
    bench = both.filter("doc_id % 20 = 0 or doc_id = 300004")
    a = {
        r.doc_id: tuple(r)[1:]
        for r in contamination_scores(both, bench, max_bench_grams=0).collect()
    }
    b = {r.doc_id: tuple(r)[1:] for r in contamination_scores(both, bench).collect()}
    assert set(a) == set(b) and len(a) > 500
    for k in a:
        assert a[k] == b[k], (k, a[k], b[k])
    # the planted benchmark doc is fully contaminated on both sides
    assert a[300004][2] == 1.0
    keyed = both.select(F.concat(F.lit("d"), F.col("doc_id")).alias("doc_id"), "text")
    got = {r.doc_id: tuple(r)[1:] for r in contamination_scores(keyed, bench).collect()}
    assert got == {f"d{k}": v for k, v in a.items()}


def test_vocabulary_pandas_twin_value_equal(spark, sf_dir):
    # all-integer counts, so the pin against the run-length oracle is
    # exact equality on real corpus rows plus null/empty/whitespace edges
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    edge = spark.createDataFrame(
        [
            (900001, None),
            (900002, ""),
            (900003, " \t\n "),
            (900004, "zzdup zzdup zzdup zzonce"),
        ],
        "doc_id bigint, text string",
    )
    both = docs.union(edge)
    a = {r.token: (r.tf, r.df) for r in _vocabulary_hof(both).collect()}
    b = {r.token: (r.tf, r.df) for r in text.vocabulary(both).collect()}
    # the driver corpus's synthetic vocabulary is ~32 tokens; the edge
    # rows add 2 more
    assert a == b and len(a) > 30
    assert a["zzdup"] == (3, 1) and a["zzonce"] == (1, 1)


def test_curation_scores_pandas_twin_value_equal(spark, sf_dir):
    # the fused Arrow kernel behind curated_documents must equal
    # quality_scores ⋈ lang_scores exactly — including the NULL-text
    # corners (least() skips nulls -> quality 0.4; the argmax never
    # improves past its 'de' initial) and empty/whitespace/tie rows
    from rnadam_spark.operators.text import (
        curation_scores,
        lang_scores,
        quality_scores,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    edge = spark.createDataFrame(
        [
            (900001, None),
            (900002, ""),
            (900003, " \t "),
            (900004, "the a of and is to in"),          # en, stop-heavy
            (900005, "der die und ist das xyz 123!!"),  # de + digits/punct
            (900006, "el la de y es le et est les"),    # es/fr tie material
        ],
        "doc_id bigint, text string",
    )
    both = docs.union(edge)
    q = {r.doc_id: r.quality for r in quality_scores(both).collect()}
    lg = {r.doc_id: r.predicted_lang for r in lang_scores(both).collect()}
    fused = {r.doc_id: (r.quality, r.predicted_lang)
             for r in curation_scores(both).collect()}
    assert set(fused) == set(q) and len(fused) > 500
    for k, (qv, lv) in fused.items():
        assert qv == q[k] and lv == lg[k], (k, (qv, lv), (q[k], lg[k]))
    assert fused[900001] == (0.4, "de")


def test_quality_scores_pandas_kernel_matches_jvm(spark):
    """r13: the Arrow quality kernel must equal the staged-HOF JVM form
    it replaced (tokens staged once, then :func:`quality_columns`) on
    every column — ratios at 6dp, the quality chain's
    least() clamps, and the NULL-text corner (NULL ratios, quality
    0.4)."""
    from rnadam_spark.functions.shingles import tokens
    from rnadam_spark.operators.text import quality_columns, quality_scores

    rows = [
        (0, "the quick brown fox, it jumped! 123 over 45 dogs."),
        (1, "all punctuation!!! ??? ;;; ...,,,"),
        (2, "1234567890 0987654321"),
        (3, None),
        (4, ""),
        (5, "the and of to in a is it"),
        (6, "wörds with ünïcode and the stopword the"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    cols = quality_columns("text", toks=F.col("__qt"))
    jvm = docs.select("doc_id", "text", tokens("text").alias("__qt")).select(
        "doc_id", *[c.alias(name) for name, c in cols.items()]
    )
    pnd = quality_scores(docs)
    assert jvm.columns == pnd.columns
    assert jvm.exceptAll(pnd).count() == 0 and pnd.exceptAll(jvm).count() == 0
