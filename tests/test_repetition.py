"""Gopher-style repetition stats, C4-style global line dedup, and text
normalization (operators/repetition.py, operators/text.py)."""

from __future__ import annotations

import math
import random
import re
from collections import Counter

import duckdb
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rnadam_spark.functions.rounding import hround
from rnadam_spark.functions.runlength import let_, value_counts
from rnadam_spark.functions.shingles import ngrams_of, tokens
from rnadam_spark.operators import repetition, text


def _lines_of(col: Column | str) -> Column:
    """Trimmed, non-empty lines of a text column as a string array."""
    c = F.col(col) if isinstance(col, str) else col
    # the explicit lambda matters: passing F.trim itself would let
    # transform() feed the element INDEX as trim's second (trimStr)
    # parameter — index 1 would strip '1' characters instead of
    # whitespace (observed; pinned by the padded-lines test)
    return F.filter(
        F.transform(F.split(c, "\n"), lambda t: F.trim(t)), lambda t: F.length(t) > 0
    )


def _repetition_stats_hof(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Oracle: the staged higher-order-function form of
    ``repetition.repetition_stats`` (the production form is the Arrow
    pass, 5.3x faster at sf10). (doc_id, n_lines, dup_line_frac,
    dup_line_char_frac, top_2gram_char_frac, top_3gram_char_frac,
    dup_5gram_char_frac), one shuffle-free projection.

    - ``dup_line_frac``: fraction of line occurrences whose text occurs
      >= 2 times within the document.
    - ``dup_line_char_frac``: character-mass version of the same.
    - ``top_{2,3}gram_char_frac``: occurrences x length of the most
      common word n-gram over the document's character count (ties
      broken toward the lexicographically-largest gram, so both engines
      pick the same one).
    - ``dup_5gram_char_frac``: duplicated-5-gram character mass over
      all-5-gram character mass.

    Every stat is a function of ONE row, so the whole operator
    distributes with the scan; each value-counts is an O(n log n)
    per-row sort of a small array (runlength.py kernel).

    Staged in three chained projections (tokens+lines, then the
    value-counts arrays, then the stats) so the tokenizer and each
    O(n log n) value-counts sort run ONCE per row instead of once per
    inline reference — higher-order expressions evaluate interpreted,
    outside codegen subexpression elimination, so the fused form
    re-sorted the 5-gram array for every stat that mentioned it (see
    text.gopher_prelude; 3.3x on the gate row at sf10)."""
    text = F.col(text_col)
    n_chars = F.greatest(F.length(text), F.lit(1)).cast("double")

    staged = docs.select(
        F.col(id_col),
        F.length(text).alias("__nc"),
        tokens(text).alias("__toks"),
        _lines_of(text).alias("__lns"),
    )
    n_chars = F.greatest(F.col("__nc"), F.lit(1)).cast("double")
    counted = staged.select(
        F.col(id_col),
        F.col("__nc"),
        F.size(F.col("__lns")).cast("bigint").alias("n_lines"),
        value_counts(F.col("__lns")).alias("__vc_l"),
        value_counts(ngrams_of(F.col("__toks"), 2)).alias("__vc2"),
        value_counts(ngrams_of(F.col("__toks"), 3)).alias("__vc3"),
        value_counts(ngrams_of(F.col("__toks"), 5)).alias("__vc5"),
    )

    def top_frac(vc: Column) -> Column:
        return let_(
            F.array_max(
                F.transform(
                    vc,
                    lambda x: F.struct(x["cnt"].alias("cnt"), x["value"].alias("value")),
                )
            ),
            lambda top: F.when(top.isNull(), F.lit(0.0)).otherwise(
                top["cnt"].cast("double") * F.length(top["value"]).cast("double") / n_chars
            ),
        )

    dup_line_frac = F.aggregate(
        F.filter(F.col("__vc_l"), lambda x: x["cnt"] >= 2),
        F.lit(0.0),
        lambda a, x: a + x["cnt"].cast("double"),
    ) / F.greatest(F.col("n_lines").cast("double"), F.lit(1.0))
    return counted.select(
        F.col(id_col),
        F.col("n_lines"),
        hround(dup_line_frac, 6).alias("dup_line_frac"),
        hround(repetition._dup_mass_frac(F.col("__vc_l")), 6).alias("dup_line_char_frac"),
        hround(top_frac(F.col("__vc2")), 6).alias("top_2gram_char_frac"),
        hround(top_frac(F.col("__vc3")), 6).alias("top_3gram_char_frac"),
        hround(repetition._dup_mass_frac(F.col("__vc5")), 6).alias("dup_5gram_char_frac"),
    )


def _hr(x: float) -> float:
    return math.floor(x * 1e6 + 0.5) / 1e6


def _py_repetition(body: str) -> dict:
    """Pure-python reference for repetition_stats' pinned definitions."""
    lines = [ln.strip() for ln in body.split("\n")]
    lines = [ln for ln in lines if ln]
    lc = Counter(lines)

    def mass(items) -> float:
        return float(sum(c * len(v) for v, c in items))

    def dup_mass_frac(cnt: Counter) -> float:
        dup = mass((v, c) for v, c in cnt.items() if c >= 2)
        return dup / max(mass(cnt.items()), 1.0)

    toks = [t for t in re.split(r"\s+", body) if t]

    def ngrams(n: int) -> Counter:
        return Counter(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1))

    n_chars = max(len(body), 1)

    def top_frac(n: int) -> float:
        g = ngrams(n)
        if not g:
            return 0.0
        c, v = max((c, v) for v, c in g.items())
        return c * len(v) / n_chars

    return {
        "n_lines": len(lines),
        "dup_line_frac": _hr(sum(c for c in lc.values() if c >= 2) / max(len(lines), 1)),
        "dup_line_char_frac": _hr(dup_mass_frac(lc)),
        "top_2gram_char_frac": _hr(top_frac(2)),
        "top_3gram_char_frac": _hr(top_frac(3)),
        "dup_5gram_char_frac": _hr(dup_mass_frac(ngrams(5))),
    }


def test_repetition_stats_matches_python_reference(spark):
    rows = [
        (1, "spam spam spam spam spam spam ham"),
        (2, "boiler line\nboiler line\nfresh content here\nboiler line"),
        (3, "a b c d e f g a b c d e f g a b c d e f g"),
        (4, ""),
        (5, "one line only"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r.asDict() for r in repetition.repetition_stats(df).collect()}
    for doc_id, body in rows:
        want = _py_repetition(body)
        have = {k: got[doc_id][k] for k in want}
        assert have == want, f"doc {doc_id}: {have} != {want}"


def test_repetition_stats_padded_lines(spark):
    # lines with edge whitespace and digit-edged content: regression for
    # transform(F.trim) binding the element index as the trimStr arg
    # (index 1 stripped '1' chars instead of whitespace)
    rows = [
        (1, "  padded line  \npadded line\n  padded line  "),
        (2, "7 ends in seven 7\n  7 ends in seven 7  \nother"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r.asDict() for r in repetition.repetition_stats(df).collect()}
    for doc_id, body in rows:
        want = _py_repetition(body)
        have = {k: got[doc_id][k] for k in want}
        assert have == want, f"doc {doc_id}: {have} != {want}"
    # all three whitespace variants of "padded line" are one dup group
    assert got[1]["dup_line_frac"] == 1.0
    assert got[2]["dup_line_frac"] == _hr(2 / 3)


def test_repetition_stats_partitioning_invariant(spark, sf_dir):
    from rnadam_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    a = {r.doc_id: r.asDict() for r in repetition.repetition_stats(docs).collect()}
    b = {
        r.doc_id: r.asDict()
        for r in repetition.repetition_stats(docs.repartition(7)).collect()
    }
    assert a == b and a
    # every fraction bounded; single-line corpus reports n_lines == 1
    for v in a.values():
        for k in ("dup_line_frac", "dup_line_char_frac", "top_2gram_char_frac",
                  "top_3gram_char_frac", "dup_5gram_char_frac"):
            assert 0.0 <= v[k] <= 1.0
    # the word-soup corpus repeats bigrams: the top-2-gram stat registers
    assert any(v["top_2gram_char_frac"] > 0 for v in a.values())


def test_dedup_lines_golden(spark):
    rows = [
        (1, "alpha beta gamma\nshort\nrepeated boilerplate line\nunique to doc one"),
        (2, "repeated boilerplate line\nshort\nanother unique line two"),
        (3, "repeated boilerplate line"),
        (4, "same-doc duplicate\nsame-doc duplicate"),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r for r in repetition.dedup_lines(df).collect()}
    assert got[1].text == rows[0][1]  # first occurrences: everything kept
    assert (got[1].n_lines_kept, got[1].n_lines_dropped) == (4, 0)
    # the boilerplate line's winner is (1, 2); "short" is below the
    # participation floor and always kept
    assert got[2].text == "short\nanother unique line two"
    assert (got[2].n_lines_kept, got[2].n_lines_dropped) == (2, 1)
    assert got[3].text == "" and (got[3].n_lines_kept, got[3].n_lines_dropped) == (0, 1)
    assert got[4].text == "same-doc duplicate"
    assert (got[4].n_lines_kept, got[4].n_lines_dropped) == (1, 1)
    assert got[5].text == "" and (got[5].n_lines_kept, got[5].n_lines_dropped) == (1, 0)


def test_dedup_lines_matches_duckdb_window_form(spark):
    """Adversarial cross-engine check on a random multiline corpus: the
    Spark aggregate-then-join formulation must agree line-for-line with
    the independent row_number() window formulation in DuckDB."""
    rng = random.Random(7)
    pool = [f"shared boilerplate line number {i}" for i in range(12)] + ["tiny", "", "  "]
    rows = []
    for d in range(60):
        n = rng.randint(0, 6)
        body = "\n".join(
            rng.choice(pool) if rng.random() < 0.6 else f"unique {d}-{j} content line"
            for j in range(n)
        )
        rows.append((d, body))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: (r.text, r.n_lines_kept, r.n_lines_dropped)
        for r in repetition.dedup_lines(df, min_line_chars=8).collect()
    }

    con = duckdb.connect()
    con.execute("CREATE TABLE docs (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(
            """
            WITH lines AS (
              SELECT doc_id, CAST(i - 1 AS BIGINT) AS line_no,
                     list_extract(string_split(text, chr(10)), CAST(i AS INT)) AS line
              FROM (SELECT doc_id, text,
                           unnest(range(1, len(string_split(text, chr(10))) + 1)) AS i
                    FROM docs)),
            marked AS (
              SELECT doc_id, line_no, line,
                     (length(trim(line)) < 8
                      OR row_number() OVER (PARTITION BY line ORDER BY doc_id, line_no) = 1)
                       AS keep
              FROM lines)
            SELECT doc_id,
                   coalesce(string_agg(CASE WHEN keep THEN line END, chr(10)
                                       ORDER BY line_no), '') AS text,
                   CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                   CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
            FROM marked GROUP BY doc_id
            """
        ).fetchall()
    }
    assert got == want and len(got) == 60


def test_dedup_lines_partitioning_invariant(spark):
    rows = [(d, "\n".join(f"line {j % 3} of cluster {d % 4}" for j in range(5))) for d in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    a = {r.doc_id: r for r in repetition.dedup_lines(df).collect()}
    b = {r.doc_id: r for r in repetition.dedup_lines(df.repartition(11)).collect()}
    assert {k: (v.text, v.n_lines_kept) for k, v in a.items()} == {
        k: (v.text, v.n_lines_kept) for k, v in b.items()
    }


def test_normalize_text_golden(spark):
    rows = [
        (1, "  hello\t\tworld \r\n\r\nline2  \n\n\n\nline3\x07end  "),
        (2, "already clean"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r for r in text.normalize_text(df).collect()}
    assert got[1].text == "hello world\n\nline2\n\nline3end"
    assert got[1].n_chars_before == len(rows[0][1])
    assert got[1].n_chars_after == len(got[1].text)
    assert got[2].text == "already clean" and got[2].n_chars_before == got[2].n_chars_after
    assert got[3].text == "" and got[3].n_chars_after == 0


def test_normalize_text_idempotent_and_dedup_friendly(spark):
    # two docs differing only in whitespace/line endings normalize equal,
    # and normalizing twice is a fixed point
    rows = [(1, "A  B\r\nC \n"), (2, "A B\nC"), (3, "A\tB \r\nC\n\n")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    once = text.normalize_text(df)
    texts = {r.doc_id: r.text for r in once.collect()}
    assert texts[1] == texts[2] == texts[3] == "A B\nC"
    twice = text.normalize_text(once.select("doc_id", "text"))
    assert {r.doc_id: r.text for r in twice.collect()} == texts


def test_dedup_paragraphs_granularity(spark):
    from rnadam_spark.operators.repetition import dedup_lines

    boiler = "Subscribe to our newsletter today\nfor the latest updates"
    rows = [
        (1, f"Unique intro paragraph one here.\n\n{boiler}\n\nUnique closing one."),
        (2, f"Different intro paragraph two.\n\n{boiler}\n\nDifferent closing two."),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: r
        for r in dedup_lines(
            docs, split_pattern=r"\n{2,}", join_sep="\n\n"
        ).collect()
    }
    # the repeated two-LINE paragraph survives once as a unit (line-level
    # dedup would have split it); doc 1 keeps it, doc 2 loses it
    assert boiler in got[1].text
    assert boiler not in got[2].text
    assert got[1].n_lines_kept == 3 and got[2].n_lines_dropped == 1
    # intra-paragraph newline is preserved in the kept copy
    assert "today\nfor" in got[1].text


def test_char_entropy_matches_python(spark):
    import math
    from collections import Counter

    from rnadam_spark.operators.text import char_entropy

    rows = [
        (1, "aaaaaaaaaa"),                # zero entropy
        (2, "abababab"),                  # exactly 1 bit
        (3, "the quick brown fox!"),
        (4, ""),
    ]
    got = {
        r.doc_id: (r.n_chars, r.entropy_bits)
        for r in char_entropy(spark.createDataFrame(rows, ["doc_id", "text"])).collect()
    }
    for doc_id, text in rows:
        c = Counter(text)
        n = len(text)
        ent = -sum((v / n) * math.log2(v / n) for v in c.values()) if n else 0.0
        want = math.floor(ent * 1e6 + 0.5) / 1e6
        assert got[doc_id] == (n, want), (doc_id, got[doc_id], want)
    assert got[1][1] == 0.0 and got[2][1] == 1.0


def test_compression_signals_flag_templated_text(spark):
    import zlib

    from rnadam_spark.operators.repetition import compression_signals

    template = "click here to win a prize now! " * 40
    prose = ("the committee reviewed seventeen distinct proposals before "
             "selecting a winner whose design balanced cost and novelty")
    rows = [(1, template), (2, prose), (3, "")]
    got = {
        r.doc_id: r
        for r in compression_signals(spark.createDataFrame(rows, ["doc_id", "text"])).collect()
    }
    for doc_id, text in rows:
        b = text.encode()
        assert got[doc_id].n_bytes == len(b)
        assert got[doc_id].n_compressed == len(zlib.compress(b, 6))
    # templated text compresses far better than prose
    assert got[1].compression_ratio < 0.2 < got[2].compression_ratio
    assert got[3].n_bytes == 0  # empty doc keeps its audit row


def test_dedup_lines_null_text_doc_survives(spark):
    # contract: a curation op must never silently drop a document row —
    # NULL text behaves as the empty page (kept, empty output text)
    from rnadam_spark.operators.repetition import dedup_lines

    docs = spark.createDataFrame(
        [(1, "a boilerplate line here\nunique one"),
         (2, None),
         (3, "a boilerplate line here\nunique two")],
        "doc_id BIGINT, text STRING",
    )
    got = {r.doc_id: r for r in dedup_lines(docs).collect()}
    assert set(got) == {1, 2, 3}
    assert got[2].text == "" and got[2].n_lines_kept == 1
    assert "boilerplate" in got[1].text and "boilerplate" not in got[3].text


def test_boilerplate_ngrams_matches_retired_oracle(spark):
    # the round-9-retired gate row's DuckDB oracle, kept exercised here
    # (the rotation discipline: retired rows keep their cross-check)
    import duckdb

    from rnadam_spark.queries.pipeline_q import _BOILER_SQL, boilerplate_3grams

    sf_dir = "/root/testdata/sf0.001"
    got = {tuple(r) for r in boilerplate_3grams(spark, sf_dir).collect()}
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    want = {tuple(r) for r in con.execute(_BOILER_SQL).fetchall()}
    assert got == want and len(got) > 0


def test_pyref_repetition_matches_duckdb():
    """The python Counter reference that carries repetition_stats'
    sf100 assurance must equal the registered DuckDB oracle at gate
    scale — the same pin discipline as the k-mer and text references."""
    import duckdb

    from rnadam_spark.queries.pipeline_q import _REPETITION_SQL
    from tools.pyref_repetition_oracle import expected

    sf_dir = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    want = {tuple(r) for r in con.execute(_REPETITION_SQL).fetchall()}
    got = expected(sf_dir)
    assert got == want and len(got) > 0


def test_repetition_stats_pandas_twin_value_equal(spark, sf_dir):
    """The Arrow-batched repetition_stats must reproduce the HOF oracle
    EXACTLY — same 6dp values, same null shape — on real corpus rows
    plus the edge shapes (null text, empty text, whitespace-only,
    repeated lines, a dominant n-gram), and keep a string id's type."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    edge = spark.createDataFrame(
        [
            (100001, None),
            (100002, ""),
            (100003, "   "),
            (100004, "same line\nsame line\nother\n\n  same line  "),
            (100005, "a b a b a b a b a b a b"),
            (100006, "one\ttwo\tthree four five one two three four five"),
        ],
        "doc_id bigint, text string",
    )
    both = docs.union(edge)
    a = {r.doc_id: tuple(r)[1:] for r in _repetition_stats_hof(both).collect()}
    b = {r.doc_id: tuple(r)[1:] for r in repetition.repetition_stats(both).collect()}
    assert set(a) == set(b) and len(a) > 500
    for k in a:
        assert a[k] == b[k], (k, a[k], b[k])
    keyed = both.select(F.concat(F.lit("d"), F.col("doc_id")).alias("doc_id"), "text")
    got = {r.doc_id: tuple(r)[1:] for r in repetition.repetition_stats(keyed).collect()}
    assert got == {f"d{k}": v for k, v in a.items()}
