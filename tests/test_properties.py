"""Property-based tests (hypothesis): invariants that goldens can't
cover — arbitrary text through the curation kernels. Spark jobs are
slow per-example, so each property batches the generated corpus into
ONE DataFrame and asserts row-wise."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from rnadam_spark.operators import text as tx

# text with the characters the curation kernels branch on: newlines,
# digits, punctuation, an email-ish shape, whitespace runs
TEXT = st.text(
    alphabet=st.sampled_from(list("ab .!?\n\t0123456789@-(){}\"")), max_size=200
)
CORPUS = st.lists(TEXT, min_size=1, max_size=8)

import os

PROP_SETTINGS = settings(
    # env-tunable: periodic deep-fuzz sweeps run PROP_MAX_EXAMPLES=100+
    max_examples=int(os.environ.get("PROP_MAX_EXAMPLES", "12")),
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


def _df(spark, texts):
    return spark.createDataFrame(list(enumerate(texts)), "doc_id BIGINT, text STRING")


@given(texts=CORPUS)
@PROP_SETTINGS
def test_chunks_reassemble_and_never_nest(spark, texts):
    max_chars, overlap = 16, 4
    stride = max_chars - overlap
    rows = tx.chunk_documents(_df(spark, texts), max_chars=max_chars, overlap=overlap).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, original in enumerate(texts):
        chunks = [r.chunk_text for r in sorted(by_doc[i], key=lambda r: r.chunk_idx)]
        # reassembly: drop each successor's overlap prefix
        rebuilt = chunks[0] + "".join(c[overlap:] for c in chunks[1:])
        assert rebuilt == original, (original, chunks)
        # every chunk after the first contributes new characters
        for j in range(1, len(chunks)):
            start = j * stride
            assert start + len(chunks[j]) > start + overlap or len(original) == 0
            assert len(chunks[j]) > overlap or j == 0, (original, chunks)


@given(texts=CORPUS)
@PROP_SETTINGS
def test_normalize_idempotent_and_shrinking(spark, texts):
    once = {r.doc_id: r.text for r in tx.normalize_text(_df(spark, texts)).collect()}
    twice = {
        r.doc_id: r.text
        for r in tx.normalize_text(
            _df(spark, [once[i] for i in range(len(texts))])
        ).collect()
    }
    for i, original in enumerate(texts):
        assert len(once[i]) <= len(original)  # rules only ever shrink
        assert twice[i] == once[i], (original, once[i], twice[i])  # fixpoint


@given(texts=CORPUS)
@PROP_SETTINGS
def test_redact_leaves_no_pattern_and_counts_nonnegative(spark, texts):
    import re

    got = {r.doc_id: r for r in tx.redact_pii(_df(spark, texts)).collect()}
    for i, original in enumerate(texts):
        r = got[i]
        assert r.n_redactions >= 0
        if r.n_redactions == 0:
            assert r.text == original
        # after redaction, no EMAIL/IP pattern survives outside the
        # inserted tokens themselves (tokens contain no digits or @)
        stripped = re.sub(r"<(EMAIL|IP|PHONE)>", "", r.text)
        for _name, pat in tx.PII_PATTERNS[:2]:  # EMAIL, IP are closed under rescan
            assert re.search(pat, stripped) is None, (original, r.text)


@given(texts=CORPUS)
@PROP_SETTINGS
def test_c4_clean_kept_lines_are_a_subset(spark, texts):
    got = {r.doc_id: r for r in tx.c4_clean(_df(spark, texts)).collect()}
    for i, original in enumerate(texts):
        r = got[i]
        # engine semantics: trim strips SPACES only (Spark trim ==
        # DuckDB trim), unlike Python str.strip which eats tabs too
        original_lines = [l.strip(" ") for l in original.split("\n") if l.strip(" ")]
        kept = [l for l in r.text.split("\n") if l]
        # kept lines appear in the original, in order (subsequence)
        it = iter(original_lines)
        assert all(any(k == o for o in it) for k in kept), (original_lines, kept)
        assert r.n_lines_kept == len(kept)
        assert r.n_lines_kept + r.n_lines_dropped == len(original_lines)


@given(
    texts=st.lists(
        st.lists(st.sampled_from(list("abcd")), min_size=0, max_size=24).map(" ".join),
        min_size=1,
        max_size=5,
    )
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
def test_span_removal_shrinks_and_converges(spark, texts):
    """One removal pass deletes every CURRENTLY-duplicated window, but
    tokens made adjacent by a cut can form NEW duplicated windows (the
    same property Lee et al.'s single pass has) — so the invariants are
    monotone shrinking and convergence under iteration, not single-pass
    idempotence. A tiny alphabet maximizes accidental collisions."""
    from rnadam_spark.operators.spans import duplicated_spans, remove_duplicated_spans

    L = 3
    cur = [t for t in texts]
    total = sum(len(t.split()) for t in cur)
    for _ in range(total // L + 2):
        df = _df(spark, cur)
        if duplicated_spans(df, min_tokens=L).count() == 0:
            break
        rows = {r.doc_id: r for r in remove_duplicated_spans(df, min_tokens=L).collect()}
        nxt = [rows[i]["text"] for i in range(len(cur))]
        for i in range(len(cur)):
            assert rows[i]["n_tokens_before"] == len(cur[i].split())
            assert rows[i]["n_tokens_removed"] >= 0
        new_total = sum(len(t.split()) for t in nxt)
        assert new_total < total  # every pass with spans strictly shrinks
        cur, total = nxt, new_total
    else:
        raise AssertionError("span removal did not converge")


@given(texts=CORPUS)
@PROP_SETTINGS
def test_extract_main_text_tagfree_passthrough(spark, texts):
    # HTML-free text must survive extraction as its whitespace-collapsed
    # self (min_words=1, stopword gate off): the block classifier only
    # ever DROPS whole blocks, never rewrites characters
    import re

    from rnadam_spark.operators.html import extract_main_text

    # strip the markup-significant chars the generator can emit
    clean = [re.sub(r"[<>&]", "", t) for t in texts]
    df = spark.createDataFrame(list(enumerate(clean)), "doc_id BIGINT, html STRING")
    got = {r.doc_id: r for r in extract_main_text(df, min_words=1).collect()}
    for i, t in enumerate(clean):
        want = re.sub(r"\s+", " ", t).strip()
        assert got[i].main_text == want, (t, got[i].main_text)
        assert got[i].n_blocks == (1 if want else 0)


# URL-ish strings exercising every canonicalization branch: schemes,
# www., ports, fragments, tracking params, query tails
URL = st.builds(
    lambda scheme, www, host, port, path, q, frag: (
        f"{scheme}://{www}{host}{port}{path}{q}{frag}"
    ),
    scheme=st.sampled_from(["http", "https", "HTTP", "Https"]),
    www=st.sampled_from(["", "www."]),
    host=st.sampled_from(["Example.com", "a.b.ORG", "x1.net"]),
    port=st.sampled_from(["", ":80", ":443", ":8080"]),
    path=st.sampled_from(["", "/", "/p/1", "/A/B.html"]),
    q=st.sampled_from(
        ["", "?q=1", "?utm_source=x", "?utm_a=1&utm_b=2&q=3", "?q=1&ref=rss", "?gclid=9&"]
    ),
    frag=st.sampled_from(["", "#", "#sec"]),
)


@given(urls=st.lists(URL, min_size=1, max_size=12))
@PROP_SETTINGS
def test_canonical_url_idempotent(spark, urls):
    """canonical_url is a projection to a fixed point: applying it to
    its own output changes nothing — the property that makes it a
    frontier IDENTITY (re-canonicalizing a stored frontier is a no-op,
    so mixed old/new entries can never split one page in two)."""
    from pyspark.sql import functions as F

    from rnadam_spark.operators.web import canonical_url

    df = spark.createDataFrame([(u,) for u in urls], "url STRING")
    rows = df.select(
        canonical_url("url").alias("once"),
    ).select(F.col("once"), canonical_url("once").alias("twice")).collect()
    for r in rows:
        assert r.once == r.twice, (r.once, r.twice)


@given(
    payloads=st.lists(
        st.binary(min_size=0, max_size=120), min_size=1, max_size=6
    )
)
@PROP_SETTINGS
def test_warc_exact_roundtrips_arbitrary_payloads(spark, payloads, tmp_path_factory):
    """Content-Length framing is byte-exact for ARBITRARY payloads —
    including ones embedding 'WARC/1.0' sentinel lines, blank lines, or
    raw binary — with zero suspect events: the property the sentinel
    tier cannot offer."""
    from rnadam_spark.sources import warc as W

    d = tmp_path_factory.mktemp("warcprop")
    blob = b""
    for i, p in enumerate(payloads):
        hdr = (
            f"WARC/1.0\r\nWARC-Type: resource\r\n"
            f"WARC-Target-URI: http://x/{i}\r\nContent-Length: {len(p)}\r\n\r\n"
        ).encode()
        blob += hdr + p + b"\r\n\r\n"
    (d / "a.warc").write_bytes(blob)
    rows = sorted(
        W.read_warc_exact(spark, str(d)).collect(),
        key=lambda r: r.target_uri or "",
    )
    assert len(rows) == len(payloads)
    assert all(r.n_suspect == 0 for r in rows)
    for i, r in enumerate(sorted(rows, key=lambda r: int(r.target_uri.rsplit("/", 1)[1]))):
        want = payloads[i].decode("utf-8", errors="replace")
        assert r.payload == want, (i, payloads[i])


@given(texts=CORPUS)
@PROP_SETTINGS
def test_c4_clean_idempotent(spark, texts):
    """C4 cleaning is a projection to a fixed point: re-cleaning a
    cleaned page changes nothing (kept lines already satisfy every line
    rule, and a page that survived keeps surviving) — the property that
    makes re-running curation over an already-curated corpus a no-op
    instead of an eroding one."""
    from rnadam_spark.operators import text as tx

    df = tx.c4_clean(_df(spark, texts))
    once = df.filter("keep_doc").select("doc_id", "text")
    twice = tx.c4_clean(once).filter("keep_doc")
    a = {(r.doc_id, r.text) for r in once.collect()}
    b = {(r.doc_id, r.text) for r in twice.collect()}
    assert a == b


EMAILISH = st.text(
    alphabet=st.sampled_from(list("ab @.-_0123456789\n()+")), max_size=120
)


@given(texts=st.lists(EMAILISH, min_size=1, max_size=8))
@PROP_SETTINGS
def test_redaction_idempotent(spark, texts):
    """PII redaction is a fixed point: redacting redacted text is a
    no-op (the replacement tokens must not themselves match any PII
    pattern, or a second pass would mangle them)."""
    from pyspark.sql import functions as F

    from rnadam_spark.operators.text import redaction_columns

    df = _df(spark, texts)
    once_c, _ = redaction_columns(F.col("text"))
    d1 = df.select("doc_id", once_c.alias("text"))
    twice_c, n2 = redaction_columns(F.col("text"))
    rows = d1.select("doc_id", "text", twice_c.alias("t2"), n2.alias("n2")).collect()
    for r in rows:
        assert r.text == r.t2, (r.text, r.t2)
        assert r.n2 == 0, r.text


UNICODEISH = st.text(
    alphabet=st.sampled_from(list("ab ﬁﬂＡ１２ 　é" + "é")), max_size=60
)


@given(texts=st.lists(UNICODEISH, min_size=1, max_size=6))
@PROP_SETTINGS
def test_nfkc_normalize_idempotent(spark, texts):
    """NFKC(NFKC(x)) = NFKC(x) — the Unicode invariant, through the
    Arrow boundary."""
    from rnadam_spark.operators.text import nfkc_normalize

    once = nfkc_normalize(_df(spark, texts)).select("doc_id", "text")
    twice = nfkc_normalize(once)
    rows = twice.collect()
    assert all(r.n_changed == 0 for r in rows), [
        (r.doc_id, r.text) for r in rows if r.n_changed
    ]


@given(texts=CORPUS)
@PROP_SETTINGS
def test_staged_gopher_equals_inline_columns(spark, texts):
    """The staged Gopher projection (materialized prelude) must equal the
    inline gopher_columns projection on arbitrary text — the refactor
    that made the prelude a separate projection must be invisible —
    and so must the Arrow-batched text.gopher_quality."""
    from tests.test_gopher import _gopher_quality_hof

    df = _df(spark, texts)
    staged = _gopher_quality_hof(df).collect()
    cols = tx.gopher_columns("text")
    inline = df.select(
        "doc_id", *[c.alias(name) for name, c in cols.items()]
    ).collect()
    assert sorted(map(tuple, staged)) == sorted(map(tuple, inline))
    arrow = tx.gopher_quality(df).collect()
    assert sorted(map(tuple, arrow)) == sorted(map(tuple, inline))


@given(texts=CORPUS)
@PROP_SETTINGS
def test_staged_lang_equals_inline_columns(spark, texts):
    """lang_scores' staged argmax (materialized per-language ratios)
    must equal the inline lang_columns fold on arbitrary text."""
    from rnadam_spark.functions.rounding import hround

    df = _df(spark, texts)
    staged = tx.lang_scores(df).collect()
    best_lang, best_score = tx.lang_columns("text")
    inline = df.select(
        "doc_id",
        best_lang.alias("predicted_lang"),
        hround(best_score, 6).alias("best_score"),
    ).collect()
    assert sorted(map(tuple, staged)) == sorted(map(tuple, inline))
