"""Text analysis operators: token stats, quality scoring, language-ID
heuristic, document fingerprinting (SURVEY.md §2.7 north star —
generalizations of the reference's k-mer shingling P2).

All pure column expressions (codegen, shuffle-free per-row) — at 100 TB
these run at scan speed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rnadam_spark.functions.hashing import poly_hash_col
from rnadam_spark.functions.rounding import hround
from rnadam_spark.functions.shingles import char_shingles, token_ngrams, tokens

# tiny built-in stopword lists for the language-ID heuristic; real
# pipelines would load per-language frequency tables
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "und", "ist", "das"),
    "es": ("el", "la", "de", "y", "es"),
    "fr": ("le", "la", "et", "est", "les"),
}

STOPWORDS = ("the", "a", "of", "and", "is", "to", "in")


def token_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, n_tokens, n_distinct_tokens, avg_token_len)."""
    toks = tokens(text_col)
    total_len = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return docs.select(
        F.col(id_col),
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct_tokens"),
        hround(total_len.cast("double") / F.size(toks), 6).alias("avg_token_len"),
    )


# GPT-2-style pre-tokenizer pattern: contractions, space-prefixed
# letter/number runs, punctuation runs, whitespace fallback. Both Java
# regex (Spark) and RE2 (DuckDB) support \p{L}/\p{N} with leftmost-first
# alternation, so the two engines tokenize identically.
BPE_PATTERN = r"'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_token_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, n_bpe_tokens, bytes_per_token): token counting with a
    BPE-ish pre-tokenizer regex (the training-data budgeting stat —
    whitespace tokens don't count; a real tokenizer would split the
    pre-tokens further, so this is a stable lower bound). One
    projection, scan-speed."""
    toks = F.regexp_extract_all(F.col(text_col), F.lit(BPE_PATTERN), 0)
    n_bpe = F.size(F.filter(toks, lambda t: ~t.rlike(r"^\s+$")))
    return docs.select(
        F.col(id_col),
        n_bpe.cast("bigint").alias("n_bpe_tokens"),
        hround(
            F.length(text_col).cast("double") / F.greatest(n_bpe, F.lit(1)).cast("double"), 6
        ).alias("bytes_per_token"),
    )


def _ratio(matched: Column, total: Column) -> Column:
    return matched.cast("double") / F.greatest(total, F.lit(1)).cast("double")


def quality_columns(
    text_col: str | Column = "text", toks: Column | None = None
) -> dict[str, Column]:
    """The quality-heuristic expressions as named Columns — the
    building blocks of :func:`quality_scores`, exposed so fused
    single-projection pipelines (the join-free streaming curate chain)
    can inline them next to other stages' columns. ``toks``: a
    materialized token-array column to read instead of re-tokenizing
    per reference (same staging trade as :func:`gopher_prelude`)."""
    text = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = tokens(text) if toks is None else toks
    n_tok = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: F.lower(t).isin(*STOPWORDS)))
    n_chars = F.length(text)
    n_punct = n_chars - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    n_digit = n_chars - F.length(F.regexp_replace(text, r"[0-9]", ""))
    stopword_ratio = _ratio(n_stop, n_tok)
    punct_ratio = _ratio(n_punct, n_chars)
    digit_ratio = _ratio(n_digit, n_chars)
    quality = (
        F.lit(1.0)
        - F.least(punct_ratio * 2, F.lit(0.5))
        - F.least(digit_ratio * 2, F.lit(0.3))
        + F.least(stopword_ratio, F.lit(0.2))
    )
    return {
        "stopword_ratio": hround(stopword_ratio, 6),
        "punct_ratio": hround(punct_ratio, 6),
        "digit_ratio": hround(digit_ratio, 6),
        "quality": hround(quality, 6),
    }


def quality_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, stopword_ratio, punct_ratio, digit_ratio, quality):
    length/punct/stopword heuristics — the standard pre-training
    quality filters.

    One Arrow pass with the ``curation_scores_pandas`` parity kit
    (Java's ASCII ``\\w``/``\\s`` classes via ``re.ASCII``, each ratio
    one IEEE division, the NULL-text corner → NULL ratios + quality 0.4
    exactly as least() skips nulls) — 3.6 vs 4.8s at sf10 against the
    staged :func:`quality_columns` form (OPTIMIZATION_r13.md), which
    tests/test_text_curation.py keeps as its parity oracle."""
    stop = set(STOPWORDS)
    id_type = dict(docs.dtypes)[id_col]
    schema = (
        f"{id_col} {id_type}, stopword_ratio double, punct_ratio double, "
        "digit_ratio double, quality double"
    )

    def batches(it):
        import math
        import re

        import pandas as pd

        ws = re.compile("[ \t\n\x0b\f\r]+")
        nonword = re.compile(r"[^\w\s]", re.ASCII)
        digits = re.compile(r"[0-9]")

        def r6(x: float) -> float:
            return math.floor(x * 1e6 + 0.5) / 1e6

        for pdf in it:
            rows: dict[str, list] = {
                id_col: [],
                "stopword_ratio": [],
                "punct_ratio": [],
                "digit_ratio": [],
                "quality": [],
            }
            for did, textv in zip(pdf[id_col], pdf[text_col]):
                rows[id_col].append(did)
                if textv is None:
                    # size(null)=NULL propagates through every ratio;
                    # least() then skips the NULL operands: 0.4
                    rows["stopword_ratio"].append(None)
                    rows["punct_ratio"].append(None)
                    rows["digit_ratio"].append(None)
                    rows["quality"].append(0.4)
                    continue
                toks = [w for w in ws.split(textv) if w]
                n_tok = len(toks)
                n_chars = len(textv)
                sr = sum(1 for t in toks if t.lower() in stop) / max(n_tok, 1)
                pr = (n_chars - len(nonword.sub("", textv))) / max(n_chars, 1)
                dr = (n_chars - len(digits.sub("", textv))) / max(n_chars, 1)
                q = 1.0 - min(pr * 2, 0.5) - min(dr * 2, 0.3) + min(sr, 0.2)
                rows["stopword_ratio"].append(r6(sr))
                rows["punct_ratio"].append(r6(pr))
                rows["digit_ratio"].append(r6(dr))
                rows["quality"].append(r6(q))
            yield pd.DataFrame(rows)

    return docs.select(id_col, text_col).mapInPandas(batches, schema)


def lang_marker_scores(toks: Column) -> dict[str, Column]:
    """Per-language marker-token hit ratio over a token array — one
    named Column per language, for materializing before the argmax."""
    n_tok = F.greatest(F.size(toks), F.lit(1))
    return {
        lang: F.size(F.filter(toks, lambda t: F.lower(t).isin(*markers))).cast("double")
        / n_tok
        for lang, markers in sorted(LANG_MARKERS.items())
    }


def lang_argmax(scores: dict[str, Column]) -> tuple[Column, Column]:
    """(predicted_lang, best_score): argmax with deterministic tiebreak
    (language code order). The when-fold nests each accumulated score
    inside the next comparison — every fold level DUPLICATES the prior
    subtree — so the score expressions passed in must be cheap
    (materialized column references), never the marker filters inline:
    with the filters inlined the 4-language fold held ~20 copies of the
    tokenizer per row, all interpreted outside codegen's subexpression
    elimination (see :func:`gopher_prelude` for the same effect)."""
    items = sorted(scores.items())
    best_lang, best_score = F.lit(items[0][0]), items[0][1]
    for lang, s in items[1:]:
        improved = s > best_score
        best_lang = F.when(improved, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(improved, s).otherwise(best_score)
    return best_lang, best_score


def lang_columns(text_col: str | Column = "text") -> tuple[Column, Column]:
    """(predicted_lang, best_score) as INLINE Columns — the one-kernel
    form for single-projection callers that cannot stage. Prefer the
    staged shape (:func:`lang_marker_scores` materialized, then
    :func:`lang_argmax` over column references) wherever the caller
    owns the DataFrame — :func:`lang_scores` /
    :func:`paragraph_lang_scores` do."""
    toks = tokens(text_col)
    return lang_argmax(lang_marker_scores(toks))


def lang_scores(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, predicted_lang, best_score): argmax over per-language
    marker-token hit ratios, ties broken by language code order.

    Staged: tokenize once, materialize the per-language ratios, then
    argmax over the materialized columns (see :func:`lang_argmax` on
    why the inline fold re-tokenizes ~20x per row)."""
    staged = docs.select(F.col(id_col), tokens(text_col).alias("__lt"))
    score_exprs = lang_marker_scores(F.col("__lt"))
    scored = staged.select(
        F.col(id_col), *[c.alias(f"__s_{lang}") for lang, c in score_exprs.items()]
    )
    best_lang, best_score = lang_argmax(
        {lang: F.col(f"__s_{lang}") for lang in score_exprs}
    )
    return scored.select(
        F.col(id_col),
        best_lang.alias("predicted_lang"),
        hround(best_score, 6).alias("best_score"),
    )


def paragraph_lang_scores(
    docs: DataFrame,
    split_pattern: str = r"\n{2,}",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, para_idx, n_tokens, predicted_lang, best_score):
    segment-granularity language ID — real web documents mix languages
    (an English page quoting German, boilerplate in the site's locale),
    and a document-level argmax silently averages them away. Split on
    ``split_pattern`` (default: blank-line paragraphs), score each
    segment with the shared :func:`lang_columns` kernel, and let the
    caller route segments to per-language pipelines or drop documents
    whose paragraphs disagree. Empty segments are dropped; one explode,
    zero shuffles — scan-speed like the other projections."""
    paras = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), split_pattern)).alias("para_idx", "_para"),
    ).filter(F.length(F.trim(F.col("_para"))) > 0)
    # staged like lang_scores: tokenize each segment once, materialize
    # the per-language ratios, argmax over column references
    staged = paras.select(id_col, "para_idx", tokens(F.col("_para")).alias("__lt"))
    score_exprs = lang_marker_scores(F.col("__lt"))
    scored = staged.select(
        id_col,
        "para_idx",
        F.size(F.col("__lt")).cast("bigint").alias("n_tokens"),
        *[c.alias(f"__s_{lang}") for lang, c in score_exprs.items()],
    )
    best_lang, best_score = lang_argmax(
        {lang: F.col(f"__s_{lang}") for lang in score_exprs}
    )
    return scored.select(
        id_col,
        "para_idx",
        "n_tokens",
        best_lang.alias("predicted_lang"),
        hround(best_score, 6).alias("best_score"),
    )


# PII patterns ordered so more specific shapes win before generic digit
# runs (emails before hostnames). The phone pattern requires at least
# one separator character (dash/space/paren) between the first and last
# digit, so a bare digit run — a long ID, a timestamp — is never
# redacted. All three patterns stay inside the RE2-compatible subset
# (no lookaround, no backreferences) so the DuckDB oracle can run the
# exact same regexes.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("EMAIL", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("IP", r"\b(?:\d{1,3}\.){3}\d{1,3}\b"),
    ("PHONE", r"\+?\d[\d ()]*[\- ()][\d\- ()]{5,}\d"),
)


def redact_pii(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, text, n_redactions): training-data PII scrub — emails,
    IPv4s, and phone-shaped digit runs replaced with ``<TYPE>`` tokens,
    with a per-document redaction count for audit/drop thresholds.
    Chained ``regexp_replace`` projections: scan-speed, shuffle-free,
    deterministic — the curation step that must run BEFORE dedup (a
    redacted near-dup pair should still collide).

    ``n_redactions`` counts each pattern against the progressively
    cleaned intermediate (count pattern *i* on the text after patterns
    1..*i−1* were replaced), so the stat equals the number of
    replacements actually made: a phone-shaped digit run inside an
    email is one replacement and counts one."""
    cleaned, n_red = redaction_columns(text_col)
    return docs.select(
        F.col(id_col), cleaned.alias(text_col), n_red.alias("n_redactions")
    )


def redaction_columns(text_col: str | Column = "text") -> tuple[Column, Column]:
    """(redacted text, redaction count) as Columns — the
    :func:`redact_pii` expressions, exposed for fused single-projection
    pipelines. The count is a plain ``+`` of the per-pattern counts, not
    a higher-order ``aggregate`` lambda, so the projection is whole-stage
    codegen'd and subexpression elimination shares the partial rewrites
    between the count and the cleaned text."""
    cleaned = F.col(text_col) if isinstance(text_col, str) else text_col
    counts = []
    for name, pat in PII_PATTERNS:
        counts.append(F.regexp_count(cleaned, F.lit(pat)))
        cleaned = F.regexp_replace(cleaned, pat, f"<{name}>")
    n_red = sum(counts[1:], start=counts[0])
    return cleaned, n_red.cast("bigint")


# Normalization rules applied in order. Every pattern stays inside the
# RE2-compatible subset (no lookaround; \A/\z instead of bare anchors —
# Java's un-flagged `$` matches before a final newline, RE2's does not,
# so the anchored trim uses the explicit end-of-text escapes both
# engines agree on) and every replacement only ever shrinks the text.
NORMALIZE_RULES: tuple[tuple[str, str], ...] = (
    (r"\r\n?", "\n"),  # CRLF / bare CR -> LF
    (r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]", ""),  # control chars except \t \n
    (r"[ \t]+", " "),  # collapse horizontal whitespace runs
    (r"(?m)^ +| +$", ""),  # trim each line
    (r"\n{3,}", "\n\n"),  # cap blank-line runs
    (r"\A\s+|\s+\z", ""),  # trim the document
)


def normalized_column(text_col: str | Column = "text") -> Column:
    """The :func:`normalize_text` cleaning chain as one Column, exposed
    for fused single-projection pipelines."""
    cleaned = F.col(text_col) if isinstance(text_col, str) else text_col
    for pat, repl in NORMALIZE_RULES:
        cleaned = F.regexp_replace(cleaned, pat, repl)
    return cleaned


def normalize_text(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, text, n_chars_before, n_chars_after): canonicalize
    whitespace and strip control characters — the first pass of a
    curation pipeline, run BEFORE hashing/dedup so that two documents
    differing only in line endings or trailing spaces collide. Chained
    ``regexp_replace`` projections: scan-speed, shuffle-free."""
    before = F.length(text_col).cast("bigint")
    cleaned = normalized_column(text_col)
    return docs.select(
        F.col(id_col),
        cleaned.alias(text_col),
        before.alias("n_chars_before"),
        F.length(cleaned).cast("bigint").alias("n_chars_after"),
    )


# Stand-in blocklist for the C4 bad-word page filter (Raffel et al.
# 2020 use the public "List of Dirty, Naughty, Obscene..." list — swap
# it in via the ``bad_words`` parameter in production; the built-in
# keeps tests self-contained). Matched as whole lowercase tokens.
C4_BAD_WORDS: tuple[str, ...] = ("badword1", "badword2", "slur1")

# a line "ends in terminal punctuation" (C4 §2.2): . ! ? or a closing
# straight/curly double quote
_TERMINAL_PUNCT = "[.!?\"”]$"


def c4_clean(
    docs: DataFrame,
    min_words_per_line: int = 5,
    min_lines: int = 3,
    bad_words: tuple[str, ...] = C4_BAD_WORDS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, text, n_lines_kept, n_lines_dropped, keep_doc,
    drop_reason): the C4 heuristic cleaning rules (Raffel et al. 2020
    §2.2), as one shuffle-free projection.

    Line level — a line is kept iff it ends in terminal punctuation,
    has ≥ ``min_words_per_line`` whitespace words, and does not contain
    the word "javascript" (case-insensitive). ``text`` is the kept
    lines rejoined with \\n.

    Document level — ``keep_doc`` is false (with ``drop_reason`` naming
    the first matching rule, in fixed order) when the ORIGINAL text
    contains a curly brace (code), the phrase "lorem ipsum"
    (placeholder boilerplate), any ``bad_words`` token (lowercase
    whole-token match), or when fewer than ``min_lines`` lines survive
    the line filter. Dropped documents keep their row — filtering is
    the caller's ``.filter("keep_doc")``, so audits can aggregate
    drop_reason over the full corpus.

    Scale: every output column is a function of one input row (split /
    filter / rlike / array_join higher-order expressions — all JVM
    codegen); the operator runs at scan speed and composes with
    ``normalize_text`` upstream and ``dedup_lines`` downstream."""
    cols = c4_columns(text_col, min_words_per_line, min_lines, bad_words)
    return docs.select(
        F.col(id_col),
        cols["text"].alias(text_col),
        cols["n_lines_kept"].alias("n_lines_kept"),
        cols["n_lines_dropped"].alias("n_lines_dropped"),
        cols["keep_doc"].alias("keep_doc"),
        cols["drop_reason"].alias("drop_reason"),
    )


def c4_columns(
    text_col: str | Column = "text",
    min_words_per_line: int = 5,
    min_lines: int = 3,
    bad_words: tuple[str, ...] = C4_BAD_WORDS,
) -> dict[str, Column]:
    """The :func:`c4_clean` expressions as named Columns, exposed for
    fused single-projection pipelines.

    Line trimming is SPACE-only (``trim`` semantics in both Spark and
    DuckDB — not Python's ``str.strip``): a tab-only line counts as a
    non-empty line in ``n_lines_dropped``. Harmless for filtering (such
    lines can never pass the ≥-words rule) and it keeps the operator
    and its oracle byte-identical across engines."""
    text = F.col(text_col) if isinstance(text_col, str) else text_col
    lns = F.transform(F.split(text, "\n"), lambda t: F.trim(t))
    n_lines = F.size(F.filter(lns, lambda t: F.length(t) > 0))

    def line_ok(line: Column) -> Column:
        words = F.filter(F.split(line, r"\s+"), lambda w: F.length(w) > 0)
        return (
            line.rlike(_TERMINAL_PUNCT)
            & (F.size(words) >= min_words_per_line)
            & ~F.lower(line).rlike(r"\bjavascript\b")
        )

    kept = F.filter(lns, line_ok)
    lower = F.lower(text)
    # bad-word matching extracts [a-z0-9]+ runs rather than splitting
    # on whitespace: "badword1." still flags, and the exact same regex
    # runs in the DuckDB oracle (whitespace tokens would silently let
    # punctuation-adjacent hits through)
    words = F.regexp_extract_all(lower, F.lit("[a-z0-9]+"), 0)
    has_bad = F.exists(words, lambda t: t.isin(*bad_words)) if bad_words else F.lit(False)
    drop_reason = (
        F.when(F.contains(text, F.lit("{")) | F.contains(text, F.lit("}")), "brace")
        .when(F.contains(lower, F.lit("lorem ipsum")), "lorem_ipsum")
        .when(has_bad, "bad_word")
        .when(F.size(kept) < min_lines, "too_few_lines")
        .otherwise(F.lit(None).cast("string"))
    )
    return {
        "text": F.array_join(kept, "\n"),
        "n_lines_kept": F.size(kept).cast("bigint"),
        "n_lines_dropped": (n_lines - F.size(kept)).cast("bigint"),
        "keep_doc": drop_reason.isNull(),
        "drop_reason": drop_reason,
    }


# Gopher quality-rule constants (Rae et al. 2021, table A1). Word =
# whitespace token (the engine-wide convention); "symbols" are the
# hash mark and ellipsis; bullet/ellipsis line rules use trimmed
# non-empty lines (repetition.lines_of semantics).
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
_BULLET_PREFIXES = ("•", "-", "*")


def gopher_prelude(text_col: str | Column = "text") -> dict[str, Column]:
    """The token/line arrays :func:`gopher_columns` reads — exposed so
    callers can MATERIALIZE them in their own projection and pass the
    resulting ``F.col`` references back via ``prelude``. The rule
    arithmetic references the token array ~5 times (and the lowercased
    copy once per stopword inside a higher-order filter); higher-order
    expressions evaluate interpreted, outside whole-stage codegen's
    subexpression elimination, so inlined they re-tokenize the document
    on every reference. Splitting the tokenization into its own
    projection makes Catalyst keep it (CollapseProject refuses to
    inline non-cheap aliases referenced more than once) and the arrays
    compute once per row: 3.0x on the gate row at 500k docs (23.9s →
    7.8s at sf1, min-of-3, identical output)."""
    text = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = tokens(text)
    return {
        "__g_toks": toks,
        "__g_low": F.transform(toks, lambda t: F.lower(t)),
        "__g_lns": F.filter(
            F.transform(F.split(text, "\n"), lambda t: F.trim(t)),
            lambda t: F.length(t) > 0,
        ),
    }


def gopher_columns(
    text_col: str | Column = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopwords: int = 2,
    prelude: dict[str, Column] | None = None,
) -> dict[str, Column]:
    """The :func:`gopher_quality` expressions as named Columns — the
    single source of the rule arithmetic, exposed so fused
    single-projection pipelines (the batch/streaming curate chains)
    can apply the Gopher page filter without a join.

    ``prelude``: pass ``F.col`` references to the already-materialized
    :func:`gopher_prelude` arrays to tokenize once per row instead of
    once per rule (see that docstring); omitted, the arrays inline and
    the semantics are identical."""
    text = F.col(text_col) if isinstance(text_col, str) else text_col
    pre = prelude if prelude is not None else gopher_prelude(text)
    toks = pre["__g_toks"]
    n_words = F.size(toks)
    nw = F.greatest(n_words, F.lit(1)).cast("double")
    mean_len = (
        F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t)).cast("double") / nw
    )
    # Rae et al. table A1 thresholds EACH symbol's ratio separately
    # ("symbol-to-word ratio greater than 0.1 for either the hash
    # symbol or the ellipsis") — a summed ratio would drop strictly
    # more documents than the cited rule (ADVICE r6)
    hash_ratio = F.regexp_count(text, F.lit("#")).cast("double") / nw
    ellipsis_sym_ratio = F.regexp_count(text, F.lit(r"\.\.\.|…")).cast("double") / nw
    lns = pre["__g_lns"]
    nl = F.greatest(F.size(lns), F.lit(1)).cast("double")
    is_bullet = lambda ln: F.substring(ln, 1, 1).isin(*_BULLET_PREFIXES)  # noqa: E731
    bullet_frac = F.size(F.filter(lns, is_bullet)).cast("double") / nl
    ellipsis_frac = (
        F.size(F.filter(lns, lambda ln: ln.rlike(r"(\.\.\.|…)$"))).cast("double") / nl
    )
    alpha_frac = (
        F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]"))).cast("double") / nw
    )
    low_toks = pre["__g_low"]
    n_stop = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
            lambda s: F.array_contains(low_toks, s),
        )
    )
    drop_reason = (
        F.when((n_words < min_words) | (n_words > max_words), "word_count")
        .when((mean_len < min_mean_word_len) | (mean_len > max_mean_word_len), "mean_word_len")
        .when(
            (hash_ratio > max_symbol_ratio) | (ellipsis_sym_ratio > max_symbol_ratio),
            "symbol_ratio",
        )
        .when(bullet_frac > max_bullet_frac, "bullet_lines")
        .when(ellipsis_frac > max_ellipsis_frac, "ellipsis_lines")
        .when(alpha_frac < min_alpha_word_frac, "alpha_words")
        .when(n_stop < min_stopwords, "stopwords")
        .otherwise(F.lit(None).cast("string"))
    )
    return {
        "n_words": n_words.cast("bigint"),
        "mean_word_len": hround(mean_len, 6),
        "hash_word_ratio": hround(hash_ratio, 6),
        "ellipsis_word_ratio": hround(ellipsis_sym_ratio, 6),
        "bullet_line_frac": hround(bullet_frac, 6),
        "ellipsis_line_frac": hround(ellipsis_frac, 6),
        "alpha_word_frac": hround(alpha_frac, 6),
        "n_stopwords_present": n_stop.cast("bigint"),
        "keep_doc": drop_reason.isNull(),
        "drop_reason": drop_reason,
    }


def gopher_quality(
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
    """(doc_id, n_words, mean_word_len, hash_word_ratio,
    ellipsis_word_ratio, bullet_line_frac, ellipsis_line_frac,
    alpha_word_frac, n_stopwords_present, keep_doc, drop_reason): the
    Gopher document-
    level quality rules (Rae et al. 2021, "Scaling Language Models",
    table A1) as ONE shuffle-free projection — the companion to
    :func:`repetition_stats`' Gopher repetition rules and
    :func:`c4_clean`'s C4 rules.

    A document is dropped (``keep_doc = false``, ``drop_reason`` naming
    the FIRST failing rule in the paper's order) when:

    - word count outside [``min_words``, ``max_words``];
    - mean word length outside [``min_mean_word_len``,
      ``max_mean_word_len``];
    - (# of '#' occurrences) / words > ``max_symbol_ratio``, OR
      (# of ellipsis occurrences) / words > ``max_symbol_ratio``
      (each symbol thresholded separately, per table A1);
    - > ``max_bullet_frac`` of lines start with a bullet ('•','-','*');
    - > ``max_ellipsis_frac`` of lines end with an ellipsis;
    - < ``min_alpha_word_frac`` of words contain an alphabetic char;
    - fewer than ``min_stopwords`` distinct Gopher stop words present.

    Dropped documents keep their row (filtering is the caller's
    ``.filter("keep_doc")``) so audits can aggregate drop_reason.
    Every column is a function of one input row — scan speed at 100 TB,
    and stream-composable like the other stateless curation ops."""
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


def gopher_quality_pandas(
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
    """The Arrow-batched pandas twin of :func:`gopher_quality` — same
    eleven columns, pinned value-equal by tests/test_gopher.py; it
    beat the staged-HOF form 2.5 vs 5.5s at sf10 (r11), the same twin
    discipline as ``repetition.repetition_stats_pandas``. Semantics mirrored
    exactly: Java ``\\s`` token split, ASCII-space-only trim for lines,
    non-overlapping regex counts, 6dp half-up rounding, first-failing
    drop_reason in the paper's order."""
    import math
    import re

    out_schema = (
        f"{id_col} bigint, n_words bigint, mean_word_len double,"
        " hash_word_ratio double, ellipsis_word_ratio double,"
        " bullet_line_frac double, ellipsis_line_frac double,"
        " alpha_word_frac double, n_stopwords_present bigint,"
        " keep_doc boolean, drop_reason string"
    )
    java_ws = re.compile("[ \t\n\x0b\f\r]+")
    ellipsis_re = re.compile(r"\.\.\.|…")
    # Java's default-mode `$` matches before ONE final line terminator
    # (\r, \u0085, \u2028, \u2029 -- lines here are \n-split so none
    # contain \n); Python's `$` only honors a trailing \n. The lookahead
    # mirrors Java exactly (a CRLF corpus leaves \r on the trimmed line
    # and the JVM form still counts it as ellipsis-ended; pinned by the
    # twin test's CRLF edge row).
    ellipsis_end_re = re.compile(
        "(\\.\\.\\.|\u2026)(?=[\r\u0085\u2028\u2029]?$)"
    )
    alpha_re = re.compile("[A-Za-z]")

    def hr(x: float):
        return math.floor(x * 1e6 + 0.5) / 1e6

    def batches(it):
        import pandas as pd

        cols = (
            id_col, "n_words", "mean_word_len", "hash_word_ratio",
            "ellipsis_word_ratio", "bullet_line_frac", "ellipsis_line_frac",
            "alpha_word_frac", "n_stopwords_present", "keep_doc", "drop_reason",
        )
        for pdf in it:
            rows = {k: [] for k in cols}
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    # Spark shape for NULL text: every null comparison in
                    # the when-cascade is falsy, so it falls through to
                    # the stopwords rule (n_stop = 0 < min) — numeric
                    # columns stay NULL, n_stopwords_present is 0
                    for k, v in zip(cols, (
                        doc_id, None, None, None, None, None, None, None,
                        0, False, "stopwords",
                    )):
                        rows[k].append(v)
                    continue
                t = text
                toks = [w for w in java_ws.split(t) if w]
                n_words = len(toks)
                nw = float(max(n_words, 1))
                mean_len = sum(len(w) for w in toks) / nw
                hash_ratio = t.count("#") / nw
                ell_sym_ratio = len(ellipsis_re.findall(t)) / nw
                lines = [ln for ln in (s.strip(" ") for s in t.split("\n")) if ln]
                nl = float(max(len(lines), 1))
                bullet = sum(ln[0] in _BULLET_PREFIXES for ln in lines) / nl
                ell_line = sum(bool(ellipsis_end_re.search(ln)) for ln in lines) / nl
                alpha = sum(bool(alpha_re.search(w)) for w in toks) / nw
                low = {w.lower() for w in toks}
                n_stop = sum(s in low for s in GOPHER_STOPWORDS)
                if n_words < min_words or n_words > max_words:
                    reason = "word_count"
                elif mean_len < min_mean_word_len or mean_len > max_mean_word_len:
                    reason = "mean_word_len"
                elif hash_ratio > max_symbol_ratio or ell_sym_ratio > max_symbol_ratio:
                    reason = "symbol_ratio"
                elif bullet > max_bullet_frac:
                    reason = "bullet_lines"
                elif ell_line > max_ellipsis_frac:
                    reason = "ellipsis_lines"
                elif alpha < min_alpha_word_frac:
                    reason = "alpha_words"
                elif n_stop < min_stopwords:
                    reason = "stopwords"
                else:
                    reason = None
                for k, v in zip(cols, (
                    doc_id, n_words, hr(mean_len), hr(hash_ratio),
                    hr(ell_sym_ratio), hr(bullet), hr(ell_line), hr(alpha),
                    n_stop, reason is None, reason,
                )):
                    rows[k].append(v)
            yield pd.DataFrame(rows)

    return docs.select(id_col, text_col).mapInPandas(batches, out_schema)


def filter_bad_phrases(
    docs: DataFrame,
    phrases: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    phrase_col: str = "phrase",
) -> DataFrame:
    """Documents NOT containing any blocklisted phrase — the scale form
    of the C4 bad-word page filter for LARGE lists. ``c4_clean`` inlines
    its tiny built-in list into the plan; a real blocklist (100k+
    words/phrases) can be neither a regex alternation (pattern compiles
    quadratically, plans bloat) nor a driver literal. Here the phrase
    table stays a DataFrame:

    - phrases normalize to their ``[a-z0-9]+`` token sequence; docs
      explode their token n-grams ONLY for the distinct phrase lengths
      present in the list (a 1-and-2-word list never builds 7-grams);
    - matching is a broadcast LEFT-SEMI join gram ⋈ phrase → matched
      doc ids, then one broadcast ANTI join removes them. The corpus is
      scanned once per distinct phrase length, never shuffled.

    Phrase matching is token-boundary-aware by construction ("cat"
    never hits "concatenate"), case-insensitive, punctuation-blind —
    the same normalization both engines share everywhere else."""
    norm_phrase = F.array_join(
        F.regexp_extract_all(F.lower(F.col(phrase_col)), F.lit("[a-z0-9]+"), 0), " "
    )
    plens = (
        phrases.select(
            norm_phrase.alias("p"),
            F.size(F.split(norm_phrase, " ")).alias("_n"),
        )
        .filter(F.length("p") > 0)
        .distinct()
    )
    lengths = [int(r["_n"]) for r in plens.select("_n").distinct().collect()]
    if not lengths:
        return docs
    toks = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), 0)
    matched = None
    for n in lengths:
        grams_arr = F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))
        grams = docs.select(F.col(id_col), F.explode(grams_arr).alias("p")).join(
            F.broadcast(plens.filter(F.col("_n") == n).select("p")), "p", "left_semi"
        )
        part = grams.select(id_col).distinct()
        matched = part if matched is None else matched.union(part)
    # NOT force-broadcast: the matched set is "docs containing a bad
    # phrase" — usually small, but unbounded; let AQE pick the strategy
    return docs.join(matched.distinct(), id_col, "left_anti")


def chunk_array_column(
    text_col: str | Column = "text", max_chars: int = 2048, overlap: int = 128
) -> Column:
    """ARRAY<STRING> of a document's chunks — the
    :func:`chunk_documents` split as one Column, exposed so fused
    pipelines can ``posexplode`` it next to passthrough columns without
    a join. Starts are capped at ``n − overlap − 1`` so no chunk is a
    pure substring of its predecessor."""
    if overlap >= max_chars:
        raise ValueError("overlap must be smaller than max_chars")
    stride = max_chars - overlap
    text = F.col(text_col) if isinstance(text_col, str) else text_col
    n = F.length(text)
    # a chunk starting at s covers [s, s+max_chars); its predecessor
    # already covers through s+overlap, so s contributes new characters
    # iff s < n - overlap — cap the start sequence there (floor 0 keeps
    # the single chunk for short/empty docs)
    starts = F.sequence(F.lit(0), F.greatest(n - overlap - 1, F.lit(0)), F.lit(stride))
    return F.transform(starts, lambda s: text.substr(s + 1, F.lit(max_chars)))


def chunk_documents(
    docs: DataFrame,
    max_chars: int = 2048,
    overlap: int = 128,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, chunk_idx, chunk_text, n_chars): split long documents
    into ≤``max_chars`` chunks whose starts step by
    ``max_chars − overlap`` (context-window packing for training).
    Pure JVM expressions (sequence → substring → posexplode): one input
    row fans out to its chunk rows at scan speed — the classic
    row-explosion shape that must never round-trip through Python at
    100 TB. Empty documents yield one empty chunk so no doc silently
    disappears from the corpus.

    Every chunk after the first contributes at least one character
    beyond its predecessor: starts are capped at ``n − overlap − 1``,
    so a document that ends inside the previous chunk's overlap region
    never emits a tail chunk that is a pure substring of it (which
    would ship duplicated training content past the dedup stage)."""
    chunks = chunk_array_column(text_col, max_chars, overlap)
    return docs.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "chunk_text")
    ).select(
        id_col,
        "chunk_idx",
        "chunk_text",
        F.length("chunk_text").cast("bigint").alias("n_chars"),
    )


def vocabulary(
    docs: DataFrame, top_k: int | None = None, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(token, tf, df): corpus vocabulary with term and document
    frequencies — the stats behind stopword lists, tokenizer training,
    and contamination checks. One explode + one groupBy: tf partial-
    aggregates map-side; df counts each document once via the
    per-document run-length counts (functions/runlength.py — the same
    in-row kernel the k-mer queries use; no count(distinct) expansion).
    ``top_k`` returns the most frequent tokens via TakeOrdered (no
    global sort)."""
    from rnadam_spark.functions.runlength import with_value_counts

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


def curation_scores_pandas(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, quality, predicted_lang): the quality heuristic and the
    language-ID argmax in ONE Arrow pass — the fused kernel behind
    ``curated_documents``. Pinned value-equal to
    ``quality_scores`` ⋈ ``lang_scores`` (tests/test_text_curation.py),
    including the NULL-text corners (least() skips nulls, so a NULL doc
    scores quality 0.4 and predicted_lang 'de', the argmax's never-
    improved initial).

    Why a twin instead of the two JVM projections: Catalyst pushes the
    composite's ``quality >= 0.9`` / ``predicted_lang = 'en'`` filters
    below the projections INTO the scans' DataFilters, so the full
    interpreted token/marker kernels evaluate TWICE per document (once
    to filter, once to emit the column) — measured 36.5s at sf10 for
    the composite whose parts sum to ~13s. A mapInPandas boundary is
    opaque to predicate pushdown, so the filter runs on the emitted
    column exactly once — composite 36.5 → ~6s at sf10. Java ``\\w``/``\\s`` are ASCII classes —
    mirrored with ``re.ASCII``; every ratio is one IEEE division and
    the quality chain is the same left-associated expression."""
    import math
    import re

    ws = re.compile("[ \t\n\x0b\f\r]+")
    nonword = re.compile(r"[^\w\s]", re.ASCII)
    digits = re.compile(r"[0-9]")
    stop = set(STOPWORDS)
    marker_sets = [(lang, set(m)) for lang, m in sorted(LANG_MARKERS.items())]
    id_type = dict(docs.dtypes)[id_col]
    out_schema = f"{id_col} {id_type}, quality double, predicted_lang string"

    def batches(it):
        import pandas as pd

        for pdf in it:
            rows = {id_col: [], "quality": [], "predicted_lang": []}
            for did, textv in zip(pdf[id_col], pdf[text_col]):
                if textv is None:
                    # least() skips NULL operands: 1.0 - 0.5 - 0.3 + 0.2
                    q = 0.4
                    lang = marker_sets[0][0]
                else:
                    toks = [w for w in ws.split(textv) if w]
                    lowers = [t.lower() for t in toks]
                    n_tok = len(toks)
                    n_chars = len(textv)
                    sr = sum(1 for t in lowers if t in stop) / max(n_tok, 1)
                    pr = (n_chars - len(nonword.sub("", textv))) / max(n_chars, 1)
                    dr = (n_chars - len(digits.sub("", textv))) / max(n_chars, 1)
                    q = 1.0 - min(pr * 2, 0.5) - min(dr * 2, 0.3) + min(sr, 0.2)
                    q = math.floor(q * 1e6 + 0.5) / 1e6
                    # the lang_argmax when-fold: start at the first
                    # language, strict > improves (ties keep the
                    # earlier language code)
                    denom = max(n_tok, 1)
                    scores = [
                        (lg, sum(1 for t in lowers if t in mk) / denom)
                        for lg, mk in marker_sets
                    ]
                    lang, best = scores[0]
                    for lg, s in scores[1:]:
                        if s > best:
                            lang, best = lg, s
                rows[id_col].append(did)
                rows["quality"].append(q)
                rows["predicted_lang"].append(lang)
            yield pd.DataFrame(rows)

    return docs.select(id_col, text_col).mapInPandas(batches, out_schema)


def vocabulary_pandas(
    docs: DataFrame, top_k: int | None = None, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Arrow-batched pandas twin of :func:`vocabulary` — same (token,
    tf, df) columns, pinned value-equal by tests/test_text_curation
    (all-integer counts, so equality is exact, not rounded). Each
    Arrow batch folds into ONE pair of Counters — a map-side combine
    in Python, so a task emits one partial row per distinct token in
    the batch (bounded by vocabulary, not corpus size) and the final
    groupBy moves only those partials. Measured 1.8x at sf10 vs the
    run-length HOF form (r12): per-token string
    sorting under interpreted lambdas is exactly the shape the twin
    rule flags, just with a smaller constant than the gram builders.
    Java ``\\s`` tokenization mirrored exactly; NULL text contributes
    nothing (the HOF form's empty-array explode)."""
    import re

    ws = re.compile("[ \t\n\x0b\f\r]+")

    def batches(it):
        from collections import Counter

        import pandas as pd

        tf: Counter = Counter()
        dfc: Counter = Counter()
        for pdf in it:
            for text in pdf[text_col]:
                if text is None:
                    continue
                c = Counter(w for w in ws.split(text) if w)
                tf.update(c)
                dfc.update(c.keys())
        yield pd.DataFrame(
            {
                "token": list(tf.keys()),
                "tf_p": list(tf.values()),
                "df_p": [dfc[t] for t in tf.keys()],
            }
        )

    part = docs.select(text_col).mapInPandas(batches, "token string, tf_p bigint, df_p bigint")
    vocab = part.groupBy("token").agg(
        F.sum("tf_p").alias("tf"), F.sum("df_p").alias("df")
    )
    if top_k is not None:
        return vocab.orderBy(F.col("tf").desc(), "token").limit(top_k)
    return vocab


def contamination_scores(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_grams, n_contaminated, contamination): fraction of a
    document's distinct word ``n``-grams that appear anywhere in the
    benchmark corpus — the standard pre-training decontamination stat
    (13-gram overlap is the conventional window). Drop or flag
    documents above a threshold before training so eval numbers stay
    meaningful.

    Shape: benchmark grams distinct once, then a broadcast left join
    from the exploded document grams — eval suites are tiny next to a
    100 TB corpus, so the scan side never shuffles. Documents
    shorter than ``n`` tokens score 0 (kept via explode_outer — a doc
    must never silently vanish from an audit)."""
    bench_grams = (
        benchmark.select(F.explode(token_ngrams(bench_text_col, n)).alias("gram"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    doc_grams = docs.select(
        F.col(id_col),
        F.explode_outer(F.array_distinct(token_ngrams(text_col, n))).alias("gram"),
    )
    joined = doc_grams.join(F.broadcast(bench_grams), "gram", "left")
    n_grams = F.count("gram")
    n_hit = F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
    return joined.groupBy(id_col).agg(
        n_grams.cast("bigint").alias("n_grams"),
        n_hit.cast("bigint").alias("n_contaminated"),
        hround(
            n_hit.cast("double") / F.greatest(n_grams, F.lit(1)).cast("double"), 6
        ).alias("contamination"),
    )


def contamination_scores_pandas(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    max_bench_grams: int = 2_000_000,
) -> DataFrame:
    """The Arrow-batched pandas twin of :func:`contamination_scores` —
    same three columns, pinned value-equal by tests/test_text_curation
    (r11's measured-twin discipline: repetition 5.3x, gopher 2.2x at
    sf10; this one 21.8x). The benchmark's distinct grams collect once
    to a driver set and ship in the task closure; per document the
    n-gram set builds in Python and intersects that set — no join, no
    interpreted slice+array_join per gram position. Java ``\\s``
    tokenization and 6dp half-up rounding mirrored exactly; docs
    shorter than ``n`` tokens (and NULL text) keep their (0, 0, 0.0)
    audit row.

    The driver-set design assumes the benchmark is eval-suite-sized —
    the same boundedness argument that broadcasts it in the JVM form,
    but a python set ships UNCOMPRESSED to every worker where the
    broadcast relation stays columnar. ``max_bench_grams`` guards the
    assumption: the distinct-gram count is checked first (one cheap
    aggregate over the side that gets scanned anyway) and a benchmark
    past the cap falls back to :func:`contamination_scores`' broadcast
    join, which degrades gracefully instead of OOMing the driver
    (r11 review — a corpus-fraction "benchmark" grows without bound).
    The default cap is 2M grams (~0.5 GB as a Python set of ~100-char
    strings): r11 ADVICE measured 20M as multi-GB on a 16g driver —
    past its own guard's point. The gram set ships as a SparkContext
    BROADCAST, not closure state: executors fetch one torrent copy
    and share one deserialized set across tasks, instead of unpickling
    a multi-hundred-MB closure per stage. The guard count and the
    collect share one persisted materialization (r11 ADVICE: the
    explode+distinct otherwise ran twice per call)."""
    import math
    import re

    from pyspark import StorageLevel

    bench_grams_df = (
        benchmark.select(F.explode(token_ngrams(bench_text_col, n)).alias("gram"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        if bench_grams_df.count() > max_bench_grams:
            return contamination_scores(
                docs, benchmark, n=n, text_col=text_col, id_col=id_col,
                bench_text_col=bench_text_col,
            )
        bench_set = {r.gram for r in bench_grams_df.collect()}
    finally:
        bench_grams_df.unpersist()
    bc_bench = docs.sparkSession.sparkContext.broadcast(bench_set)
    java_ws = re.compile("[ \t\n\x0b\f\r]+")
    out_schema = (
        f"{id_col} bigint, n_grams bigint, n_contaminated bigint,"
        " contamination double"
    )

    def batches(it):
        import pandas as pd

        bench = bc_bench.value
        for pdf in it:
            rows = {k: [] for k in (id_col, "n_grams", "n_contaminated", "contamination")}
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                toks = [] if text is None else [w for w in java_ws.split(text) if w]
                grams = {
                    " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
                }
                hits = len(grams & bench)
                rows[id_col].append(doc_id)
                rows["n_grams"].append(len(grams))
                rows["n_contaminated"].append(hits)
                rows["contamination"].append(
                    math.floor(hits / max(len(grams), 1) * 1e6 + 0.5) / 1e6
                )
            yield pd.DataFrame(rows)

    return docs.select(id_col, text_col).mapInPandas(batches, out_schema)


def fingerprints(
    docs: DataFrame, k: int = 4, w: int = 4, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, fingerprint): bottom-``w`` sketch of the k-shingle
    polynomial hashes, joined into a stable string — a cheap
    content-similarity fingerprint (rolling-hash family)."""
    hashes = F.array_sort(
        F.array_distinct(
            F.transform(char_shingles(text_col, k), lambda s: poly_hash_col(s, k))
        )
    )
    return docs.filter(F.length(text_col) >= k).select(
        F.col(id_col),
        F.array_join(F.slice(hashes, 1, w), "_").alias("fingerprint"),
    )


def excise_paragraphs(
    docs: DataFrame,
    bad_paragraphs: DataFrame,
    split_pattern: str = r"\n{2,}",
    sep: str = "\n\n",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Rebuild each document with the listed paragraphs removed — the
    excision step completing the paragraph-granularity pipeline
    (``paragraph_lang_scores`` / ``lm.paragraph_perplexity`` score
    segments; this drops the condemned ones and re-joins the rest).
    ``bad_paragraphs`` is any (doc_id, para_idx) table, e.g. the tail
    of a perplexity ranking or off-language segments. Output keeps
    every input document (possibly with empty text when all its
    paragraphs died) with surviving paragraphs joined by ``sep`` in
    original order; other input columns pass through.

    Plan — ONE scan, one exchange, no window: paragraphs re-number
    in-row (posexplode over the same ``split_pattern`` the scorers use
    — indices align by construction; ``split`` of empty text yields
    [""], so every document contributes at least one row and survives
    the groupBy with no rescue anti-join), the verdict attaches as a
    LEFT join mark against the deduplicated condemned set (AQE
    broadcasts it — typically tiny), and documents rebuild in one
    groupBy: ``collect_list`` skips nulls, so condemned and blank
    paragraphs are nulled out of the kept set WITHOUT dropping the
    rows that keep the group alive; ``array_sort`` + in-row join
    restore order inside the row. The earlier two-pass form consumed
    the docs scan twice (a survivors anti-join rescuing all-condemned
    documents) — this folds the rescue into the aggregate itself."""
    other = [c for c in docs.columns if c != text_col]
    # coalesce: split of EMPTY text yields [""] (one surviving row) but
    # split of NULL yields NULL, whose posexplode emits nothing and
    # would silently drop the document — null behaves as the empty page
    paras = docs.select(
        *other,
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), split_pattern)
        ).alias("para_idx", "_para"),
    )
    bad = (
        bad_paragraphs.select(
            F.col(id_col).alias(id_col), F.col("para_idx").alias("para_idx")
        )
        .distinct()  # a doubled verdict row must not duplicate paragraphs
        .withColumn("_dead", F.lit(True))
    )
    marked = paras.join(bad, [id_col, "para_idx"], "left")
    keep = F.col("_dead").isNull() & (F.length(F.trim(F.col("_para"))) > 0)
    return (
        marked.groupBy(*other)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.when(keep, F.struct(F.col("para_idx"), F.col("_para")))
                )
            ).alias("_ps")
        )
        .select(
            *other,
            F.array_join(F.transform(F.col("_ps"), lambda p: p["_para"]), sep).alias(
                text_col
            ),
        )
        .select(*docs.columns)
    )


def char_entropy_column(text_col: str | Column = "text") -> Column:
    """Shannon entropy (bits/char) of a text column's character
    distribution, in-row: split to chars → run-length value counts
    (functions/runlength.py — the zero-shuffle kernel) → −Σ p·log₂ p.
    Low entropy flags repeated-character garbage ("aaaa…", ASCII art),
    high entropy flags random noise / base64 blobs; both tails are the
    standard cheap pre-filter. Empty text scores 0."""
    from rnadam_spark.functions.runlength import let_, value_counts

    text = F.col(text_col) if isinstance(text_col, str) else text_col
    chars = F.split(text, "")
    vc = value_counts(F.filter(chars, lambda ch: F.length(ch) > 0))

    def with_vc(v: Column) -> Column:
        total = F.aggregate(v, F.lit(0).cast("long"), lambda a, x: a + x["cnt"])

        def with_total(t: Column) -> Column:
            td = t.cast("double")
            ent = F.aggregate(
                v,
                F.lit(0.0),
                lambda a, x: a
                - (x["cnt"].cast("double") / td)
                * F.log2(x["cnt"].cast("double") / td),
            )
            return F.when(t > 0, ent).otherwise(F.lit(0.0))

        return let_(total, with_total)

    return let_(vc, with_vc)


def char_entropy(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, n_chars, entropy_bits): per-document character entropy
    — one zero-shuffle projection."""
    from rnadam_spark.functions.rounding import hround

    return docs.select(
        F.col(id_col),
        F.length(text_col).cast("bigint").alias("n_chars"),
        hround(char_entropy_column(text_col), 6).alias("entropy_bits"),
    )


def nfkc_normalize(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, text, n_changed): Unicode NFKC normalization — the
    canonicalization CCNet-class pipelines run before hashing so that
    visually-identical text (fullwidth forms, ligatures, compatibility
    variants, combining sequences) collides in dedup instead of
    slipping past it. ``n_changed`` is 1 when normalization changed the
    text and 0 otherwise, so ``sum(n_changed)`` audits how much of a
    corpus was non-canonical.

    Unicode normalization tables are not expressible in Catalyst, so
    this is a sanctioned Arrow-batched ``mapInPandas`` boundary (the
    zlib/codec convention — never a row-at-a-time UDF); per-row work is
    the stdlib's C-implemented ``unicodedata.normalize``. Composes
    BEFORE :func:`normalize_text`'s whitespace chain (NFKC can mint
    spaces from no-break/ideographic spaces that the whitespace rules
    then canonicalize). Stateless → slots into the streaming chain
    unchanged. Idempotent by the Unicode invariant
    NFKC(NFKC(x)) = NFKC(x), pinned by a hypothesis property."""
    import pandas as pd  # noqa: F401 — clear import error driver-side

    from pyspark.sql import types as T

    passthrough = [c for c in docs.columns if c not in (id_col, text_col)]
    schema = T.StructType(
        [f for f in docs.schema.fields if f.name in (id_col, *passthrough)]
        + [T.StructField(text_col, T.StringType()), T.StructField("n_changed", T.IntegerType())]
    )

    def batches(it):
        import unicodedata

        import pandas as pd

        for pdf in it:
            texts = pdf[text_col]
            out = [
                None if t is None else unicodedata.normalize("NFKC", t) for t in texts
            ]
            changed = [
                0 if (a is None or a == b) else 1 for a, b in zip(texts, out)
            ]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    **{c: pdf[c] for c in passthrough},
                    text_col: out,
                    "n_changed": changed,
                }
            )

    return docs.mapInPandas(batches, schema)
