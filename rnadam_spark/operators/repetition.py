"""Repetition-based quality filters and cross-document line dedup.

Generalizes the reference's per-container multiplicity machinery (the
run-length value-counts kernel behind equivalence classing,
rice-core/.../algorithms/Index.scala:90-98) to the repetition signals a
pre-training curation pipeline filters on:

- ``repetition_stats`` — the Gopher-style repetition rules (Rae et al.
  2021, "Scaling Language Models", table A1): duplicate-line fraction,
  duplicate-line character fraction, fraction of characters in the most
  common word n-gram, and the duplicated-n-gram character mass. All
  per-row column expressions over the in-row value-counts kernel
  (functions/runlength.py) — zero shuffle, scan speed at 100 TB.
- ``dedup_lines`` — C4/RefinedWeb-style global line dedup: a line that
  occurs more than once across the corpus is kept only at its first
  occurrence (smallest ``(doc_id, line_no)``). Aggregate-then-join, not
  a window: the winner table partial-aggregates map-side to one row per
  distinct line, so a boilerplate line with 10^8 occurrences never
  funnels through a single task the way ``row_number() OVER (PARTITION
  BY line)`` would; the residual join skew on hot lines is exactly what
  AQE skew-join splitting handles.

Definitions (pinned so the DuckDB oracles can reproduce them exactly):
lines are ``\\n``-split, trimmed, empties dropped; a "duplicated" value
is one with in-scope multiplicity >= 2; duplicated character mass is
``sum(cnt * len)`` over duplicated values divided by ``sum(cnt * len)``
over all values (bounded [0, 1] — Gopher's overlap-aware span coverage
is not expressible as a per-gram aggregate, so this engine uses the
multiset mass everywhere and documents the divergence).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rnadam_spark.functions.rounding import hround
from rnadam_spark.functions.runlength import let_, value_counts
from rnadam_spark.functions.shingles import ngrams_of, token_ngrams, tokens


def lines_of(col: Column | str) -> Column:
    """Trimmed, non-empty lines of a text column as a string array."""
    c = F.col(col) if isinstance(col, str) else col
    # the explicit lambda matters: passing F.trim itself would let
    # transform() feed the element INDEX as trim's second (trimStr)
    # parameter — index 1 would strip '1' characters instead of
    # whitespace (observed; pinned by the padded-lines test)
    return F.filter(
        F.transform(F.split(c, "\n"), lambda t: F.trim(t)), lambda t: F.length(t) > 0
    )


def _dup_mass_frac(vc: Column) -> Column:
    """Fraction of ``sum(cnt * len(value))`` mass held by values with
    cnt >= 2, over a value-counts array bound as a lambda variable."""
    def mass(arr: Column) -> Column:
        return F.aggregate(
            arr,
            F.lit(0.0),
            lambda a, x: a + x["cnt"].cast("double") * F.length(x["value"]).cast("double"),
        )

    return mass(F.filter(vc, lambda x: x["cnt"] >= 2)) / F.greatest(mass(vc), F.lit(1.0))


def dup_5gram_char_frac_column(text_col: str | Column = "text") -> Column:
    """``dup_5gram_char_frac`` of :func:`repetition_stats` as one
    Column (6dp-rounded, identical values) — exposed so fused
    single-projection pipelines can threshold on it without a join.
    Prefer :func:`with_dup_5gram_char_frac` when the caller owns the
    DataFrame: this inline form sorts the 5-gram array twice (the
    duplicated-mass numerator and the total-mass denominator each
    reference the value-counts)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return hround(_dup_mass_frac(value_counts(token_ngrams(c, 5))), 6)


def with_dup_5gram_char_frac(
    df: DataFrame, text_col: str = "text", out_col: str = "dup_5gram_char_frac"
) -> DataFrame:
    """``df`` plus the :func:`dup_5gram_char_frac_column` stat, staged
    so the 5-gram tokenize + value-counts sort run once per row."""
    staged = df.withColumn("__vc5", value_counts(token_ngrams(text_col, 5)))
    return staged.withColumn(out_col, hround(_dup_mass_frac(F.col("__vc5")), 6)).drop(
        "__vc5"
    )


def repetition_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, n_lines, dup_line_frac, dup_line_char_frac,
    top_2gram_char_frac, top_3gram_char_frac, dup_5gram_char_frac):
    the Gopher repetition filter inputs, one shuffle-free projection.

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
        lines_of(text).alias("__lns"),
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
        hround(_dup_mass_frac(F.col("__vc_l")), 6).alias("dup_line_char_frac"),
        hround(top_frac(F.col("__vc2")), 6).alias("top_2gram_char_frac"),
        hround(top_frac(F.col("__vc3")), 6).alias("top_3gram_char_frac"),
        hround(_dup_mass_frac(F.col("__vc5")), 6).alias("dup_5gram_char_frac"),
    )


def repetition_stats_pandas(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The vectorized-Python twin of :func:`repetition_stats` — an
    Arrow-batched ``mapInPandas`` computing the IDENTICAL seven columns
    (pinned value-equal by tests/test_repetition.py on real corpus rows
    plus null/empty/whitespace edges), the measured alternative for the
    engine's heaviest interpreted-HOF kernel. The JVM side pays
    interpreted higher-order evaluation per row; this side pays one
    Arrow batch transfer plus Python ``Counter`` work per document —
    5.3x faster at sf10 in the r11 measurement, which the registered
    ``repetition_stats`` row follows.

    Semantics mirrored exactly: tokens split on Java's ``\\s`` class
    (``[ \\t\\n\\x0B\\f\\r]`` — NOT Python's unicode-aware ``\\s``),
    lines trim ASCII spaces only (``F.trim`` semantics), n-gram ties
    break toward the lexicographically largest gram (ASCII == UTF8
    binary order for this corpus), fractions round half-up at 6dp, and
    a NULL text yields Spark's exact shape (NULL n_lines, 0.0
    fractions — pinned empirically by the twin-equality test)."""
    import math
    import re
    from collections import Counter

    out_schema = (
        f"{id_col} bigint, n_lines bigint, dup_line_frac double,"
        " dup_line_char_frac double, top_2gram_char_frac double,"
        " top_3gram_char_frac double, dup_5gram_char_frac double"
    )
    java_ws = re.compile("[ \t\n\x0b\f\r]+")

    def hr(x: float):
        return math.floor(x * 1e6 + 0.5) / 1e6

    def dup_mass(counts: Counter):
        total = sum(c * len(v) for v, c in counts.items())
        dup = sum(c * len(v) for v, c in counts.items() if c >= 2)
        return dup / max(total, 1.0)

    def top_mass(counts: Counter, n_chars: float):
        if not counts:
            return 0.0
        cnt, val = max((c, v) for v, c in counts.items())
        return cnt * len(val) / n_chars

    def batches(it):
        import pandas as pd

        for pdf in it:
            rows = {k: [] for k in (
                id_col, "n_lines", "dup_line_frac", "dup_line_char_frac",
                "top_2gram_char_frac", "top_3gram_char_frac", "dup_5gram_char_frac",
            )}
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                rows[id_col].append(doc_id)
                if text is None:
                    # Spark shape for NULL text: size(NULL) is NULL, and
                    # every fraction's aggregate-over-NULL coalesces to 0.0
                    rows["n_lines"].append(None)
                    for k in list(rows)[2:]:
                        rows[k].append(0.0)
                    continue
                n_chars = max(len(text), 1)
                toks = [t for t in java_ws.split(text) if t]
                lines = [ln for ln in (s.strip(" ") for s in text.split("\n")) if ln]
                vc_l = Counter(lines)
                grams = {
                    n: Counter(
                        " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
                    )
                    for n in (2, 3, 5)
                }
                n_lines = len(lines)
                dup_line = sum(c for c in vc_l.values() if c >= 2) / max(
                    float(n_lines), 1.0
                )
                rows["n_lines"].append(n_lines)
                rows["dup_line_frac"].append(hr(dup_line))
                rows["dup_line_char_frac"].append(hr(dup_mass(vc_l)))
                rows["top_2gram_char_frac"].append(hr(top_mass(grams[2], n_chars)))
                rows["top_3gram_char_frac"].append(hr(top_mass(grams[3], n_chars)))
                rows["dup_5gram_char_frac"].append(hr(dup_mass(grams[5])))
            yield pd.DataFrame(rows)

    return docs.select(id_col, text_col).mapInPandas(batches, out_schema)


def dedup_lines(
    docs: DataFrame,
    min_line_chars: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    split_pattern: str = "\n",
    join_sep: str = "\n",
) -> DataFrame:
    """(doc_id, text, n_lines_kept, n_lines_dropped): remove every
    repeated occurrence of a line across the WHOLE corpus, keeping only
    its first occurrence (smallest ``(doc_id, line_no)``) — the
    C4/RefinedWeb boilerplate-line dedup. Lines whose trimmed length is
    below ``min_line_chars`` never participate (navigation crumbs,
    blank separators — dropping their repeats would mangle layout);
    they are always kept. Documents that lose every line stay in the
    output with empty text — a curation op must never silently drop a
    document row.

    Scale shape (the reason this is NOT a window function): the winner
    per line is ``min(struct(doc_id, line_no))`` — a partial-aggregable
    reduction, so the first shuffle moves one row per DISTINCT line,
    immune to hot-line skew; the join back is line-keyed (AQE splits
    skewed partitions); the reassembly groupBy is doc-keyed and carries
    exactly the input character volume. Three exchanges total, none of
    which collects a hot key into a single task's sort buffer.

    Measured honestly: at sf0.1 the
    ``row_number()`` window twin is FASTER (~0.6s vs ~1.0s — one fewer
    exchange, and no line is hot at that scale). The aggregate form
    stays the default because its advantage is a worst-case bound, not
    a mean: a 100 TB web corpus guarantees boilerplate lines with 10⁸
    occurrences, and the window form funnels each one through a single
    task's sort buffer while this form partial-aggregates it away.

    Granularity is a parameter: ``split_pattern`` is a regex, so
    ``split_pattern=r"\\n{2,}", join_sep="\\n\\n"`` gives
    PARAGRAPH-level dedup (RefinedWeb-style boilerplate blocks) through
    the identical aggregate-then-join machinery."""
    line_no = F.col("line_no")
    line = F.col("line")
    # coalesce: a NULL-text document must behave as the empty page (one
    # empty never-participating line) — posexplode of split(NULL) emits
    # no rows, which would silently drop the document from the rebuild
    # groupBy, violating the contract above (same null convention as
    # the HTML extractor)
    exploded = docs.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), split_pattern)
        ).alias("line_no", "line"),
    )
    participating = F.length(F.trim(line)) >= min_line_chars
    winners = (
        exploded.filter(participating)
        .groupBy("line")
        .agg(F.min(F.struct(F.col(id_col).alias("d"), line_no.alias("p"))).alias("w"))
    )
    flagged = exploded.join(winners, "line", "left").withColumn(
        "keep",
        F.col("w").isNull()
        | ((F.col("w.d") == F.col(id_col)) & (F.col("w.p") == line_no)),
    )
    kept_lines = F.array_sort(
        F.collect_list(F.when(F.col("keep"), F.struct(line_no.alias("p"), line.alias("l"))))
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.array_join(F.transform(kept_lines, lambda x: x["l"]), join_sep).alias(text_col),
            F.sum(F.col("keep").cast("bigint")).alias("n_lines_kept"),
            F.sum((~F.col("keep")).cast("bigint")).alias("n_lines_dropped"),
        )
    )


def compression_signals(
    docs: DataFrame, level: int = 6, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, n_bytes, n_compressed, compression_ratio): zlib
    compressibility per document — the cheap whole-document redundancy
    signal several published pipelines threshold on (templated/spun
    pages compress far better than prose; ratio = compressed/raw, so
    LOW means repetitive). Complements the n-gram repetition stats:
    zlib sees long-range duplication the 5-gram window misses.

    zlib is not expressible in Catalyst, so this is one of the engine's
    few sanctioned Python boundaries: Arrow-batched ``mapInPandas``
    (the multimodal decoder convention — never a row-at-a-time UDF).
    Per-row work is O(bytes) C code; the stage is embarrassingly
    parallel, adds no shuffle, and emits three scalars per document."""
    import pandas as pd  # noqa: F401 — ensures a clear import error driver-side

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_bytes", T.LongType()),
            T.StructField("n_compressed", T.LongType()),
            T.StructField("compression_ratio", T.DoubleType()),
        ]
    )

    def batches(it):
        import math
        import zlib

        import pandas as pd

        for pdf in it:
            texts = pdf[text_col].fillna("")
            raw = [t.encode("utf-8") for t in texts]
            comp = [len(zlib.compress(b, level)) for b in raw]
            nb = [len(b) for b in raw]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "n_bytes": nb,
                    "n_compressed": comp,
                    "compression_ratio": [
                        math.floor(c / max(n, 1) * 1e6 + 0.5) / 1e6
                        for c, n in zip(comp, nb)
                    ],
                }
            )

    return docs.select(F.col(id_col), F.col(text_col)).mapInPandas(batches, schema)


def boilerplate_ngrams(
    docs: DataFrame,
    n: int = 5,
    min_df: int = 2,
    top_k: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(gram, df, tf): corpus-wide word ``n``-grams ranked by DOCUMENT
    frequency — the boilerplate miner. Grams that recur across many
    documents (site chrome, licence blurbs, cookie banners) are exactly
    the phrases worth feeding to :func:`~rnadam_spark.operators.text.
    filter_bad_phrases` or auditing before span dedup; term frequency
    alone can't find them (one spammy doc can repeat a gram 10^4 times
    without it being boilerplate).

    Shape: the in-row value-counts kernel collapses each document's
    grams to (gram, per-doc count) BEFORE the explode, so ``df`` is a
    plain ``count(*)`` — no ``count(distinct doc_id)`` expansion and no
    per-doc duplicate rows on the wire — then ONE groupBy(gram) with
    map-side partial aggregation. A gram occurring in 10^8 documents
    arrives at its reducer as one partial row per map task, never as
    10^8 rows. ``top_k`` ranks by df via TakeOrdered (no global sort);
    ties break (tf desc, gram asc) so both engines agree."""
    from rnadam_spark.functions.runlength import with_value_counts

    per_doc = (
        with_value_counts(
            docs.select(F.col(id_col), F.col(text_col)), token_ngrams(text_col, n), "gc"
        )
        .select(F.explode("gc").alias("t"))
        .select(F.col("t.value").alias("gram"), F.col("t.cnt").alias("tf_doc"))
    )
    out = (
        per_doc.groupBy("gram")
        .agg(
            F.count("*").cast("bigint").alias("df"),
            F.sum("tf_doc").cast("bigint").alias("tf"),
        )
        .filter(F.col("df") >= min_df)
    )
    if top_k is not None:
        out = out.orderBy(F.col("df").desc(), F.col("tf").desc(), "gram").limit(top_k)
    return out
