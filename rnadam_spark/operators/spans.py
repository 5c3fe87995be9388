"""Cross-document duplicated-span detection and removal.

Document-level dedup (exact / MinHash / SimHash, operators/dedup.py)
misses the most common real-world duplication: long verbatim passages —
license blocks, navigation boilerplate, quoted articles — embedded in
otherwise-distinct documents. Lee et al. 2021 ("Deduplicating Training
Data Makes Language Models Better") remove every exact substring of
>= 50 tokens that occurs more than once in the corpus; this module is
that operator, Spark-first.

The paper builds a single corpus-wide suffix array — inherently
sequential and memory-hungry. The distributed re-expression: a span of
``min_tokens`` is duplicated iff every length-``min_tokens`` token
window inside it is duplicated, so detecting duplicated WINDOWS and
merging overlapping hits per document reconstructs exactly the maximal
duplicated spans, with only bulk-synchronous primitives:

1. every document's length-``min_tokens`` token windows hash in one
   Arrow-batched pass (spec ``xxhash64`` over the window's joined
   tokens, :func:`_window_hash_rows`);
2. one groupBy(window_hash) marks hashes occurring >= 2 times in the
   corpus (map-side partial counts; the count cap means the aggregate
   state per key is one BIGINT no matter how hot a boilerplate gram is);
3. hits join back on the hash and re-group by doc_id — per-document
   state is its own hit-position list, bounded by document length like
   every in-row kernel here;
4. hit positions merge into maximal spans with one in-row fold.

Total cost: ONE scan of the corpus (the window table materializes at a
stage boundary so its two consumers — the dup-count aggregate and the
hits join — don't re-execute the tokenize/hash subtree), two shuffles
(window hash, doc_id) + one hash-keyed join — the same shape as
``ngram_jaccard_pairs``. No suffix array, no sort of the corpus,
nothing on the driver.

Caveats, pinned in tests: windows hash — two different windows colliding
under xxhash64 (p ~ 2^-64 per pair) would over-mark; removal operates at
token granularity and re-joins kept tokens with single spaces (run
``normalize_text`` upstream so whitespace is already canonical);
documents duplicated IN WHOLE are entirely duplicated spans — run exact
dedup (keep one copy) first, or both copies are emptied, which is the
correct Lee-et-al semantics but rarely what a pipeline wants.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rnadam_spark.functions.shingles import tokens


def _window_hash_rows(
    docs: DataFrame, min_tokens: int, text_col: str, id_col: str
) -> DataFrame:
    """(doc_id, pos, wh): the posexploded window-hash table via an
    Arrow/numpy kernel — row-identical to the JVM
    ``posexplode(transform(token_ngrams(...), xxhash64))`` form it
    replaced (r13, guide §4.2; that form is the oracle in
    tests/test_spans.py).

    Exactness: tokenization is the simhash kernel's pinned
    ``re.split(r"\\s+", ..., re.ASCII)`` ≡ Java ``\\s`` parity; the
    window gram is ``" ".join(toks[i:i+n])``, whose UTF-8 bytes are a
    SUBSTRING of the single-space-joined text (tokens contain no
    ASCII space, and no UTF-8 continuation byte is 0x20, so the 0x20
    bytes of the joined buffer are exactly the separators) — window
    byte ranges come from one separator scan, no per-window string is
    ever built; ``wh`` is the spec XXH64 of those bytes with Spark's
    seed 42 (functions/xxh64_np.py, parity pinned bit-for-bit against
    ``F.xxhash64``)."""
    id_type = docs.schema[id_col].dataType.simpleString()

    def batches(it):
        import re

        import numpy as np
        import pandas as pd

        from rnadam_spark.functions.xxh64_np import xxh64_ranges

        ws = re.compile(r"\s+", flags=re.ASCII)
        for pdf in it:
            ids, poss, bufs, starts, lens = [], [], [], [], []
            base = 0
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                toks = [t for t in ws.split(text) if t]
                n_win = len(toks) - (min_tokens - 1)
                if n_win < 1:
                    continue
                nb = " ".join(toks).encode("utf-8")
                arr = np.frombuffer(nb, dtype=np.uint8)
                sp = np.nonzero(arr == 32)[0]
                tok_starts = np.concatenate(([0], sp + 1))
                tok_ends = np.concatenate((sp, [len(arr)]))
                w_starts = tok_starts[:n_win]
                w_lens = tok_ends[min_tokens - 1 :] - w_starts
                ids.extend([doc_id] * n_win)
                poss.append(np.arange(n_win, dtype=np.int32))
                starts.append(w_starts + base)
                lens.append(w_lens)
                bufs.append(nb)
                base += len(nb)
            if not ids:
                continue
            buf = np.frombuffer(b"".join(bufs), dtype=np.uint8)
            wh = xxh64_ranges(
                buf, np.concatenate(starts), np.concatenate(lens)
            )
            yield pd.DataFrame(
                {id_col: ids, "pos": np.concatenate(poss), "wh": wh}
            )

    return docs.select(id_col, text_col).mapInPandas(
        batches, f"{id_col} {id_type}, pos int, wh bigint"
    )


def duplicated_spans(
    docs: DataFrame,
    min_tokens: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(doc_id, span_start, span_end, span_tokens): maximal token spans
    (0-based, inclusive token indices) whose every ``min_tokens`` window
    occurs >= 2 times corpus-wide — i.e. the passages Lee et al. 2021
    would delete. A span's tokens are ``[span_start, span_end]`` and
    ``span_tokens = span_end − span_start + 1 >= min_tokens``.

    Occurrences count across AND within documents (a passage pasted
    twice into one document is duplicated text all the same).

    The ``windows`` table feeds BOTH the duplicate-count aggregate and
    the hits join, so it is materialized here (the same stage-boundary
    discipline as the curate CLI; ``checkpoint_dir`` switches to
    reliable checkpoints) — without that, Spark re-executes the
    scan → tokenize → window-hash → posexplode subtree, the dominant
    cost of the whole pass, once per consumer.

    The windows table comes from :func:`_window_hash_rows` — the
    interpreted per-window ``array_join(slice(...))`` string
    construction it replaced measured 11.3s of the 21.3s sf10 detection
    pass (OPTIMIZATION_r13.md).
    """
    if min_tokens < 1:
        raise ValueError("min_tokens must be >= 1")
    from rnadam_spark.lineage import truncate_lineage

    windows = truncate_lineage(
        _window_hash_rows(docs, min_tokens, text_col, id_col), checkpoint_dir
    )
    dup = (
        windows.groupBy("wh")
        .agg(F.count("*").alias("_cnt"))
        .filter(F.col("_cnt") >= 2)
        .select("wh")
    )
    # hit windows per doc; the dup set is unbounded (boilerplate-heavy
    # corpora mark most windows) so the join stays AQE-planned, not
    # force-broadcast
    hits = windows.join(dup, "wh").groupBy(id_col).agg(
        F.array_sort(F.collect_list("pos")).alias("_hits")
    )
    spans = _merge_hit_positions(F.col("_hits"), min_tokens)
    return hits.select(F.col(id_col), F.explode(spans).alias("s")).select(
        id_col,
        F.col("s.s").cast("bigint").alias("span_start"),
        F.col("s.e").cast("bigint").alias("span_end"),
        (F.col("s.e") - F.col("s.s") + 1).cast("bigint").alias("span_tokens"),
    )


def _merge_hit_positions(hits: Column, min_tokens: int) -> Column:
    """Fold a SORTED array of duplicated-window start positions into
    maximal disjoint spans: window ``p`` covers tokens [p, p+L−1], and
    a window starting at or before ``end + 1`` extends the open span
    (touching spans cover contiguous tokens, so they merge). One
    ``F.aggregate`` — JVM-side, per-row state bounded by the hit list.
    """
    acc_t = "struct<spans: array<struct<s: int, e: int>>, cs: int, ce: int>"
    init = F.struct(
        F.array().cast("array<struct<s: int, e: int>>").alias("spans"),
        F.lit(None).cast("int").alias("cs"),
        F.lit(None).cast("int").alias("ce"),
    ).cast(acc_t)

    def step(acc: Column, p: Column) -> Column:
        w_end = (p + F.lit(min_tokens - 1)).cast("int")
        open_new = F.struct(acc["spans"].alias("spans"), p.cast("int").alias("cs"), w_end.alias("ce"))
        extend = F.struct(
            acc["spans"].alias("spans"),
            acc["cs"].alias("cs"),
            F.greatest(acc["ce"], w_end).alias("ce"),
        )
        close_and_open = F.struct(
            F.concat(
                acc["spans"],
                F.array(F.struct(acc["cs"].alias("s"), acc["ce"].alias("e"))),
            ).alias("spans"),
            p.cast("int").alias("cs"),
            w_end.alias("ce"),
        )
        return (
            F.when(acc["cs"].isNull(), open_new.cast(acc_t))
            .when(p <= acc["ce"] + 1, extend.cast(acc_t))
            .otherwise(close_and_open.cast(acc_t))
        )

    def finish(acc: Column) -> Column:
        return F.when(acc["cs"].isNull(), acc["spans"]).otherwise(
            F.concat(acc["spans"], F.array(F.struct(acc["cs"].alias("s"), acc["ce"].alias("e"))))
        )

    return F.aggregate(hits, init, step, finish)


def contaminated_spans(
    docs: DataFrame,
    benchmark: DataFrame,
    min_tokens: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """(doc_id, span_start, span_end, span_tokens): maximal corpus
    spans whose every ``min_tokens`` window appears anywhere in the
    BENCHMARK corpus — the surgical form of decontamination.
    ``text.contamination_scores`` answers "how contaminated is this
    document" (drop above a threshold); this answers "exactly WHICH
    passage leaked" so :func:`remove_contaminated_spans` can excise the
    eval text and keep the rest of the document.

    Same shape as :func:`duplicated_spans` with the duplicated-window
    set swapped for the benchmark's window set: eval suites are tiny
    next to a 100 TB corpus, so the distinct benchmark hashes broadcast
    and the corpus-side scan never shuffles until the per-doc re-group.

    Both window tables come from :func:`_window_hash_rows`, the kernel
    :func:`duplicated_spans` uses; only the distinct benchmark hash set
    survives into the join."""
    windows = _window_hash_rows(docs, min_tokens, text_col, id_col)
    bench = (
        _window_hash_rows(
            benchmark.select(F.lit(0).cast("bigint").alias("_bid"), F.col(bench_text_col)),
            min_tokens,
            bench_text_col,
            "_bid",
        )
        .select("wh")
        .distinct()
    )
    hits = windows.join(F.broadcast(bench), "wh").groupBy(id_col).agg(
        F.array_sort(F.collect_list("pos")).alias("_hits")
    )
    spans = _merge_hit_positions(F.col("_hits"), min_tokens)
    return hits.select(F.col(id_col), F.explode(spans).alias("s")).select(
        id_col,
        F.col("s.s").cast("bigint").alias("span_start"),
        F.col("s.e").cast("bigint").alias("span_end"),
        (F.col("s.e") - F.col("s.s") + 1).cast("bigint").alias("span_tokens"),
    )


def remove_contaminated_spans(
    docs: DataFrame,
    benchmark: DataFrame,
    min_tokens: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """(doc_id, text, n_tokens_before, n_tokens_removed): the corpus
    with benchmark-leaked passages excised — keep the document, delete
    the eval text. Every row survives (dropping documents the excision
    emptied is the caller's filter, as in
    :func:`remove_duplicated_spans`, whose removal kernel this
    reuses)."""
    spans = contaminated_spans(
        docs,
        benchmark,
        min_tokens,
        text_col=text_col,
        id_col=id_col,
        bench_text_col=bench_text_col,
    )
    return remove_duplicated_spans(
        docs, min_tokens, spans=spans, text_col=text_col, id_col=id_col
    )


def remove_duplicated_spans(
    docs: DataFrame,
    min_tokens: int = 50,
    spans: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(doc_id, text, n_tokens_before, n_tokens_removed): the corpus
    with every duplicated span's tokens deleted — the Lee et al. 2021
    cleaning step. Pass ``spans`` (from :func:`duplicated_spans`,
    possibly filtered/audited first) to skip re-detection. Rows a cut
    touched re-join their kept tokens with single spaces (normalize
    whitespace upstream); rows with no span keep their text
    byte-for-byte.

    Documents with no duplicated span pass through with their token-
    normalized text (LEFT join on the span table — a row never vanishes
    from the corpus here; dropping now-empty documents is the caller's
    ``filter("n_tokens_before > n_tokens_removed")``).

    One pass deletes every window duplicated in the INPUT, but tokens
    made adjacent by a cut can form new duplicated windows — the same
    property the paper's single pass has. The standard pipeline runs one
    pass; iterate to a fixpoint if required (each pass with any span
    strictly shrinks the corpus, so iteration terminates — pinned by the
    convergence property test).
    """
    if spans is None:
        spans = duplicated_spans(
            docs, min_tokens, text_col=text_col, id_col=id_col, checkpoint_dir=checkpoint_dir
        )
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct(F.col("span_start").alias("s"), F.col("span_end").alias("e"))).alias(
            "_spans"
        )
    )
    toks = tokens(text_col)
    joined = docs.join(per_doc, id_col, "left")
    sp = F.coalesce(F.col("_spans"), F.array().cast("array<struct<s: bigint, e: bigint>>"))
    covered = lambda i: F.exists(sp, lambda s: (s["s"] <= i) & (i <= s["e"]))  # noqa: E731
    kept = F.filter(toks, lambda t, i: ~covered(i.cast("bigint")))
    n_before = F.size(toks).cast("bigint")
    n_removed = (n_before - F.size(kept)).cast("bigint")
    # documents with NO span keep their text byte-for-byte — only rows
    # the cut actually touched pay the token-rejoin whitespace
    # normalization (otherwise a corpus-wide run would flatten every
    # untouched document's newline/paragraph structure)
    new_text = F.when(n_removed > 0, F.array_join(kept, " ")).otherwise(F.col(text_col))
    return joined.select(
        F.col(id_col),
        new_text.alias(text_col),
        n_before.alias("n_tokens_before"),
        n_removed.alias("n_tokens_removed"),
    )
