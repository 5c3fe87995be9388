"""Statistical language-model scoring and corpus shaping.

The CCNet/GPT-3 curation stages this engine was still missing: score
documents with a character n-gram LM (perplexity filtering), score them
with a linear classifier over hashed token features (fastText-style
quality classifier), pack token streams into fixed-budget training
examples, and reweight the corpus toward a temperature-scaled domain
mixture. Generalizes the reference's k-mer statistics machinery (k-mer
counting Quantify.scala:58-60 → n-gram LM counts; the broadcast class
prior map Quantify.scala:79-87 → broadcast model tables).

Scale shapes, in order of appearance:

- LM training is one explode + one groupBy whose output is bounded by
  ``alphabet**n`` rows — at char trigrams over printable ASCII that is
  < 1M rows no matter whether the corpus is 1 GB or 100 TB, so the
  trained model always broadcasts.
- LM scoring and classifier scoring join the exploded corpus against
  broadcast model tables and re-aggregate by ``doc_id``: the corpus
  shuffles exactly once (map-side partial agg on doc_id), the models
  never shuffle.
- Packing windows over a caller-sized hash group, not the whole corpus:
  per-task state is ``corpus/n_groups``, and the output example ids are
  deterministic in content, not partitioning.
- Mixture weighting aggregates to one row per group and broadcasts the
  (tiny) weight table back; the corpus-side pass is a pure projection
  filter, pushdown-friendly like operators/sampling.py.

Every arithmetic choice (poly-hash features, add-one smoothing, ln/exp,
offset-based packing) is reproducible bit-for-bit in DuckDB so the
operators cross-check engine-to-engine like the gated queries do.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rnadam_spark.functions.hashing import MOD, poly_hash_col
from rnadam_spark.functions.rounding import hround
from rnadam_spark.functions.shingles import char_shingles, tokens
from rnadam_spark.operators.sampling import _sample_code

# ---------------------------------------------------------------------------
# Character n-gram language model (CCNet-style perplexity filtering)
# ---------------------------------------------------------------------------


def train_char_lm(
    corpus: DataFrame,
    n: int = 3,
    text_col: str = "text",
    cache: bool = True,
) -> DataFrame:
    """(gram, gram_cnt): character ``n``-gram counts of a reference
    corpus — the model table for :func:`lm_perplexity`. One Arrow pass
    + one groupBy; the result is bounded by ``alphabet**n`` distinct rows
    (not corpus size), so it broadcasts at any scale. Prefix counts are
    NOT materialized here: the scorer derives them from the gram table
    (``prefix_cnt = sum(gram_cnt) group by first n−1 chars``), which
    keeps the two counts consistent by construction — the add-one
    conditional ``(cnt(prefix·c)+1)/(cnt(prefix)+V)`` then sums to 1
    over the smoothed alphabet exactly.

    The result is returned CACHED: the scorer broadcasts it twice (the
    gram table and the prefix roll-up are separate broadcast exchanges,
    and each exchange materializes its child subtree independently), so
    an uncached model re-runs the full training explode per broadcast —
    measured as ~9s of the 30s sf10 lm_perplexity wall (r11 profiling:
    train-once 9.3s, score-given-cached-model 15.8s, full query 29.8s).
    Caching a table bounded by alphabet^n is free at any corpus size.

    The cache's LIFETIME IS CALLER-OWNED (r11 ADVICE: the API hid the
    persistence): the returned DataFrame stays in the session's cache
    until the caller ``unpersist()``s it, so sessions that train many
    models (bench loops, repeated gate rows) accumulate bounded-size
    tables until they release them. Pass ``cache=False`` for a
    fire-once model where the caller would rather pay the one extra
    training pass than own a handle.

    Training is the ``em_global_counts`` Counter form — ONE Counter per
    Arrow batch (a map-side combine in Python) emits one partial row
    per distinct gram per batch, so the exchange moves
    vocabulary-bounded partials instead of the per-position gram
    explosion (guide §2.3 "aggregate before you shuffle"). Counts are
    integer-exact, so the model table EXACTLY equals the explode +
    hash-aggregate form it replaced (pinned by tests/test_lm.py);
    training 8.0 → 2.2s at sf10 (OPTIMIZATION_r13.md)."""

    def batches(it):
        from collections import Counter

        import pandas as pd

        c: Counter = Counter()
        for pdf in it:
            for text in pdf["text"]:
                if text is None:
                    continue
                c.update(text[i : i + n] for i in range(len(text) - n + 1))
        yield pd.DataFrame({"gram": list(c.keys()), "g_p": list(c.values())})

    part = corpus.select(F.col(text_col).alias("text")).mapInPandas(
        batches, "gram string, g_p long"
    )
    model = part.groupBy("gram").agg(F.sum("g_p").cast("bigint").alias("gram_cnt"))
    return model.cache() if cache else model


def lm_perplexity(
    docs: DataFrame,
    lm: DataFrame,
    n: int = 3,
    vocab_size: int = 128,
    text_col: str = "text",
    id_col: str | tuple[str, ...] = "doc_id",
) -> DataFrame:
    """(doc_id, n_grams, avg_neg_log_prob, perplexity): score each
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


def _collect_char_lm(lm: DataFrame, n: int) -> tuple[dict, dict]:
    """(gram_cnt, prefix_cnt) dicts collected from a trained model
    table — bounded by alphabet**n rows, the same boundedness argument
    that broadcasts it in the JVM scorer. Prefix counts derive from the
    gram table in exact integer arithmetic, identically to the JVM
    form's ``sum(gram_cnt) group by prefix``."""
    grams = {r["gram"]: r["gram_cnt"] for r in lm.select("gram", "gram_cnt").collect()}
    prefixes: dict[str, int] = {}
    for g, c in grams.items():
        p = g[: n - 1]
        prefixes[p] = prefixes.get(p, 0) + c
    return grams, prefixes


def _score_chars_py(s: str, G: dict, P: dict, n: int, vocab_size: int):
    """(n_grams, avg_neg_log_prob, perplexity) of one string under the
    collected model — the Python mirror of the JVM scorer's per-gram
    ``ln(prefix_cnt+V) − ln(gram_cnt+1)`` (same expression order, same
    sequential in-row summation the partial aggregate performs, so the
    double bits match), rounded half-up at 6dp like ``hround``."""
    import math

    m = len(s) - n + 1
    if m <= 0:
        return 0, 0.0, 1.0
    acc = 0.0
    for i in range(m):
        g = s[i : i + n]
        acc += math.log(P.get(g[: n - 1], 0) + vocab_size) - math.log(G.get(g, 0) + 1)
    a = acc / m
    r6 = lambda x: math.floor(x * 1e6 + 0.5) / 1e6  # noqa: E731 — hround(x, 6)
    return m, r6(a), r6(math.exp(a))


# dense per-gram value tables index by base-128 codepoint codes, so they
# exist only for n where 128**n stays a bounded model-sized array
_NP_DENSE_MAX = 16_777_216  # 128**n entries (n=3 → 2M · 8B = 16 MB)


def _np_scorer_table(G: dict, P: dict, n: int, vocab_size: int):
    """Dense float64 table VAL[code(g)] = ln(P.get(p,0)+V) − ln(G.get(g,0)+1)
    for every pure-ASCII gram ``g`` (code = base-128 codepoint digits),
    or None when 128**n would be unbounded. Bit-parity with
    :func:`_score_chars_py`: each entry is built from the SAME two
    ``math.log`` doubles (memoized per distinct count — ``math.log`` is
    deterministic for equal integer inputs) joined by one IEEE float64
    subtraction, which numpy and the interpreter evaluate identically."""
    import math

    import numpy as np

    if 128**n > _NP_DENSE_MAX:
        return None
    logP_arr = np.full(128 ** (n - 1), math.log(vocab_size), dtype=np.float64)
    logG_arr = np.zeros(128**n, dtype=np.float64)
    p_memo: dict[int, float] = {}
    g_memo: dict[int, float] = {}
    for p, c in P.items():
        if len(p) == n - 1 and all(ord(x) < 128 for x in p):
            i = 0
            for x in p:
                i = i * 128 + ord(x)
            v = p_memo.get(c)
            if v is None:
                v = p_memo[c] = math.log(c + vocab_size)
            logP_arr[i] = v
    for g, c in G.items():
        if len(g) == n and all(ord(x) < 128 for x in g):
            i = 0
            for x in g:
                i = i * 128 + ord(x)
            v = g_memo.get(c)
            if v is None:
                v = g_memo[c] = math.log(c + 1)
            logG_arr[i] = v
    return logP_arr[np.arange(128**n) // 128] - logG_arr


class _NpCharScorer:
    """Vectorized batch mirror of :func:`_score_chars_py` (r13, guide
    §4.2): one codepoint decode + table gather + per-document sequential
    sum replaces the per-character Python dict/``math.log`` loop.

    Exactness argument, per position: the dense table holds the SAME
    ``math.log`` operand doubles the scalar scorer computes (see
    :func:`_np_scorer_table`); positions containing any non-ASCII
    codepoint fall back to the scalar expression verbatim. Per document:
    the scalar loop's left-to-right ``acc += v`` chain is reproduced by
    ``np.cumsum`` (sequential by construction — every prefix is emitted;
    verified bit-equal against the interpreter loop, unlike ``np.sum``/
    ``reduceat`` which sum pairwise), and no ``-0.0`` can enter the
    chain (``x−y`` with ``x==y`` rounds to ``+0.0``), so seeding the
    scalar loop at ``0.0`` changes no bits. Division, 6dp half-up
    rounding and ``exp`` then run on identical doubles."""

    def __init__(self, G: dict, P: dict, n: int, vocab_size: int, table=None):
        self.G, self.P, self.n, self.V = G, P, n, vocab_size
        self.VAL = table if table is not None else _np_scorer_table(G, P, n, vocab_size)

    def score_batch(self, texts: list) -> list:
        """[(n_grams, avg_neg_log_prob, perplexity)] aligned with
        ``texts`` (entries must be str, not None)."""
        import math

        import numpy as np

        n, V = self.n, self.V
        if self.VAL is None:  # unbounded-table n: scalar path
            return [_score_chars_py(t, self.G, self.P, n, V) for t in texts]
        if not texts:
            return []
        lens = np.array([len(t) for t in texts], dtype=np.int64)
        counts = np.maximum(lens - (n - 1), 0)
        starts = np.zeros(len(lens), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        joined = "".join(texts)
        ch = np.frombuffer(joined.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
        W = len(ch) - n + 1
        vals = None
        if W > 0:
            idx = ch[:W].copy()
            ok = ch[:W] < 128
            for d in range(1, n):
                seg = ch[d : W + d]
                idx = idx * 128 + seg
                ok &= seg < 128
            ends = np.cumsum(lens)
            doc_of = np.repeat(np.arange(len(lens)), lens)[:W]
            valid = (np.arange(W) + n) <= ends[doc_of]
            vals = np.zeros(W, dtype=np.float64)
            m_ok = valid & ok
            vals[m_ok] = self.VAL[idx[m_ok]]
            for pos in np.nonzero(valid & ~ok)[0]:
                g = joined[pos : pos + n]
                vals[pos] = math.log(self.P.get(g[: n - 1], 0) + V) - math.log(
                    self.G.get(g, 0) + 1
                )
        out = []
        r6 = lambda x: math.floor(x * 1e6 + 0.5) / 1e6  # noqa: E731 — hround(x, 6)
        for d in range(len(lens)):
            m = int(counts[d])
            if m <= 0:
                out.append((0, 0.0, 1.0))
                continue
            s = int(starts[d])
            acc = float(np.cumsum(vals[s : s + m])[-1])
            a = acc / m
            out.append((m, r6(a), r6(math.exp(a))))
        return out


def lm_perplexity_pandas(
    docs: DataFrame,
    lm: DataFrame,
    n: int = 3,
    vocab_size: int = 128,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Arrow-batched pandas twin of :func:`lm_perplexity` (scalar id
    only) — same four rounded columns, pinned value-equal by
    tests/test_lm.py. The r11 measured-twin rule extended to the LM
    scorer: the JVM form pays an interpreted char_shingles transform,
    a corpus-sized explode, and two broadcast-join probes per gram,
    where Python scores a document with two dict lookups per position
    against the collected (alphabet**n-bounded) model — measured
    2.8x at sf10 / 3.9x at sf100 for the registered corpus-self-train
    row (r12).

    Parity contract with the JVM twin, mirrored here exactly:
    documents shorter than ``n`` (and NULL text, via explode_outer)
    keep an (id, 0, 0.0, 1.0) row; per-gram arithmetic, in-row
    summation order, and 6dp half-up rounding are identical.

    EAGER AT CONSTRUCTION: collecting the model runs the (cached or
    bounded) training plan when this function is CALLED — callers
    composing build-then-maybe-execute plans should defer the call or
    use the lazy :func:`lm_perplexity`. Same note on
    :func:`paragraph_perplexity_pandas`."""
    import pandas as pd

    G, P = _collect_char_lm(lm, n)
    # the dense value table builds ONCE here (driver) and ships with the
    # dicts — per-task rebuilds would pay the |model| loop per task
    bc = docs.sparkSession.sparkContext.broadcast(
        (G, P, _np_scorer_table(G, P, n, vocab_size))
    )
    id_type = dict(docs.dtypes)[id_col]
    out_schema = (
        f"{id_col} {id_type}, n_grams bigint, avg_neg_log_prob double, perplexity double"
    )

    def batches(it):
        Gb, Pb, Tb = bc.value
        scorer = _NpCharScorer(Gb, Pb, n, vocab_size, table=Tb)
        for pdf in it:
            ids = list(pdf[id_col])
            scores = scorer.score_batch([t or "" for t in pdf[text_col]])
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids),
                    "n_grams": [s[0] for s in scores],
                    "avg_neg_log_prob": [s[1] for s in scores],
                    "perplexity": [s[2] for s in scores],
                }
            )

    return docs.select(id_col, text_col).mapInPandas(batches, out_schema)


def perplexity_buckets(
    docs: DataFrame,
    lm: DataFrame,
    n: int = 3,
    vocab_size: int = 128,
    cuts: tuple[float, float] = (1.0 / 3, 2.0 / 3),
    accuracy: int = 10_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, perplexity, ppl_bucket): CCNet's head/middle/tail
    split — score every document with :func:`lm_perplexity`, then
    bucket by the corpus-wide perplexity quantiles at ``cuts``
    (head = most fluent). Downstream pipelines keep head+middle, or
    sample the tail at a reduced rate, instead of a hard threshold.

    The two cut points come from one ``percentile_approx`` aggregate
    (fixed-size sketch per partition — no sort, no window) broadcast
    back onto the scored table: scoring's single doc_id exchange stays
    the only corpus-wide shuffle."""
    from rnadam_spark.lineage import truncate_lineage

    # materialized once: the scored table feeds BOTH the percentile
    # aggregate and the final projection — without the boundary the
    # whole corpus-wide Arrow scoring pass executes twice (the
    # dsir_select discipline; r12 review)
    scored = truncate_lineage(
        lm_perplexity_pandas(
            docs, lm, n=n, vocab_size=vocab_size, text_col=text_col, id_col=id_col
        ).select(id_col, "perplexity")
    )
    thresholds = scored.agg(
        F.percentile_approx("perplexity", list(cuts), accuracy).alias("_t")
    )
    return scored.crossJoin(F.broadcast(thresholds)).select(
        id_col,
        "perplexity",
        F.when(F.col("perplexity") <= F.col("_t")[0], F.lit("head"))
        .when(F.col("perplexity") <= F.col("_t")[1], F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("ppl_bucket"),
    )


def paragraph_perplexity(
    docs: DataFrame,
    lm: DataFrame,
    n: int = 3,
    vocab_size: int = 128,
    split_pattern: str = r"\n{2,}",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, para_idx, n_grams, avg_neg_log_prob, perplexity):
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
    return lm_perplexity(
        paras, lm, n=n, vocab_size=vocab_size, text_col="_para",
        id_col=(id_col, "para_idx"),
    )


def paragraph_perplexity_pandas(
    docs: DataFrame,
    lm: DataFrame,
    n: int = 3,
    vocab_size: int = 128,
    split_pattern: str = r"\n{2,}",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Arrow-batched pandas twin of :func:`paragraph_perplexity` —
    same five rounded columns, pinned value-equal by tests/test_lm.py;
    measured 3.1x at sf10 (r12). One Python
    pass does split + numbering + scoring against the collected model,
    replacing posexplode + a second corpus-sized gram explode + two
    join probes per char position.

    Parity notes mirrored from the JVM twin: ``para_idx`` numbers ALL
    split segments (blank ones keep their index and are then dropped);
    a NULL-text document vanishes entirely (posexplode of split(NULL)
    emits no rows); non-blank paragraphs shorter than ``n`` keep an
    (id, idx, 0, 0.0, 1.0) row. ``split_pattern`` runs under Python
    ``re`` here and Java regex in the JVM twin — the shipped patterns
    (``\\n{2,}``, literal separators) are dialect-neutral; patterns
    that are not must stay on the JVM form."""
    import re

    import pandas as pd

    G, P = _collect_char_lm(lm, n)
    bc = docs.sparkSession.sparkContext.broadcast(
        (G, P, _np_scorer_table(G, P, n, vocab_size))
    )
    splitter = re.compile(split_pattern)
    id_type = dict(docs.dtypes)[id_col]
    out_schema = (
        f"{id_col} {id_type}, para_idx int, n_grams bigint, "
        "avg_neg_log_prob double, perplexity double"
    )

    def batches(it):
        Gb, Pb, Tb = bc.value
        scorer = _NpCharScorer(Gb, Pb, n, vocab_size, table=Tb)
        for pdf in it:
            ids, idxs, paras = [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                for idx, para in enumerate(splitter.split(text)):
                    # strip(' '), not strip(): the JVM twin's blank
                    # filter is F.trim, which removes ONLY spaces — a
                    # segment of just '\n' is non-blank there
                    if not para.strip(" "):
                        continue
                    ids.append(did)
                    idxs.append(idx)
                    paras.append(para)
            scores = scorer.score_batch(paras)
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids),
                    "para_idx": idxs,
                    "n_grams": [s[0] for s in scores],
                    "avg_neg_log_prob": [s[1] for s in scores],
                    "perplexity": [s[2] for s in scores],
                }
            )

    return docs.select(id_col, text_col).mapInPandas(batches, out_schema)


# ---------------------------------------------------------------------------
# Linear quality classifier over hashed token features (fastText-style)
# ---------------------------------------------------------------------------

N_FEATURES = 1 << 18
_FEAT_PREFIX = 8  # poly-hash reads the first 8 chars of the padded token


def feature_bucket(token: Column | str, n_features: int = N_FEATURES) -> Column:
    """Hashed-feature bucket of a token: poly-hash of the first 8 chars
    of ``rpad(lower(token), 8, ' ')``, mod ``n_features``. The rpad
    pins every hashed position (no empty-substring edge), and the
    arithmetic is the engine-portable polynomial from
    functions/hashing.py, so a DuckDB oracle buckets identically."""
    c = F.col(token) if isinstance(token, str) else token
    return poly_hash_col(F.rpad(F.lower(c), _FEAT_PREFIX, " "), _FEAT_PREFIX) % n_features


def classifier_score(
    docs: DataFrame,
    weights: DataFrame,
    intercept: float = 0.0,
    n_features: int = N_FEATURES,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_tokens, margin, prob): score documents under a linear
    text classifier ``sigmoid(intercept + Σ_tokens w[bucket(token)])``
    — the fastText-style quality/topicality classifier of GPT-3/CCNet
    pipelines, applied corpus-side. ``weights`` is (bucket BIGINT,
    weight DOUBLE) — train with :func:`train_quality_classifier` or
    supply hand-built weights (e.g. curated wordlists).

    Term frequency is implicit: the token explode emits one row per
    occurrence, so summing the joined weight per document IS the
    tf-weighted dot product — no (doc, bucket) pre-aggregation, one
    ``doc_id`` shuffle with map-side partial agg, weights broadcast.
    Token-less documents score ``sigmoid(intercept)``."""
    w = F.broadcast(weights.select("bucket", "weight"))
    doc_tokens = docs.select(
        F.col(id_col), F.explode_outer(tokens(text_col)).alias("tok")
    ).withColumn("bucket", feature_bucket(F.col("tok"), n_features))
    margin = F.lit(intercept) + F.coalesce(
        F.sum(F.when(F.col("tok").isNotNull(), F.coalesce(F.col("weight"), F.lit(0.0)))),
        F.lit(0.0),
    )
    return (
        doc_tokens.join(w, "bucket", "left")
        .groupBy(id_col)
        .agg(
            F.count("tok").cast("bigint").alias("n_tokens"),
            hround(margin, 6).alias("margin"),
            hround(F.lit(1.0) / (F.lit(1.0) + F.exp(-margin)), 6).alias("prob"),
        )
    )


def classifier_score_inrow(
    docs: DataFrame,
    weights: dict[int, float],
    intercept: float = 0.0,
    n_features: int = N_FEATURES,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming-compatible twin of :func:`classifier_score`: the
    (sparse) trained weights ride in the plan as a literal map — the
    k-means broadcast-centroid pattern — and the tf-weighted dot
    product folds over the token array in-row. Zero shuffle, zero
    state: a pure projection, so it composes onto an unbounded stream
    (``readStream`` → this → sink) exactly like the stateless curation
    ops, and on batch it scores at scan speed with no doc_id exchange.

    Use this when the model fits a plan literal (10³–10⁵ nonzero
    coefficients — trained models are sparse); use
    :func:`classifier_score`'s broadcast-join form for dense or huge
    weight tables. ``weights`` is ``{bucket: weight}`` — collect a
    trained weights DataFrame with ``dict(w.collect())``."""
    pairs: list[Column] = []
    for k in sorted(weights):
        pairs.extend([F.lit(int(k)).cast("bigint"), F.lit(float(weights[k]))])
    wmap = F.create_map(*pairs) if pairs else F.create_map().cast("map<bigint,double>")
    toks = tokens(text_col)
    dot = F.aggregate(
        toks,
        F.lit(0.0),
        lambda acc, t: acc
        + F.coalesce(F.try_element_at(wmap, feature_bucket(t, n_features)), F.lit(0.0)),
    )
    margin = F.lit(intercept) + dot
    return docs.select(
        F.col(id_col),
        F.size(toks).cast("bigint").alias("n_tokens"),
        hround(margin, 6).alias("margin"),
        hround(F.lit(1.0) / (F.lit(1.0) + F.exp(-margin)), 6).alias("prob"),
    )


def train_quality_classifier(
    labeled: DataFrame,
    n_features: int = 1 << 12,
    label_col: str = "label",
    text_col: str = "text",
    id_col: str = "doc_id",
    max_iter: int = 50,
    reg_param: float = 1e-4,
):
    """Fit the linear classifier :func:`classifier_score` applies:
    logistic regression (pyspark.ml, distributed L-BFGS) over the same
    poly-hash token buckets the scorer uses, so trained weights and
    corpus-side scoring can never disagree on the feature map.

    Labeled sets are small (thousands of rows hand- or heuristically
    labeled) next to the corpus being scored, so the default feature
    dimension is modest and the per-document feature vector is built
    DENSE, entirely JVM-side: tf per (doc, bucket), scattered into a
    length-``n_features`` array by a ``transform``+map lookup, then
    ``array_to_vector`` — no Python boundary anywhere (pandas UDFs
    cannot carry VectorUDT through Arrow, and a row-at-a-time UDF is
    banned in this engine). Returns ``(weights_df, intercept)`` with
    ``weights_df`` = (bucket, weight) holding the non-zero
    coefficients."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import array_to_vector

    tf = (
        labeled.select(
            F.col(id_col), F.col(label_col), F.explode(tokens(text_col)).alias("tok")
        )
        .withColumn("bucket", feature_bucket(F.col("tok"), n_features))
        .groupBy(id_col, label_col, "bucket")
        .agg(F.count("*").cast("double").alias("tf"))
        .groupBy(id_col, label_col)
        .agg(F.map_from_arrays(F.collect_list("bucket"), F.collect_list("tf")).alias("fm"))
    )
    # try_element_at: missing map key -> null -> 0.0 (plain [] / element_at
    # would throw under ANSI mode, which this engine leaves at the default)
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(n_features - 1)),
        lambda i: F.coalesce(F.try_element_at(F.col("fm"), i.cast("bigint")), F.lit(0.0)),
    )
    train = tf.select(
        F.col(label_col).cast("double").alias("label"),
        array_to_vector(dense).alias("features"),
    )
    model = LogisticRegression(maxIter=max_iter, regParam=reg_param).fit(train)
    coeffs = model.coefficients
    spark = labeled.sparkSession
    weights = spark.createDataFrame(
        [(int(i), float(v)) for i, v in zip(coeffs.indices, coeffs.values)]
        if hasattr(coeffs, "indices")
        else [(i, float(v)) for i, v in enumerate(coeffs) if v != 0.0],
        "bucket bigint, weight double",
    )
    return weights, float(model.intercept)


# ---------------------------------------------------------------------------
# Sequence packing (context-window filling)
# ---------------------------------------------------------------------------


def pack_sequences(
    docs: DataFrame,
    budget: int,
    n_tokens: Column | str = None,
    n_groups: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_tokens, pack_group, pack_id, pack_offset): assign each
    document a position in a stream of fixed-``budget`` training
    examples — GPT-style packing, where documents are concatenated in a
    deterministic order and the stream is cut every ``budget`` tokens
    (a document whose span crosses a cut continues into the next
    example; ``pack_offset`` is where it starts inside its example).

    Order is pinned to ``(pack_group, doc_id)``: the same corpus packs
    identically on any cluster layout or partitioning. The running sum
    windows over ``pack_group = doc_id % n_groups``, NOT the whole
    corpus — a global stream offset would be one task's window; here
    each group is an independent stream of ``corpus/n_groups`` rows and
    ``pack_id`` numbers examples within its group (example identity =
    (pack_group, pack_id)). One hash-partition exchange, no global
    sort."""
    from pyspark.sql import Window

    if n_tokens is None:
        nt = F.size(tokens(text_col)).cast("bigint")
    else:
        nt = (F.col(n_tokens) if isinstance(n_tokens, str) else n_tokens).cast("bigint")
    grp = (F.col(id_col).cast("bigint") % n_groups).alias("pack_group")
    w = (
        Window.partitionBy("pack_group")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return (
        docs.select(F.col(id_col), nt.alias("n_tokens"), grp)
        .withColumn("pack_id", F.floor(start / budget))
        .withColumn("pack_offset", start % budget)
    )


# ---------------------------------------------------------------------------
# Domain-mixture reweighting (temperature-scaled sampling)
# ---------------------------------------------------------------------------


def mixture_weights(
    docs: DataFrame,
    group_col: str,
    alpha: float = 0.7,
    text_col: str = "text",
) -> DataFrame:
    """(group, n_docs, n_tokens, token_share, weight): temperature-
    scaled mixture weights over a grouping column (domain, language,
    source) — ``weight ∝ token_share**alpha``, normalized to sum 1.
    ``alpha < 1`` upweights small high-quality sources against the
    crawl bulk (the multilingual-sampling exponent); ``alpha = 1``
    reproduces natural proportions.

    One groupBy to one row per group, then the (tiny) group table
    cross-joins its own scalar totals — the corpus is read once."""
    per_group = docs.groupBy(F.col(group_col).alias("group")).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.size(tokens(text_col))).cast("bigint").alias("n_tokens"),
    )
    totals = per_group.agg(
        F.sum("n_tokens").alias("_tot"),
    )
    shared = per_group.crossJoin(F.broadcast(totals)).withColumn(
        "token_share", F.col("n_tokens").cast("double") / F.col("_tot")
    )
    powed = shared.withColumn("_pw", F.pow("token_share", F.lit(alpha)))
    z = powed.agg(F.sum("_pw").alias("_z"))
    return (
        powed.crossJoin(F.broadcast(z))
        .select(
            "group",
            "n_docs",
            "n_tokens",
            hround(F.col("token_share"), 6).alias("token_share"),
            hround(F.col("_pw") / F.col("_z"), 6).alias("weight"),
        )
    )


def sample_to_mixture(
    docs: DataFrame,
    group_col: str,
    alpha: float = 0.7,
    target_tokens: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 23,
) -> DataFrame:
    """Deterministically sample the corpus toward the temperature-
    ``alpha`` mixture: each group's keep-rate is
    ``min(1, target_tokens·weight / group_tokens)`` and membership is
    the engine's universal-hash verdict on ``doc_id`` (reproducible
    across runs/partitionings/engines, like operators/sampling.py).
    ``target_tokens`` defaults to the corpus total (pure reshaping:
    upweighted groups keep everything, downweighted groups shed).

    Rates cap at 1 — this operator only SHEDS. When a recipe demands
    more tokens from a source than it holds (upsampling), use the
    sibling ``mixing.mixture_sample``, which takes explicit shares and
    replicates documents with an ``n_copy`` index.

    Plan: the weight table (one row per group) broadcasts back onto the
    scan; the corpus-side pass is a projection filter."""
    rates = mixture_weights(docs, group_col, alpha, text_col=text_col)
    if target_tokens is None:
        rates = rates.crossJoin(
            F.broadcast(rates.agg(F.sum("n_tokens").alias("_target")))
        )
    else:
        rates = rates.withColumn("_target", F.lit(target_tokens))
    rates = rates.select(
        F.col("group").alias(group_col),
        F.least(
            F.lit(1.0),
            F.col("_target") * F.col("weight") / F.col("n_tokens").cast("double"),
        ).alias("_keep_rate"),
    )
    return (
        docs.join(F.broadcast(rates), group_col)
        .filter(_sample_code(F.col(id_col), seed) < (F.col("_keep_rate") * MOD).cast("bigint"))
        .drop("_keep_rate")
    )
