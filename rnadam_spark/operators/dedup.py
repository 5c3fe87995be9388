"""Deduplication operators for training-data pipelines.

The reference's equivalence-classing (Index.scala:95-98, SURVEY.md A3)
is itself a group-by-signature dedup; these operators generalize it to
the document domain (SURVEY.md §2.7, §7 step 7):

- exact dedup: content-hash groupBy (one shuffle on the hash);
- MinHash / SimHash: one Arrow-batched numpy pass per document — the
  signature is a function of one row, so nothing is exploded or
  shuffled;
- LSH candidates (``lsh_candidate_pairs``): banded MinHash buckets.
  With a bucket cap, docs with identical signatures collapse to one
  group first and pairs expand from the group grain; uncapped, a band
  equi-self-join. Near-dup clusters (``lsh_near_dup_components``) and
  paragraph families (``paragraph_near_dups``) run their star rounds
  on the same contracted grain;
- n-gram Jaccard: candidate pairs via shared-shingle equi-join
  (explode → join on shingle → per-pair count), the scale-safe
  alternative to the quadratic all-pairs comparison;
- verify stage: exact k-shingle Jaccard for candidate pairs only
  (``verify_pairs``) — candidates → verify → connected components is
  the full three-stage near-dup pipeline;
- incremental ingest: a new shard against the persisted signature
  store (``incremental_near_dups``) — new-vs-old band join plus the
  MinHash component-agreement estimate of Jaccard, so daily shards
  dedup against the full corpus without re-shingling it.

Every hash here is the portable polynomial/affine family from
``rnadam_spark.functions.hashing`` so the DuckDB oracle can reproduce
signatures bit-for-bit.

Scale notes (100 TB): signatures are per-row projections (codegen,
embarrassingly parallel). Pair fan-out is bounded by bucket size; hot
buckets (boilerplate text) need a bucket-size cap — exposed as
``max_bucket`` on ``lsh_candidate_pairs`` and the operators built on
it. Each operator has one physical form per cap setting; the
measurements that chose them are in OPTIMIZATION_r13.md (§21, §23,
§24) and OPTIMIZATION_r14.md (§5).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rnadam_spark.functions.hashing import MOD, hash_family, poly_hash_sql
from rnadam_spark.functions.shingles import char_shingles, token_ngrams

SHINGLE_K = 4
N_HASHES = 16
N_BANDS = 4  # 16 hashes → 4 bands × 4 rows


def exact_dup_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(content_hash, canonical_id, n_dups): exact dedup via md5 groupBy."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("canonical_id"), F.count("*").alias("n_dups"))
    )


def minhash_signatures(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, h0..h15): h_j = min over shingles of
    (a_j·code + b_j) mod P. Documents shorter than the shingle width
    are dropped (they have no shingles to hash).

    One Arrow-batched numpy pass emits the final per-document grain
    directly — the signature is a function of one row, so nothing
    corpus-sized is exploded or shuffled at all. Each batch's texts
    concatenate into one codepoint array (``utf-32-le`` → exact
    ``ascii()`` codepoints), the rolling polynomial codes vectorize
    over it, and the 16 affine minima reduce per-document with
    ``np.minimum.reduceat``. It beat the explode + partial-aggregate
    form 4.9 vs 12.1s at sf10 (OPTIMIZATION_r13.md); that form is the
    parity oracle in tests/test_dedup.py.

    Exactness: ``utf-32-le`` decoding yields the same per-character
    codepoints as Spark's ``ascii(substr(i, 1))``, the rolling
    ``(acc·31 + c) % MOD`` chain is the same int64 arithmetic as
    ``poly_hash_col`` (every intermediate < 32·MOD + 255, far inside
    int64), and the affine minima are exact integer ops — no float
    enters anywhere."""
    k = SHINGLE_K
    fam = hash_family(N_HASHES, 42)
    id_type = docs.schema[id_col].dataType.simpleString()

    def batches(it):
        import numpy as np
        import pandas as pd

        A = np.array([a for a, _ in fam], dtype=np.int64)
        B = np.array([b for _, b in fam], dtype=np.int64)
        for pdf in it:
            ids, texts = [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is not None and len(text) >= k:
                    ids.append(doc_id)
                    texts.append(text)
            if not ids:
                continue
            lens = np.array([len(t) for t in texts], dtype=np.int64)
            ch = np.frombuffer(
                "".join(texts).encode("utf-32-le"), dtype=np.uint32
            ).astype(np.int64)
            # rolling codes over the concatenation; windows that cross a
            # document boundary are masked out below
            c = ch[: len(ch) - k + 1].copy()
            for d in range(1, k):
                c = (c * 31 + ch[d : len(ch) - k + 1 + d]) % MOD
            ends = np.cumsum(lens)
            doc_of = np.repeat(np.arange(len(lens)), lens)[: len(c)]
            codes = c[(np.arange(len(c)) + k) <= ends[doc_of]]
            counts = lens - (k - 1)  # all lens >= k by the filter above
            offsets = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(counts[:-1], out=offsets[1:])
            out = {id_col: pd.Series(ids)}
            for j in range(N_HASHES):
                out[f"h{j}"] = np.minimum.reduceat((codes * A[j] + B[j]) % MOD, offsets)
            yield pd.DataFrame(out)

    schema = f"{id_col} {id_type}, " + ", ".join(
        f"h{j} bigint" for j in range(N_HASHES)
    )
    return docs.select(id_col, text_col).mapInPandas(batches, schema)


def lsh_band_sigs(sigs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, band, band_sig): concatenate each band's row hashes."""
    rows_per_band = N_HASHES // N_BANDS
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "_", *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
                ).alias("band_sig"),
            )
            for b in range(N_BANDS)
        ]
    )
    return sigs.select(id_col, F.explode(bands).alias("bs")).select(
        id_col, F.col("bs.band").alias("band"), F.col("bs.band_sig").alias("band_sig")
    )


def lsh_candidate_pairs(docs: DataFrame, max_bucket: int | None = None) -> DataFrame:
    """(doc_a, doc_b): near-duplicate candidates — pairs agreeing on at
    least one full band. ``max_bucket`` drops degenerate buckets (every
    pair in a bucket of n costs n², so a boilerplate bucket of 10⁶ docs
    would emit 10¹² pairs; capping is the standard scale guard).

    With ``max_bucket`` set, docs sharing an IDENTICAL full signature
    collapse to one representative before banding; banding, the bucket
    cap and the pair dedup all run at the GROUP grain, then group pairs
    expand back to doc pairs exactly once, so no doc-level distinct
    exchange runs (see :func:`_grouped_pairs` for the equality
    argument). Uncapped (``max_bucket=None``), the pairs come from a
    streaming band equi-self-join that tolerates unbounded buckets.

    The grouped form replaced an in-row per-bucket expansion and a
    capped self-join: sf10 5.99s vs 9.44s in-row, min-of-3 interleaved;
    it loses ~0.5s of scheduling floor at sf0.1 (OPTIMIZATION_r13.md
    §21, OPTIMIZATION_r14.md §5)."""
    if max_bucket is not None:
        return _grouped_pairs(minhash_signatures(docs), max_bucket)
    bands = lsh_band_sigs(minhash_signatures(docs))
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(b, ["band", "band_sig"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _signature_groups_and_pairs(
    sigs: DataFrame,
    max_bucket: int,
    weights: DataFrame | None = None,
    checkpoint_dir: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The group grain shared by :func:`_grouped_pairs` (candidate
    pairs), :func:`lsh_near_dup_components` (contracted connected
    components) and :func:`paragraph_near_dups`' text-grain chain.
    Returns ``(groups, gp)``:

    - ``groups``: one row per distinct full signature — (gid, docs,
      cnt) with gid = min member doc_id (groups partition the doc ids,
      so gid is unique), barriered once for all consumers. ``cnt``
      defaults to the member count; with ``weights`` (a (doc_id, _w)
      table — e.g. text-group sizes when the ids are already collapsed
      representatives) it is Σ _w, so the bucket cap below still
      counts ORIGINAL rows;
    - ``gp``: DISTINCT group pairs (g_a, g_b) from the banded buckets,
      including the SELF pair (g, g) for every group appearing in a
      qualifying (2 ≤ Σ cnt ≤ max_bucket) bucket — the tail slice
      starts AT the member (i+1, 1-based) so the self pair rides the
      same single consumer of the bucket table (a separate intra
      branch would re-run the banding + bucket groupBy from the
      barrier).

    band_sig is built with the same concat_ws expression as
    :func:`lsh_band_sigs` (null h-values skip identically on both
    paths, so bucket membership matches even for signatures containing
    nulls).

    ``checkpoint_dir`` switches the groups barrier from
    ``localCheckpoint`` to a reliable checkpoint (r14, ADVICE fix:
    ``lsh_near_dup_components`` documents executor-loss survival but
    only its star rounds were reliably checkpointed — the group-graph
    build now honors the same directory)."""
    from rnadam_spark.lineage import truncate_lineage

    if max_bucket is None:
        # `total <= None` is null and silently drops EVERY bucket
        # (r14, ADVICE fix)
        raise ValueError("signature-group pair expansion requires max_bucket")
    rows_per_band = N_HASHES // N_BANDS
    h_cols = [f"h{i}" for i in range(N_HASHES)]
    if weights is not None:
        sigs = sigs.join(weights, "doc_id")
        w = F.col("_w")
    else:
        w = F.lit(1)
    groups = truncate_lineage(
        sigs.groupBy(*h_cols)
        .agg(
            F.sort_array(F.collect_set("doc_id")).alias("docs"),
            F.sum(w).alias("cnt"),
        )
        .select(
            F.element_at("docs", 1).alias("gid"),
            "docs",
            "cnt",
            *h_cols,
        ),
        checkpoint_dir,
    )
    bands_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "_", *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
                ).alias("band_sig"),
            )
            for b in range(N_BANDS)
        ]
    )
    gb = groups.select("gid", "cnt", F.explode(bands_arr).alias("bs")).select(
        "gid", "cnt", F.col("bs.band").alias("band"), F.col("bs.band_sig").alias("band_sig")
    )
    buckets = (
        gb.groupBy("band", "band_sig")
        .agg(
            F.sort_array(F.collect_list("gid")).alias("gs"),
            F.sum("cnt").alias("total"),
        )
        .filter((F.col("total") >= 2) & (F.col("total") <= max_bucket))
    )
    e1 = buckets.select(F.col("gs"), F.posexplode("gs").alias("i", "g_a"))
    gp = (
        e1.select(
            "g_a",
            F.explode(F.slice("gs", F.col("i") + 1, F.size("gs") - F.col("i"))).alias("g_b"),
        )
        .distinct()
    )
    return groups, gp


def _grouped_pairs(sigs: DataFrame, max_bucket: int) -> DataFrame:
    """Candidate pairs via signature-group collapse — the pair SET of
    doc-level banding with the same cap, derived at the group grain.

    Equality argument: docs with an identical full signature have
    identical band_sigs for every band, so they occupy exactly the same
    buckets; a bucket's doc count equals Σ cnt over its groups, so the
    2..max_bucket qualify test is unchanged; the pairs inside a
    qualifying bucket are exactly (cross-group pairs over its group
    pairs) ∪ (intra-group pairs of its groups), and groups are disjoint,
    so after the GROUP-level distinct each doc pair expands exactly
    once — no doc-level distinct needed. Groups of one expand to zero
    doc pairs in the intra tail-slice below.

    Scale shape: the band exchange and the pair-dedup exchange shrink
    by the signature-duplication factor (4.8× at sf10 — exact dups and
    near-dup farms are the norm in web corpora, and every exact dup is
    a signature dup); a corpus with no duplicate signatures pays one
    extra narrow groupBy. Pinned pair-set-equal to a driver-side bucket
    enumeration by tests/test_dedup.py plus the gate row's DuckDB
    oracle."""
    groups, gp = _signature_groups_and_pairs(sigs, max_bucket)
    return _expand_group_pairs(groups, gp)


def _expand_group_pairs(groups: DataFrame, gp: DataFrame) -> DataFrame:
    """Expand distinct group pairs back to member pairs, exactly once
    each: cross pairs as least/greatest over both member lists, the
    self pair (g, g) as the in-group tail expansion (groups of one
    expand to zero rows)."""
    members = groups.select("gid", "docs")
    ex = gp.join(
        members.select(F.col("gid").alias("g_a"), F.col("docs").alias("da")), "g_a"
    ).join(members.select(F.col("gid").alias("g_b"), F.col("docs").alias("db")), "g_b")
    cross_docs = (
        ex.filter(F.col("g_a") != F.col("g_b"))
        .select(F.explode("da").alias("x"), F.col("db"))
        .select("x", F.explode("db").alias("y"))
        .select(
            F.least("x", "y").alias("doc_a"), F.greatest("x", "y").alias("doc_b")
        )
    )
    intra_docs = (
        ex.filter(F.col("g_a") == F.col("g_b"))
        .select(F.col("da").alias("ds"))
        .select(F.col("ds"), F.posexplode("ds").alias("i", "doc_a"))
        .select(
            "doc_a",
            F.explode(
                F.slice("ds", F.col("i") + 2, F.size("ds") - F.col("i") - 1)
            ).alias("doc_b"),
        )
    )
    return cross_docs.union(intra_docs)


def lsh_near_dup_components(
    docs: DataFrame, max_bucket: int, checkpoint_dir: str | None = None
) -> DataFrame:
    """(node, component): connected components of the
    ``lsh_candidate_pairs(docs, max_bucket)`` graph — the near-dup
    cluster derivation — computed on the CONTRACTED signature-group
    graph (r13 second session).

    Why contraction is exact: in the doc pair graph every signature
    group that appears in a qualifying bucket is a CLIQUE (its intra
    pairs are emitted whenever any of its buckets qualifies), and a
    cross-group pair connects every doc of one group to every doc of
    the other — so doc components are exactly the group components
    expanded to members, and the component label (min doc_id) equals
    the min gid of the group component because gid IS each group's min
    doc_id. The star rounds therefore run over the group graph —
    10.6× fewer edges at sf10 (1.59M vs 16.9M; the doc-level chain
    measured 52–66s, this form ~13s end-to-end) — and doc ids only
    appear in the final expansion join.

    Node coverage matches ``connected_components`` over the doc pairs:
    a doc is in the output iff it occurs in ≥ 1 pair, i.e. its group
    has a cross pair, or has cnt ≥ 2 and sits in a qualifying bucket
    (the self pair marks that; such isolated cliques become their own
    component). Pinned set-equal to the pairs+CC composition by
    tests/test_dedup.py::test_lsh_components_match_pairs_cc and the
    ``dedup_clusters`` gate oracle."""
    from rnadam_spark.operators.clustering import connected_components

    groups, gp = _signature_groups_and_pairs(
        minhash_signatures(docs), max_bucket, checkpoint_dir=checkpoint_dir
    )
    cross = gp.filter(F.col("g_a") != F.col("g_b"))
    cc_g = connected_components(
        cross, src="g_a", dst="g_b", checkpoint_dir=checkpoint_dir
    )
    # isolated internally-connected groups: self pair present (= in a
    # qualifying bucket) and cnt >= 2, with no cross edge — their docs
    # form a component of their own, labelled by the group's min id
    selfg = (
        gp.filter(F.col("g_a") == F.col("g_b"))
        .select(F.col("g_a").alias("gid"))
        .join(groups.filter(F.col("cnt") >= 2).select("gid"), "gid")
        .join(cc_g.select(F.col("node").alias("gid")), "gid", "left_anti")
        .select(F.col("gid").alias("node"), F.col("gid").alias("component"))
    )
    members = groups.select(F.col("gid").alias("node"), "docs")
    return (
        cc_g.union(selfg)
        .join(members, "node")
        .select(F.explode("docs").alias("node"), "component")
    )


def incremental_near_dups(
    new_docs: DataFrame,
    index_sigs: DataFrame,
    est_threshold: float = 0.5,
    max_bucket: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(new_id, index_id, est_jaccard): near-dups between a NEW shard
    and an EXISTING corpus signature store — the production ingest
    path. ``index_sigs`` is persisted :func:`minhash_signatures` output
    (doc_id, h0..h15); the corpus text is never touched.

    Why this exists: re-running all-pairs dedup on corpus+shard is
    O((N+n)²) work for an O(n·N) question. Here only the shard is
    shingled; its bands equi-join the stored bands (cost ∝ shard bands
    × bucket occupancy, never old-vs-old), and similarity is the
    signature estimate — the fraction of agreeing minhash components,
    the textbook unbiased MinHash estimator of Jaccard — so flagging
    needs no second pass over stored text. At 100 TB the signature
    store is ~0.1% of corpus bytes and the band join partitions on
    band_sig like any equi-join.

    ``max_bucket`` caps candidates per (band, band_sig) bucket measured
    on the INDEX side (a boilerplate bucket with 10⁶ stored docs would
    pair every matching new doc with all of them). Pairs below
    ``est_threshold`` are dropped after the estimate."""
    new_sigs = minhash_signatures(new_docs, text_col, id_col)
    nb = lsh_band_sigs(new_sigs, id_col).select(
        F.col(id_col).alias("new_id"), "band", "band_sig"
    )
    ib = lsh_band_sigs(index_sigs, id_col).select(
        F.col(id_col).alias("index_id"), "band", "band_sig"
    )
    if max_bucket is not None:
        ok = (
            ib.groupBy("band", "band_sig")
            .agg(F.count("*").alias("_n"))
            .filter(F.col("_n") <= max_bucket)
            .drop("_n")
        )
        ib = ib.join(ok, ["band", "band_sig"])
    pairs = nb.join(ib, ["band", "band_sig"]).select("new_id", "index_id").distinct()
    ns = new_sigs.select(
        F.col(id_col).alias("new_id"), *[F.col(f"h{j}").alias(f"nh{j}") for j in range(N_HASHES)]
    )
    isg = index_sigs.select(
        F.col(id_col).alias("index_id"),
        *[F.col(f"h{j}").alias(f"ih{j}") for j in range(N_HASHES)],
    )
    matches = sum(
        (F.col(f"nh{j}") == F.col(f"ih{j}")).cast("int") for j in range(N_HASHES)
    )
    return (
        pairs.join(ns, "new_id")
        .join(isg, "index_id")
        .select(
            "new_id",
            "index_id",
            (matches.cast("double") / N_HASHES).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= est_threshold)
    )


def simhash16(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", seed: int = 7
) -> DataFrame:
    """(doc_id, simhash): 16-bit SimHash over distinct tokens.

    Token code = polynomial hash of the token right-padded to 8 chars;
    bit_j = sign of Σ_tokens (2·(affine_j(code) mod 2) − 1).

    One numpy pass per Arrow batch: ``re.split(r'\\s+', ...,
    flags=re.ASCII)`` reproduces Java's default (non-unicode) ``\\s``
    class exactly, distinct tokens pad/truncate to the 8-char hash
    window, codes vectorize as an (n_tokens, 8) codepoint matrix, and
    the 16 signed bit-sums reduce per document with ``np.add.reduceat``.
    It beat the explode + 16-sum aggregate 1.6 vs 2.4s at sf10
    (OPTIMIZATION_r13.md); that form is the parity oracle in
    tests/test_dedup.py. Exactness: distinctness is over FULL tokens
    (two long tokens sharing their first 8 chars both contribute, as
    with array_distinct before hashing); every arithmetic step is
    int64."""
    fam = hash_family(16, seed)
    id_type = docs.schema[id_col].dataType.simpleString()

    def batches(it):
        import re

        import numpy as np
        import pandas as pd

        ws = re.compile(r"\s+", flags=re.ASCII)
        A = np.array([a for a, _ in fam], dtype=np.int64)
        B = np.array([b for _, b in fam], dtype=np.int64)
        pw = np.array([2**j for j in range(16)], dtype=np.int64)
        for pdf in it:
            ids, padded, counts = [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                toks = dict.fromkeys(t for t in ws.split(text) if t)
                if not toks:
                    continue
                ids.append(doc_id)
                counts.append(len(toks))
                padded.append(
                    "".join((t + "________")[:8] for t in toks)
                )
            if not ids:
                continue
            ch = (
                np.frombuffer("".join(padded).encode("utf-32-le"), dtype=np.uint32)
                .astype(np.int64)
                .reshape(-1, 8)
            )
            codes = ch[:, 0].copy()
            for d in range(1, 8):
                codes = (codes * 31 + ch[:, d]) % MOD
            counts = np.array(counts, dtype=np.int64)
            offsets = np.zeros(len(counts), dtype=np.int64)
            np.cumsum(counts[:-1], out=offsets[1:])
            sim = np.zeros(len(counts), dtype=np.int64)
            for j in range(16):
                s = np.add.reduceat((codes * A[j] + B[j]) % MOD % 2 * 2 - 1, offsets)
                sim += (s >= 0) * pw[j]
            yield pd.DataFrame({id_col: pd.Series(ids), "simhash": sim})

    return docs.select(id_col, text_col).mapInPandas(
        batches, f"{id_col} {id_type}, simhash bigint"
    )


def simhash_hamming_pairs(
    docs: DataFrame,
    max_distance: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b, hamming): near-dup candidates by SimHash Hamming
    distance — completes the SimHash path the way LSH banding completes
    MinHash. The 16-bit signature splits into 4 bands of 4 bits; by
    pigeonhole, any pair within Hamming distance ≤ 3 agrees exactly on
    ≥ 1 band, so the band equi-join finds ALL such pairs (plus some
    farther ones, filtered by the exact bit_count(xor) check). Join
    cost ∝ Σ per-(band, value) occupancy², never |docs|²; ``max_bucket``
    drops degenerate bands (same guard as ``lsh_candidate_pairs`` —
    e.g. near-empty documents piling into one signature)."""
    n_bands, band_bits = 4, 4
    sigs = simhash16(docs, text_col, id_col)
    if max_bucket is not None:
        # the guard's count aggregate plus the self-join's two sides
        # would each re-run the signature aggregation; materialize the
        # 1-row-per-doc signature table once at the boundary instead
        # (same stage-boundary discipline as duplicated_spans)
        from rnadam_spark.lineage import truncate_lineage

        sigs = truncate_lineage(sigs)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                ((F.col("simhash") / F.lit(2 ** (band_bits * b))).cast("bigint")
                 % F.lit(2**band_bits)).alias("band_val"),
            )
            for b in range(n_bands)
        ]
    )
    banded = sigs.select(id_col, "simhash", F.explode(bands).alias("bv")).select(
        id_col, "simhash", F.col("bv.band").alias("band"), F.col("bv.band_val").alias("band_val")
    )
    if max_bucket is not None:
        from rnadam_spark.operators.guards import drop_oversize_buckets

        banded = drop_oversize_buckets(banded, ["band", "band_val"], max_bucket)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, ["band", "band_val"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
            .cast("int")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_distance)
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.03,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_gram_df: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b, n_shared, jaccard): word-n-gram Jaccard similarity
    for pairs sharing ≥1 n-gram. Join on the shingle (cost ∝ Σ
    per-shingle df², not |docs|²), then J = shared / (|A| + |B| − shared).

    ``max_gram_df`` drops grams whose document frequency exceeds the
    cap BEFORE the self-join — a stopword-ish gram with df=10⁶ alone
    contributes 10¹² join rows, so without the cap Σdf² is unbounded
    at corpus scale (standard suffix/prefix-filtering practice). Pair
    sizes |A|,|B| keep the full gram counts; only candidate generation
    is pruned, so a capped run under-counts n_shared for pairs whose
    overlap was exclusively hot grams (the usual recall trade)."""
    grams = docs.select(
        F.col(id_col), F.explode(F.array_distinct(token_ngrams(text_col, n))).alias("gram")
    )
    if max_gram_df is not None:
        # four consumers scan the gram table when capped (sizes, the
        # guard count, both self-join sides) — materialize it once
        from rnadam_spark.lineage import truncate_lineage

        grams = truncate_lineage(grams)
    sizes = grams.groupBy(id_col).agg(F.count("*").alias("n_grams"))
    if max_gram_df is not None:
        from rnadam_spark.operators.guards import drop_oversize_buckets

        # aggregate-then-broadcast-anti-join, NOT a df window: a window
        # count would funnel every occurrence of a df=10⁶ stopword gram
        # into one task — the exact hot key the cap guards against
        grams = drop_oversize_buckets(grams, ["gram"], max_gram_df)
    a = grams.alias("a")
    b = grams.alias("b")
    shared = (
        a.join(b, "gram")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_grams").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_grams").alias("size_b"))
    jac = F.col("n_shared") / (F.col("size_a") + F.col("size_b") - F.col("n_shared"))
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", "n_shared", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _packed_shingle_rows(
    docs: DataFrame, k: int, text_col: str, id_col: str
) -> DataFrame:
    """(id, _shp, _sha): each document's DISTINCT k-shingle set, split
    into a sorted ``array<bigint>`` of packed codes (shingles whose k
    codepoints are all BMP, i.e. < 2^16 — packing k×16 bits into one
    int64 is INJECTIVE there, so set sizes and intersections over the
    codes equal those over the strings) and a sorted ``array<string>``
    of the rare astral-containing shingles (empty for normal text).
    The shingle set partitions disjointly between the two columns — a
    BMP-only shingle can never equal an astral-containing one — so
    ``|A∩B| = |A_bmp∩B_bmp| + |A_ast∩B_ast|`` exactly (r14, guide
    §2.3 narrower types + §1.2: the verify stage measured
    COMPUTE-bound on per-pair string hashing; long-specialized
    array_intersect over the packed codes is the same integers at a
    fraction of the per-element cost). Null texts and texts shorter
    than k emit EMPTY arrays, exactly as
    ``array_distinct(char_shingles(...))`` does (parity-pinned)."""
    id_type = docs.schema[id_col].dataType.simpleString()

    def batches(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            ids, shp, sha = [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                ids.append(doc_id)
                if text is None or len(text) < k:
                    # char_shingles yields an EMPTY array for both null
                    # and short texts (pinned by the kernel parity
                    # test: the jvm form emits jaccard 0.0, not null,
                    # for null-text pairs at threshold 0)
                    shp.append(np.array([], dtype=np.int64))
                    sha.append([])
                    continue
                ch = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(
                    np.int64
                )
                n = len(ch) - k + 1
                astral = ch >= 0x10000
                win_ok = ~astral[:n]
                packed = ch[:n].copy()
                for d in range(1, k):
                    win_ok &= ~astral[d : n + d]
                    packed = (packed << 16) | ch[d : n + d]
                shp.append(np.unique(packed[win_ok]))
                if win_ok.all():
                    sha.append([])
                else:
                    idx = np.nonzero(~win_ok)[0]
                    sha.append(sorted({text[i : i + k] for i in idx}))
            yield pd.DataFrame({id_col: ids, "_shp": shp, "_sha": sha})

    return docs.select(id_col, text_col).mapInPandas(
        batches, f"{id_col} {id_type}, _shp array<bigint>, _sha array<string>"
    )


def verify_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    k: int = SHINGLE_K,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_a, doc_b, jaccard): the verify stage of the LSH pipeline —
    exact k-shingle Jaccard computed ONLY for candidate pairs, keeping
    those at or above ``threshold``. Candidates (from
    ``lsh_candidate_pairs`` or ``simhash_hamming_pairs``) trade recall
    for scale; this stage restores precision, and its output is what
    ``clustering.near_dup_clusters`` should consume: candidates →
    verify → connected components is the standard three-stage near-dup
    dedup.

    Scale shape: the pair ids semi-join-prune the corpus FIRST, so
    shingles are computed once, only for documents that actually
    appear in a candidate pair, and materialize as a slim table both
    join sides read (bounded by candidate count). The earlier
    two-sided form shingled the ENTIRE corpus per side and shuffled
    those corpus-wide shingle arrays through both joins — fine at toy
    scale (it measured ~2s faster at sf0.1 unloaded, 13.8s vs 15.9s
    for lsh+verify min-of-3: two eager materialization jobs outweigh
    double-shingling 5,000 docs), a non-starter at 100 TB (two corpus-wide shuffles of shingle
    payloads vs one scan + broadcast-semi prune + candidate-sized
    state; the explicit trade, recorded like the z-order write
    premium). The intersection runs in-row (``array_intersect`` of
    sorted distinct shingles) — no shingle-level explode, no per-pair
    shuffle beyond the two candidate-sized joins.

    Size prefilter (r14, guide §2.3 — shuffle keys/metadata, not
    payloads): |A∩B| ≤ min(|A|,|B|) and |A∪B| ≥ max(|A|,|B|), so
    J(A,B) ≤ min/max — EXACTLY (not probabilistically). Pairs whose
    size ratio already rounds below ``threshold`` therefore cannot
    pass the final filter, and are dropped on an 8-byte-per-side join
    BEFORE the shingle arrays attach: only surviving pairs pull array
    payloads through the verify joins. Monotonicity makes the bound
    airtight across the rounding: IEEE division and ``hround`` are
    both monotone non-decreasing, so real-J ≤ real-bound implies
    hround(J) ≤ hround(bound) — a dropped pair's rounded Jaccard is
    strictly below ``threshold``. With ``threshold == 0`` the ratio
    test (≥ 0) keeps every pair, degenerating to the old plan.

    Packed shingles (r14): the verify stage measured COMPUTE-bound,
    not shuffle-bound, at sf10 — the pairs⋈arrays⋈arrays double join
    runs in 5.7s warm with a trivial projection but 84.2s with the
    ``array_intersect`` jaccard over 4-char STRING elements. So each
    pair's shingle sets intersect as packed int64 codes instead
    (:func:`_packed_shingle_rows`: injective on BMP⁴, astral-containing
    shingles ride a separate — normally empty — string array, and the
    intersection distributes exactly over that disjoint partition —
    null/short texts emit empty arrays exactly as char_shingles does):
    84.2 → 33.96s, verified-pair count identical (14,649,366 at sf10,
    OPTIMIZATION_r14.md). When k·16 > 64 bits the codes no longer fit
    an int64, and the string form runs."""
    from rnadam_spark.functions.rounding import hround
    from rnadam_spark.lineage import truncate_lineage

    # shingle ONLY the documents that appear in a candidate pair, ONCE:
    # the naive two-sided join shingles the ENTIRE corpus twice (the
    # shingle projection sits below each join, so it evaluates for every
    # doc row per side). Candidates are a tiny subset of a 100 TB corpus
    # — prune with a semi-join against the pair ids first, then
    # materialize the slim (id, shingles) table so BOTH sides read rows
    # (bounded by candidate count, not corpus size).
    # the pair table is itself an unmaterialized LSH subtree when fed
    # straight from lsh_candidate_pairs — and it now has three
    # consumers (two id projections + the final join), so it
    # materializes first (16 bytes/row, bounded by candidate count)
    use_packed = k * 16 <= 64
    pairs = truncate_lineage(pairs.select("doc_a", "doc_b"))
    ids = (
        pairs.select(F.col("doc_a").alias(id_col))
        .union(pairs.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    pruned_docs = docs.join(ids, id_col, "leftsemi")
    if use_packed:
        sh = truncate_lineage(_packed_shingle_rows(pruned_docs, k, text_col, id_col))
        szs = sh.select(
            F.col(id_col), (F.size("_shp") + F.size("_sha")).alias("_sz")
        )
        a = sh.select(
            F.col(id_col).alias("doc_a"),
            F.col("_shp").alias("_pa"),
            F.col("_sha").alias("_aa"),
        )
        b = sh.select(
            F.col(id_col).alias("doc_b"),
            F.col("_shp").alias("_pb"),
            F.col("_sha").alias("_ab"),
        )
        inter = F.size(F.array_intersect("_pa", "_pb")) + F.size(
            F.array_intersect("_aa", "_ab")
        )
        sza = F.size("_pa") + F.size("_aa")
        szb = F.size("_pb") + F.size("_ab")
    else:
        sh = truncate_lineage(
            pruned_docs.select(
                F.col(id_col),
                F.array_distinct(char_shingles(text_col, k)).alias("_sh"),
            )
        )
        szs = sh.select(F.col(id_col), F.size("_sh").alias("_sz"))
        a = sh.select(F.col(id_col).alias("doc_a"), F.col("_sh").alias("_sh_a"))
        b = sh.select(F.col(id_col).alias("doc_b"), F.col("_sh").alias("_sh_b"))
        inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
        sza = F.size("_sh_a")
        szb = F.size("_sh_b")
    union = sza + szb - inter
    jac = inter.cast("double") / F.greatest(union, F.lit(1)).cast("double")
    # size prefilter (r14, see docstring): join the 8-byte set sizes
    # first and drop pairs whose exact upper bound min/max already
    # rounds below the threshold — the array payloads below only
    # attach to pairs that can still pass
    bound = F.least("_sza", "_szb").cast("double") / F.greatest(
        F.greatest("_sza", "_szb"), F.lit(1)
    ).cast("double")
    pairs = (
        pairs.join(szs.select(F.col(id_col).alias("doc_a"), F.col("_sz").alias("_sza")), "doc_a")
        .join(szs.select(F.col(id_col).alias("doc_b"), F.col("_sz").alias("_szb")), "doc_b")
        .filter(hround(bound, 6) >= threshold)
        .select("doc_a", "doc_b")
    )
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", hround(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def paragraph_near_dups(
    docs: DataFrame,
    threshold: float = 0.8,
    max_bucket: int | None = 1000,
    min_chars: int = 40,
    split_pattern: str = r"\n{2,}",
    text_col: str = "text",
    id_col: str = "doc_id",
    unit_key: str = "hash",
) -> DataFrame:
    """(doc_id, para_idx): paragraphs that are NEAR-duplicates of
    another paragraph anywhere in the corpus, minus one canonical
    survivor per duplicate family — the fuzzy-granular complement to
    ``repetition.dedup_paragraphs`` (exact match only): lightly-edited
    boilerplate blocks (cookie banners with the site name substituted,
    templated bios, syndicated footers) land in the same family here
    and would slip past an exact hash.

    Pure composition of the document-level machinery over paragraph
    units: posexplode on the same ``split_pattern`` the paragraph
    operators share → each unit keyed by ``xxhash64(doc_id, para_idx)``
    → the existing LSH candidates → exact-Jaccard verify → connected
    components; the canonical survivor per family is the component
    root (min unit hash — deterministic under any partitioning, same
    convention as every dedup operator here). Paragraphs under
    ``min_chars`` are ignored (too short for stable shingle Jaccard —
    headers and one-liners belong to ``dedup_lines``). Feed the output
    straight to ``text.excise_paragraphs`` to rebuild the corpus.

    Scale shape: everything is the proven document path (banded LSH
    with the bucket cap, in-row verify, O(log n) star rounds); the
    paragraph explosion multiplies unit count, not algorithmic
    risk. With ``max_bucket`` set, candidates, verify and star rounds
    run at the DISTINCT-TEXT grain and expand to units at the end
    (:func:`_contracted_unit_losers`; measured 239 → 86s at sf10 against
    the unit-grain chain, OPTIMIZATION_r13.md §24). Uncapped, the
    unit-grain chain runs: self-join candidates → verify → components.

    ``unit_key`` picks the unit-id minting: the default ``"hash"``
    (``xxhash64(doc_id, para_idx)``) works for ANY id type — including
    the negative xxhash64-minted ids WARC documents carry — but DuckDB
    cannot recompute xxhash64, so the canonical-survivor choice (min
    unit key) is not SQL-re-derivable in that mode. ``"encoded"``
    (``doc_id·2²⁰ + para_idx``) is fully engine-portable — it is the
    gate-oracle mode (registered round 9) — and collision-FREE, but
    requires integral doc ids in [0, 2⁴³) and < 2²⁰ paragraphs per
    document; min encoded key = lexicographic min (doc_id, para_idx),
    so the canonical is the first paragraph of the smallest doc in
    each family. The underlying kernels — banding, Jaccard verify,
    connected components — also keep their own gate oracles on the
    document path.

    Collision bound (``"hash"`` mode): a 64-bit key over P paragraphs
    collides with probability ≈ P²/2⁶⁵ (birthday) — negligible below
    ~10⁸ units, but at full crawl scale (10¹⁰⁺ paragraphs) expect ~10³
    spurious unit merges: a collided pair joins two unrelated families,
    which can excise a wrong paragraph or shift a canonical. If that
    matters, run per-shard/per-snapshot (P per run stays small), use
    ``"encoded"`` when ids permit, or swap the key for a
    struct(doc_id, para_idx) carried through CC — the CC loop is
    key-type-agnostic; only the min-key canonical convention assumes a
    scalar orderable key."""
    from rnadam_spark.operators.clustering import connected_components

    paras = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), split_pattern)).alias(
            "para_idx", "_ptext"
        ),
    ).filter(F.length(F.trim(F.col("_ptext"))) >= min_chars)
    if unit_key == "encoded":
        key = F.col(id_col).cast("bigint") * F.lit(1 << 20).cast("bigint") + F.col(
            "para_idx"
        )
    elif unit_key == "hash":
        key = F.xxhash64(F.col(id_col), F.col("para_idx"))
    else:
        raise ValueError(f"unit_key must be 'hash' or 'encoded', got {unit_key!r}")
    units = paras.withColumn("_unit", key)
    u = units.select(F.col("_unit").alias("doc_id"), F.col("_ptext").alias("text"))
    if max_bucket is not None:
        # the contraction rides the grouped bucket machinery, which
        # needs the cap; uncapped callers keep the unit-grain chain
        losers = _contracted_unit_losers(u, threshold, max_bucket)
    else:
        cand = lsh_candidate_pairs(u, max_bucket=max_bucket)
        ver = verify_pairs(cand, u, threshold=threshold)
        comp = connected_components(ver)
        losers = comp.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias("_unit")
        )
    return units.join(losers, "_unit", "leftsemi").select(id_col, "para_idx")


def _contracted_unit_losers(
    u: DataFrame, threshold: float, max_bucket: int, k: int = SHINGLE_K
) -> DataFrame:
    """(_unit): the non-canonical units of each near-dup family,
    derived with candidates, exact-Jaccard verify AND star rounds all
    at the DISTINCT-TEXT grain (r13 second session — 2.45× text dedup
    at sf10: 38.9M unit pairs → 15.7M text pairs, so the verify stage
    intersects shingle sets once per distinct text pair and the star
    rounds walk the smaller graph; measured 239 → 86s at sf10).

    Why the contraction is exact: units with identical text are fully
    interchangeable through the whole chain — identical signatures
    (same buckets; the bucket cap counts ORIGINAL units via the
    weighted group cnt), identical shingle sets (so a cross pair's
    Jaccard equals its representatives', and an intra-text pair's
    Jaccard is exactly 1.0 whenever the text has ≥ 1 shingle, i.e.
    len ≥ k) — so the verified unit graph is the verified
    representative graph with each text group expanded to a clique,
    and components/labels expand exactly like
    :func:`lsh_near_dup_components` (tgid = min unit of its group, so
    min component label is preserved). Isolated text groups (cnt ≥ 2,
    in a qualifying bucket, no cross verified edge) are their own
    family IFF their text has ≥ 1 shingle — the same condition under
    which their unit-grain intra pairs pass verify. Pinned set-equal
    to the unit-grain chain (composed from the public operators) by
    tests/test_dedup.py::test_paragraph_near_dups_contracted_matches
    and the gate row's full-chain DuckDB oracle."""
    from rnadam_spark.lineage import truncate_lineage
    from rnadam_spark.operators.clustering import connected_components

    tg = truncate_lineage(
        u.groupBy("text")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("us"))
        .select(
            F.element_at("us", 1).alias("tgid"),
            "us",
            F.size("us").alias("cnt"),
            F.length("text").alias("_len"),
            "text",
        )
    )
    reps = tg.select(F.col("tgid").alias("doc_id"), "text")
    weights = tg.select(F.col("tgid").alias("doc_id"), F.col("cnt").alias("_w"))
    groups, gp = _signature_groups_and_pairs(
        minhash_signatures(reps), max_bucket, weights=weights
    )
    rep_pairs = _expand_group_pairs(groups, gp)
    ver = verify_pairs(rep_pairs, reps, k=k, threshold=threshold)
    cc_r = connected_components(ver)
    # reps sitting in >= 1 qualifying bucket: the self pair of their
    # signature group marks every member rep
    marked = (
        gp.filter(F.col("g_a") == F.col("g_b"))
        .select(F.col("g_a").alias("gid"))
        .join(groups.select("gid", "docs"), "gid")
        .select(F.explode("docs").alias("tgid"))
    )
    selfg = (
        tg.filter((F.col("cnt") >= 2) & (F.col("_len") >= k))
        .select("tgid")
        .join(marked, "tgid", "leftsemi")
        .join(cc_r.select(F.col("node").alias("tgid")), "tgid", "left_anti")
        .select(F.col("tgid").alias("node"), F.col("tgid").alias("component"))
    )
    return (
        cc_r.union(selfg)
        .join(tg.select(F.col("tgid").alias("node"), "us"), "node")
        .select(F.explode("us").alias("_unit"), "component")
        .filter(F.col("_unit") != F.col("component"))
        .select("_unit")
    )


def candidate_recall(
    docs: DataFrame,
    threshold: float = 0.8,
    sample_fraction: float = 0.05,
    seed: int = 41,
    max_bucket: int | None = 1000,
    k: int = SHINGLE_K,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """Measured recall/precision of the banded-LSH candidate stage
    against ground truth on a deterministic sample — the quality number
    the near-dup pipeline must publish next to its speed (banding
    trades recall for scale; an over-banded config silently misses real
    duplicates and nothing downstream can recover them). The dedup
    analogue of ``similarity.ann_recall``.

    Ground truth is brute force, so it only runs on a hash sample:
    ``sample_fraction`` of documents (deterministic — the same sample
    on any partitioning, so numbers are comparable across runs), all
    exact k-shingle Jaccards within the sample via one self-join,
    pairs ≥ ``threshold`` as truth. Candidates come from the REAL
    ``lsh_candidate_pairs`` restricted to the same sample. Returns a
    bounded dict: n_true / n_candidates / n_hit, recall (candidates ∩
    truth / truth — the number banding controls) and precision (the
    verify stage's workload efficiency). O(sample²) pairs bounds the
    cost; size the fraction so the sample stays ~10⁴ docs."""
    from rnadam_spark.operators.sampling import hash_sample

    # normalize to the (doc_id, text) shape up front: the downstream
    # lsh_candidate_pairs / minhash_signatures chain keys on those names
    # (same convention as paragraph_near_dups), so custom text_col /
    # id_col callers work instead of dying on an unresolved column
    sample = hash_sample(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")),
        "doc_id",
        sample_fraction,
        seed,
    ).cache()
    sh = sample.select(
        F.col("doc_id"),
        F.array_distinct(char_shingles("text", k)).alias("_sh"),
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("_sh").alias("_sa"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("_sh").alias("_sb"))
    inter = F.size(F.array_intersect(F.col("_sa"), F.col("_sb")))
    union = F.size(F.col("_sa")) + F.size(F.col("_sb")) - inter
    truth = (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(inter.cast("double") / F.greatest(union, F.lit(1)) >= threshold)
        .select("doc_a", "doc_b")
        .cache()
    )
    cand = lsh_candidate_pairs(sample, max_bucket=max_bucket).select(
        F.least("doc_a", "doc_b").alias("doc_a"),
        F.greatest("doc_a", "doc_b").alias("doc_b"),
    )
    n_sample = sample.count()
    n_true = truth.count()
    n_cand = cand.count()
    n_hit = cand.join(truth, ["doc_a", "doc_b"], "leftsemi").count()
    sample.unpersist()
    truth.unpersist()
    return {
        "sample_docs": n_sample,
        "n_true": n_true,
        "n_candidates": n_cand,
        "n_hit": n_hit,
        "recall": round(n_hit / n_true, 6) if n_true else None,
        "precision": round(n_hit / n_cand, 6) if n_cand else None,
    }
