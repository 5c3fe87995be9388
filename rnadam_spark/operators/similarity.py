"""Similarity search over embedding columns.

Brute-force cosine top-k is the correctness baseline; random-projection
LSH bucketing is the scale path (SURVEY.md §2.7 north star): at 100 TB
the all-pairs comparison is quadratic, while the bucketed variant costs
one projection pass + a self-join whose fan-out is bounded by bucket
occupancy. Hyperplanes are deterministic ±1 patterns (seeded), inlined
as literals in both the Spark plan and the oracle SQL.

Scale guards (both are load-bearing at 100 TB, not knobs):

- the plane count must GROW with the corpus — with p planes there are
  only 2^p buckets, so expected occupancy is N/2^p and the candidate
  self-join costs ~N²/2^p pairs. ``planes_for(n, target_bucket)`` gives
  the sizing rule: p ≥ log₂(N / target occupancy). A fixed p is only
  acceptable at a fixed N.
- even a well-sized p leaves skewed buckets (near-duplicate embedding
  farms, zero vectors); ``max_bucket`` on ``bucket_near_pairs`` drops
  those buckets outright — a bucket of n emits n² pairs, so one hot
  bucket can dominate the whole job. Same guard as
  ``dedup.lsh_candidate_pairs``.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

N_PLANES = 8
DIM = 64


def planes_for(
    n_vectors: int, target_bucket: int = 64, n_planes_max: int | None = 16
) -> int:
    """Plane count so expected bucket occupancy ≈ ``target_bucket``:
    p = ceil(log₂(n / target)), clamped to ``n_planes_max`` so the rule
    matches :func:`lsh_buckets_scaled`, which computes exactly
    ``n_planes_max`` bits and can never use more. Above
    n = target·2^max (~4.2M vectors at the defaults) the clamp binds
    and occupancy grows as n/2^max — raise ``n_planes_max`` on BOTH
    sides for larger corpora (each extra bit costs one more dot product
    per row). ``n_planes_max=None`` gives the uncapped rule: 10⁹
    vectors / target 64 → 24 planes."""
    p = max(1, math.ceil(math.log2(max(n_vectors, 2) / max(target_bucket, 1))))
    return p if n_planes_max is None else min(p, n_planes_max)


def hyperplanes(n: int = N_PLANES, dim: int = DIM, seed: int = 99) -> list[list[int]]:
    """Deterministic ±1 hyperplanes for sign-random-projection LSH."""
    rng = random.Random(seed)
    return [[rng.choice((-1, 1)) for _ in range(dim)] for _ in range(n)]


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ via zip_with + aggregate — JVM-side, no UDF."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def cosine(a: Column, b: Column) -> Column:
    na = F.sqrt(dot(a, a))
    nb = F.sqrt(dot(b, b))
    return dot(a, b) / (na * nb)


def _as_double(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def brute_force_topk(
    embeddings: DataFrame, query_vec_id: int, k: int = 20
) -> DataFrame:
    """(vec_id, cos): exact top-k by cosine against one query vector.

    The query row is a broadcast 1-row dimension; the scan side stays
    partitioned, score is a per-row projection, and only the global
    top-k ordering reduces — Spark's TakeOrdered handles that without a
    full sort of the corpus."""
    q = embeddings.filter(F.col("vec_id") == query_vec_id).select(
        _as_double("embedding").alias("q_emb")
    )
    scored = (
        embeddings.filter(F.col("vec_id") != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            cosine(_as_double("embedding"), F.col("q_emb")).alias("cos_raw"),
        )
    )
    return (
        scored.select("vec_id", (F.floor(F.col("cos_raw") * 1e6 + F.lit(0.5)) / 1e6).alias("cos"))
        .orderBy(F.col("cos").desc(), "vec_id")
        .limit(k)
    )


def _np_bucket_bits(mat, planes: list[list[float]], p):
    """Per-row bucket ints replaying the interpreted sign-projection
    expression's EXACT float sequence (the §12 discipline): per plane
    one elementwise product rounding then one left-fold add rounding in
    array order, all float64 — the sign test (and so the integer bucket) is
    bit-identical to the JVM interpreted-HOF evaluation. ``p`` is an
    int64 array masking each row to its first p planes (None = all).
    NaN scores SET the bit: Spark's nan-safe comparison orders NaN
    above every double, so the JVM ``s >= 0`` passes for NaN — the
    numpy mirror is ``~(acc < 0.0)`` (r14, ADVICE fix: the previous
    ``acc >= 0.0`` cleared the bit for NaN, silently moving all-NaN
    rows to bucket 0 where the JVM kernel buckets them to 2^p − 1;
    pinned by the NaN rows in test_lsh_buckets_kernels_equal)."""
    import numpy as np

    n = mat.shape[0]
    out = np.zeros(n, dtype=np.int64)
    for j, plane in enumerate(planes):
        acc = np.zeros(n)
        for d, w in enumerate(plane):
            acc = acc + mat[:, d] * w
        keep = ~(acc < 0.0)
        if p is not None:
            keep &= j < p
        out += np.where(keep, np.int64(2**j), np.int64(0))
    return out


def _py_bucket_bits(e, planes: list[list[float]], p: int | None) -> int:
    """Pure-Python mirror of the bucket expression for misshapen rows
    (null / wrong-length embeddings): zip_with null-padding nulls the
    fold, a null score contributes no bit (``when`` otherwise-0); a NaN
    score sets the bit (Spark's nan-safe ``>= 0`` passes for NaN — same
    r14 ADVICE fix as :func:`_np_bucket_bits`)."""
    out = 0
    for j, plane in enumerate(planes):
        if p is not None and j >= p:
            continue
        s = _py_fold_dot(e, plane)
        if s is not None and not (s < 0):
            out += 2**j
    return out


def _bucket_kernel_df(
    embeddings: DataFrame,
    planes: list[list[int]],
    dim: int,
    tgt: int | None,
) -> DataFrame:
    """(vec_id, bucket) via an Arrow/numpy projection — the §12 kernel
    shape for the sign-random-projection bucketing. ``tgt`` None = all
    planes (fixed form); otherwise the scaled form's per-row mask
    p = greatest(1, #{j in 1..max : tgt·2^(j-1) < n}) computed from the
    attached broadcast count ``__n`` with the SAME exact integer
    comparisons as the in-plan expression."""
    pls = [[float(v) for v in c] for c in planes]
    n_planes = len(pls)

    def batches(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            embs = list(pdf["embedding"])
            if tgt is None:
                p_row = None
            else:
                nn = pdf["__n"].to_numpy(dtype=np.int64)
                p_row = np.maximum(
                    np.int64(1),
                    sum(
                        (np.int64(tgt * 2 ** (j - 1)) < nn).astype(np.int64)
                        for j in range(1, n_planes + 1)
                    ),
                )
            idx_ok, mat, idx_bad, rows_bad = _split_embedding_batch(embs, dim)
            buckets = [0] * len(embs)
            if idx_ok:
                ok = np.asarray(idx_ok, dtype=np.int64)
                bs = _np_bucket_bits(mat, pls, None if p_row is None else p_row[ok])
                for row_i, i in enumerate(idx_ok):
                    buckets[i] = int(bs[row_i])
            for i, e in zip(idx_bad, rows_bad):
                buckets[i] = _py_bucket_bits(
                    e, pls, None if p_row is None else int(p_row[i])
                )
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "bucket": buckets})

    cols = ["vec_id", F.col("embedding").cast("array<double>").alias("embedding")]
    if tgt is not None:
        cols.append("__n")
    return embeddings.select(*cols).mapInPandas(batches, "vec_id bigint, bucket bigint")


def lsh_buckets(
    embeddings: DataFrame,
    seed: int = 99,
    dim: int = DIM,
    n_planes: int = N_PLANES,
) -> DataFrame:
    """(vec_id, bucket): bucket = bit pattern of sign(v · hᵢ). ``dim``
    must match the embedding width (zip_with null-pads otherwise);
    ``n_planes`` must be sized for the corpus — see ``planes_for``.

    The plane dots run in numpy with the exact float sequence of the
    interpreted folded-literal HOF projection it replaced
    (OPTIMIZATION_r13.md) — buckets bit-identical, pinned against that
    form by tests/test_similarity.py."""
    planes = hyperplanes(n=n_planes, dim=dim, seed=seed)
    return _bucket_kernel_df(embeddings, planes, dim, None)


def lsh_buckets_scaled(
    embeddings: DataFrame,
    target_bucket: int = 64,
    seed: int = 99,
    dim: int = DIM,
    n_planes_max: int = 16,
) -> DataFrame:
    """(vec_id, bucket): sign-random-projection buckets whose plane
    count adapts to the corpus IN-PLAN — the :func:`planes_for` rule
    ``p = max(1, ceil(log2(n / target_bucket)))`` evaluated from a
    broadcast scalar count, with ``bucket = Σ bitⱼ·2ʲ for j < p``
    (all ``n_planes_max`` bits compute; the mask keeps the first p).
    A fixed plane count degenerates off its design scale — at 100x the
    buckets blow past any cap and a capped consumer drops everything —
    while this form keeps expected occupancy ≈ ``target_bucket`` at
    every corpus size UP TO n = target·2^n_planes_max (~4.2M vectors at
    the defaults: p hard-caps at ``n_planes_max`` because only that many
    bits compute, so past the ceiling occupancy grows as n/2^max and a
    ``max_bucket=100`` consumer re-degenerates around ~6.5M — raise
    ``n_planes_max`` for larger corpora; cost is one extra dot product
    per row per bit). No driver action below the ceiling (the count is
    one extra aggregate + broadcast in the same plan), and
    :func:`planes_for` clamps to the same max so the off-plan sizing
    rule and this operator agree at every n. ``hyperplanes`` draws
    planes sequentially from one seeded RNG, so the first p planes are
    identical for every p — results at a given scale match a fixed
    ``lsh_buckets(n_planes=p)`` run exactly.

    p is computed as ``#{j in 1..max : target·2^(j-1) < n}`` — EXACT
    integer comparisons, equal to ``ceil(log2(n/target))`` for integer
    n but immune to the cross-engine 1-ulp hazard of a float log2 at
    power-of-two boundaries (an oracle must reproduce p bit-for-bit;
    one ulp above an integer flips ceil and every bucket with it).

    The plane dots evaluate in numpy replaying the interpreted HOF
    form's exact float sequence and the SAME integer-compare p rule
    from the attached broadcast count (OPTIMIZATION_r13.md) — buckets
    bit-identical, pinned against that form by
    tests/test_similarity.py."""
    planes = hyperplanes(n=n_planes_max, dim=dim, seed=seed)
    n = embeddings.agg(F.count("*").alias("__n"))
    return _bucket_kernel_df(
        embeddings.crossJoin(F.broadcast(n)), planes, dim, max(target_bucket, 1)
    )


def _lit_vectors(vectors: list[list[float]]) -> Column:
    """ARRAY<ARRAY<DOUBLE>> literal — centroid/codebook tables enter the
    plan as ONE folded literal instead of per-centroid unrolled
    expression trees. The unrolled form paid a per-centroid analysis
    cost (each ``dot`` is a zip_with+aggregate pair with three lambdas
    to resolve), which at m·2^nbits codebook entries dominated toy-scale
    wall time: restructuring pq_encode this way measured 3.6s → 1.6s
    min-of-3 at sf0.01 with bitwise-identical output. Per-row work is
    unchanged — higher-order functions were interpreted either way."""
    return F.array(*[F.array(*[F.lit(float(v)) for v in c]) for c in vectors])


def _py_fold_dot(a, c) -> float | None:
    """Pure-Python mirror of ``dot`` (zip_with + left-fold aggregate)
    for misshapen rows in the numpy kernels: zip_with pads the shorter
    side with null, any null product nulls the fold, the fold starts
    at 0.0 and adds in array order."""
    if a is None:
        return None
    out = 0.0
    for j in range(max(len(a), len(c))):
        x = a[j] if j < len(a) else None
        y = c[j] if j < len(c) else None
        if x is None or y is None:
            return None
        out = out + x * y
    return out


def _py_argmax(scores) -> int:
    """argmax with the struct-ordering convention of
    ``array_max(ARRAY<STRUCT<s,cid>>)``: null s sorts below every
    double, NaN sorts ABOVE every double (Spark's nan-safe ordering —
    r14 ADVICE-class fix; Python tuple compare would lose every NaN
    comparison), ties break to the LARGER cid."""
    import math

    best_key, best_cid = None, 0
    for cid, s in enumerate(scores):
        is_nan = s is not None and math.isnan(s)
        key = (s is not None, is_nan, 0.0 if (s is None or is_nan) else s, cid)
        if best_key is None or key >= best_key:
            best_key, best_cid = key, cid
    return best_cid


def _np_argmax_rows(mat, centroids: list[list[float]], norms: list[float] | None):
    """Per-row argmax over ``centroids`` of ``dot(row, c)`` (or
    ``2·dot − ‖c‖²`` when ``norms`` is given), ties to the larger cid —
    the EXACT float sequence of :func:`_centroid_scores` /
    :func:`_l2_scores`: per element one product rounding then one
    left-fold add rounding in array order, all float64, so scores (and
    therefore the integer argmax) are bit-identical to the JVM
    interpreted-HOF evaluation. NaN scores sort ABOVE every double
    (Spark's nan-safe struct ordering; NaN ties break to the larger cid
    like any tie) — the numpy update mask adds ``isnan(acc)`` because
    ``acc >= best_s`` is False whenever either side is NaN (r14
    ADVICE-class fix, pinned by the NaN rows in the kernel parity
    tests)."""
    import numpy as np

    n = mat.shape[0]
    best_s = None
    best_c = np.zeros(n, dtype=np.int64)
    for cid, c in enumerate(centroids):
        acc = np.zeros(n)
        for j, cj in enumerate(c):
            acc = acc + mat[:, j] * cj
        if norms is not None:
            acc = 2.0 * acc - norms[cid]
        if best_s is None:
            best_s = acc
        else:
            m = (acc >= best_s) | np.isnan(acc)
            best_s = np.where(m, acc, best_s)
            best_c = np.where(m, cid, best_c)
    return best_c


def _split_embedding_batch(embeddings, dim: int):
    """Split one Arrow batch's embedding column into the vectorized
    path (a dense (rows, dim) float64 matrix) and the per-row fallback
    (None / wrong length). Returns (idx_ok, mat, idx_bad, rows_bad)."""
    import numpy as np

    idx_ok, rows_ok, idx_bad, rows_bad = [], [], [], []
    for i, e in enumerate(embeddings):
        if e is not None and len(e) == dim:
            idx_ok.append(i)
            rows_ok.append(e)
        else:
            idx_bad.append(i)
            rows_bad.append(e)
    mat = (
        np.stack([np.asarray(e, dtype=np.float64) for e in rows_ok])
        if rows_ok
        else np.zeros((0, dim))
    )
    return idx_ok, mat, idx_bad, rows_bad


def _centroid_scores(emb: Column, centroids: list[list[int]]) -> Column:
    """ARRAY<STRUCT<s,cid>> of dot products against every centroid; the
    array_max of this is the argmax cell (struct ordering compares s
    first, then cid — ties break to the larger cid, mirrored in the
    oracle SQL's ORDER BY s DESC, cid DESC). One transform over the
    folded centroid literal (see :func:`_lit_vectors`), not a
    per-centroid unrolled tree."""
    return F.transform(
        _lit_vectors(centroids),
        lambda c, cid: F.struct(dot(emb, c).alias("s"), cid.alias("cid")),
    )


def ivf_cells(
    embeddings: DataFrame,
    n_centroids: int = 16,
    seed: int = 1234,
    dim: int = DIM,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """(vec_id, cell): IVF coarse quantization — assign each vector to
    its nearest centroid. Default centroids are deterministic ±1
    patterns (equal norms, so dot-argmax ≡ cosine-argmax); pass
    ``centroids`` (e.g. from :func:`kmeans_centroids`) for trained
    cells. Assignment is a per-row projection — zero shuffle,
    scan-speed. At scale the corpus is written partitioned/bucketed BY
    cell so a probe reads only its cells' files.

    The dot-argmax runs in numpy with the exact float sequence of the
    interpreted ``_centroid_scores`` expression — cells bit-identical,
    pinned against that expression by tests/test_similarity.py
    (4.3s → well under 1s at 200k vectors, OPTIMIZATION_r13.md)."""
    cents = centroids if centroids is not None else hyperplanes(n=n_centroids, dim=dim, seed=seed)
    cents = [[float(v) for v in c] for c in cents]

    def batches(it):
        import pandas as pd

        for pdf in it:
            embs = list(pdf["embedding"])
            idx_ok, mat, idx_bad, rows_bad = _split_embedding_batch(embs, dim)
            cells = [None] * len(embs)
            if idx_ok:
                assigned = _np_argmax_rows(mat, cents, None)
                for row_i, i in enumerate(idx_ok):
                    cells[i] = int(assigned[row_i])
            for i, e in zip(idx_bad, rows_bad):
                scores = [_py_fold_dot(e, c) for c in cents]
                cells[i] = _py_argmax(scores)
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "cell": cells})

    return embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).mapInPandas(batches, "vec_id bigint, cell bigint")


def kmeans_centroids(
    embeddings: DataFrame,
    k: int = 16,
    max_iterations: int = 5,
    dim: int = DIM,
) -> list[list[float]]:
    """Train IVF centroids with Lloyd's iterations, DataFrame-native.

    Init is a deterministic hash-sample: the ``k`` vectors with the
    smallest ``xxhash64(vec_id)`` (one TakeOrdered job — partitioning-
    independent, so training is reproducible on any layout). Each
    iteration then costs:

    - assignment: per-row dot-argmax against the current centroids as
      broadcast literals (the exact ``ivf_cells`` expression) — zero
      shuffle;
    - update: ``posexplode`` the assigned vectors to (cell, dim, value)
      and average per (cell, dim) — ONE shuffle whose final state is
      k·dim scalars. Those come back to the driver to become the next
      iteration's literals: driver state is bounded by k·dim regardless
      of corpus size (the same loop-state shape Spark MLlib's KMeans
      uses — centroids are genuinely small dimension data, not a
      collect() of the corpus).

    Empty cells keep their previous centroid. Returns the centroid list
    for ``ivf_cells(..., centroids=...)`` / ``ivf_topk``. Means (not
    normalized) — pair with dot-argmax assignment on roughly
    unit-normalized embeddings, or normalize downstream."""
    init = (
        embeddings.select(_as_double("embedding").alias("e"), F.xxhash64("vec_id").alias("h"))
        .orderBy("h", "e")
        .limit(k)
        .collect()
    )
    cents: list[list[float]] = [list(r.e) for r in init]
    if not cents:
        raise ValueError(
            "kmeans_centroids: embeddings table is empty — nothing to train on"
        )
    for _ in range(max_iterations):
        cell = F.array_max(_centroid_scores(_as_double("embedding"), cents))["cid"]
        assigned = embeddings.select(cell.alias("cell"), _as_double("embedding").alias("e"))
        means = (
            assigned.select("cell", F.posexplode("e").alias("d", "v"))
            .groupBy("cell", "d")
            .agg(F.avg("v").alias("m"))
            .collect()
        )
        new_cents = [list(c) for c in cents]  # empty cells keep position
        by_cell: dict[int, dict[int, float]] = {}
        for r in means:
            by_cell.setdefault(r.cell, {})[r.d] = r.m
        for cid, dims in by_cell.items():
            new_cents[cid] = [dims[i] for i in range(len(dims))]
        if new_cents == cents:
            break
        cents = new_cents
    return cents


def ivf_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 20,
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 1234,
    dim: int = DIM,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """(vec_id, cos): approximate top-k — score only vectors whose IVF
    cell is among the query's ``n_probe`` nearest cells (the standard
    IVF trade: ~n_probe/n_centroids of the corpus scored instead of all
    of it; recall grows with n_probe). Complements the LSH-bucket path:
    IVF gives tunable recall at query time, LSH gives join-free
    all-pairs candidate generation. ``centroids`` (e.g. from
    :func:`kmeans_centroids`) replaces the default ±1 patterns.

    Cost honesty: this form re-derives every vector's cell at query
    time (``n_centroids`` dot products per row — measured 25.3s vs
    brute force's 6.5s at 200k vectors), so for a single dot-product
    query it does NOT beat the exact scan. It is the semantics
    reference; the production shape stores the assignment once and
    reuses it across queries — :func:`ivf_cells` persisted, or the PQ
    codes path (:func:`ivfpq_topk_on_codes`), where only the probed
    ~n_probe/n_centroids fraction is touched per query."""
    cents = centroids if centroids is not None else hyperplanes(n=n_centroids, dim=dim, seed=seed)
    q = embeddings.filter(F.col("vec_id") == query_vec_id).select(
        _as_double("embedding").alias("q_emb")
    )
    probes = (
        q.select(F.explode(_centroid_scores(F.col("q_emb"), cents)).alias("sc"))
        .orderBy(F.col("sc.s").desc(), F.col("sc.cid").desc())
        .limit(n_probe)
        .select(F.col("sc.cid").cast("bigint").alias("cell"))
    )
    cell = F.array_max(_centroid_scores(_as_double("embedding"), cents))["cid"]
    scored = (
        embeddings.filter(F.col("vec_id") != query_vec_id)
        .withColumn("cell", cell.cast("bigint"))
        .join(F.broadcast(probes), "cell")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            cosine(_as_double("embedding"), F.col("q_emb")).alias("cos_raw"),
        )
    )
    return (
        scored.select(
            "vec_id", (F.floor(F.col("cos_raw") * 1e6 + F.lit(0.5)) / 1e6).alias("cos")
        )
        .orderBy(F.col("cos").desc(), "vec_id")
        .limit(k)
    )


def cell_near_pairs(
    embeddings: DataFrame,
    centroids: list[list[float]],
    min_cos: float = 0.0,
    max_cell: int | None = None,
) -> DataFrame:
    """(vec_a, vec_b, cos): cosine for pairs sharing an IVF cell — the
    candidate-generation step of SemDeDup-style semantic dedup (Abbas et
    al. 2023: cluster the corpus, compare only within a cluster).

    Same shape as :func:`bucket_near_pairs` but keyed on the *trained*
    k-means cell instead of a random hyperplane bucket, which is what
    makes it semantic: embedding-space neighbors land in the same cell
    even when no random projection separates them. Cell assignment is a
    per-row projection against broadcast centroid literals (zero
    shuffle); the self-join shuffles on cell once; ``max_cell`` drops
    cells above the cap before the join (a cell of n emits n² pairs, and
    at 100 TB a boilerplate-heavy cell is guaranteed — same guard as
    ``bucket_near_pairs``/``lsh_candidate_pairs``).

    The centroid argmax is the dominant projection cost of SemDeDup
    (one distance per centroid per row), so the slim (vec_id, cell)
    assignment materializes ONCE at a stage boundary before the guard's
    count aggregate and both sides of the self-join consume it — the
    same discipline as :func:`bucket_near_pairs`. Without it the argmax
    subtree evaluates 3× (guard count + join sides), which measurably
    regressed semantic_dedup 14.9s → 18.8s at sf0.1; with the
    materialization it measures 12.9s (min-of-3, sf0.1 local[32]) —
    faster than either prior form. The float embeddings re-attach by a
    vec_id join after the guard, so they never evaluate for the guard
    at all. (r13: the assignment itself is :func:`ivf_cells`, whose
    numpy kernel produces bit-identical cells — see there.)"""
    from rnadam_spark.lineage import truncate_lineage

    assignment = truncate_lineage(
        ivf_cells(embeddings, centroids=centroids, dim=len(centroids[0]))
    )
    if max_cell is not None:
        from rnadam_spark.operators.guards import drop_oversize_buckets

        assignment = drop_oversize_buckets(assignment, ["cell"], max_cell)
    # per-vector norms materialize before the self-join (same
    # bit-identical-floats argument as _pairs_from_buckets: the norm is
    # the exact subtree cosine's denominator factors would build)
    with_cell = assignment.join(embeddings, "vec_id").withColumn(
        "__norm", F.sqrt(dot(_as_double("embedding"), _as_double("embedding")))
    )
    a = with_cell.alias("a")
    b = with_cell.alias("b")
    return (
        a.join(b, "cell")
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            (
                F.floor(
                    dot(_as_double(F.col("a.embedding")), _as_double(F.col("b.embedding")))
                    / (F.col("a.__norm") * F.col("b.__norm"))
                    * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("cos"),
        )
        .filter(F.col("cos") >= min_cos)
    )


def semantic_dedup(
    embeddings: DataFrame,
    min_cos: float = 0.95,
    k: int = 16,
    max_iterations: int = 5,
    dim: int = DIM,
    centroids: list[list[float]] | None = None,
    max_cell: int | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(vec_id, component, keep): SemDeDup — semantic near-duplicate
    removal over an embedding column.

    Pipeline: k-means cells (:func:`kmeans_centroids` unless
    ``centroids`` is given) → within-cell cosine pairs ≥ ``min_cos``
    (:func:`cell_near_pairs`) → connected components over the pair graph
    → keep the canonical (min vec_id) representative per component.
    Singletons (no pair) keep themselves. The paper keeps the item
    farthest from the cluster centroid; we keep min-id — the same
    canonical-representative convention every dedup operator in this
    repo uses, so downstream anti-joins compose.

    Scale: training state is k·dim scalars; assignment is zero-shuffle;
    the only quadratic risk (in-cell pairs) is capped by ``max_cell``;
    clustering is O(log n) star rounds with per-round truncation
    (``checkpoint_dir`` switches to reliable checkpoints)."""
    from rnadam_spark.operators.clustering import connected_components

    cents = (
        centroids
        if centroids is not None
        else kmeans_centroids(embeddings, k=k, max_iterations=max_iterations, dim=dim)
    )
    pairs = cell_near_pairs(embeddings, cents, min_cos=min_cos, max_cell=max_cell)
    comp = connected_components(
        pairs, src="vec_a", dst="vec_b", checkpoint_dir=checkpoint_dir
    )
    return (
        embeddings.select("vec_id")
        .join(comp.withColumnRenamed("node", "vec_id"), "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("component", F.col("vec_id")).alias("component"),
            (F.coalesce("component", F.col("vec_id")) == F.col("vec_id")).alias("keep"),
        )
    )


def _sub_slices(emb: Column, m: int, dim: int) -> list[Column]:
    """Split a dim-wide array column into m contiguous sub-vectors."""
    d_sub = dim // m
    return [F.slice(emb, sub * d_sub + 1, d_sub) for sub in range(m)]


def _l2_scores(sub_emb: Column, codebook: list[list[float]]) -> Column:
    """ARRAY<STRUCT<s,cid>> where s = 2·x·c − ‖c‖² (argmax of s ≡ argmin
    of squared L2 — ‖x‖² is constant per row so it drops out; ‖c‖² is a
    plan literal). Ties break to the larger cid via struct ordering,
    same convention as :func:`_centroid_scores`. Folded-literal +
    transform form (see :func:`_lit_vectors`) — the codebook is data in
    the plan, not 2^nbits unrolled subtrees."""
    norms = F.array(*[F.lit(float(sum(v * v for v in c))) for c in codebook])
    return F.transform(
        _lit_vectors(codebook),
        lambda c, cid: F.struct(
            (2.0 * dot(sub_emb, c) - F.element_at(norms, cid + 1)).alias("s"),
            cid.alias("cid"),
        ),
    )


def train_pq(
    embeddings: DataFrame,
    m: int = 4,
    nbits: int = 4,
    max_iterations: int = 5,
    dim: int = DIM,
) -> list[list[list[float]]]:
    """Train product-quantization codebooks (Jégou et al., TPAMI 2011):
    split each vector into ``m`` sub-vectors and run an independent
    k-means (k = 2^nbits) per subspace. Returns
    ``codebooks[sub][code] = centroid`` for :func:`pq_encode` /
    :func:`pq_topk`.

    All ``m`` subspace k-means train TOGETHER: one job per Lloyd
    iteration, not m —

    - assignment: per-row, per-subspace L2-argmin against the current
      codebooks as broadcast literals (zero shuffle);
    - update: explode to (sub, code, dim, value) and average — ONE
      shuffle ending in m·2^nbits·(dim/m) = 2^nbits·dim scalars, the
      driver-resident model state (256·1024 floats for a real 8-bit,
      1024-d config — megabytes, corpus-size-independent).

    Init is the deterministic hash-sample used by
    :func:`kmeans_centroids`, sliced per subspace; empty codes keep
    their previous centroid.

    Cost note: the literal-codebook expressions make Catalyst analysis/
    codegen pay a CONSTANT compile cost proportional to 2^nbits·dim
    (seconds at m=8/nbits=4 — visible at toy scale in the bench extras,
    amortized to noise over a corpus-scale scan). The alternative — a
    broadcast codebook table joined per subspace — trades that constant
    for a per-row join probe and one exchange; it is implemented for
    the ADC query path (:func:`pq_topk_on_codes` switches to it above
    ``PQ_LITERAL_MAX`` table entries) where big-m
    8-bit configs would otherwise blow the codegen constant pool."""
    k = 2**nbits
    d_sub = dim // m
    assert m * d_sub == dim, "dim must be divisible by m"
    init = (
        embeddings.select(_as_double("embedding").alias("e"), F.xxhash64("vec_id").alias("h"))
        .orderBy("h", "e")
        .limit(k)
        .collect()
    )
    if not init:
        raise ValueError("train_pq: embeddings table is empty — nothing to train on")
    books: list[list[list[float]]] = [
        [list(r.e[sub * d_sub : (sub + 1) * d_sub]) for r in init] for sub in range(m)
    ]
    for _ in range(max_iterations):
        emb = _as_double("embedding")
        per_sub = [
            F.struct(
                F.lit(sub).alias("sub"),
                F.array_max(_l2_scores(s, books[sub]))["cid"].alias("code"),
                s.alias("v"),
            )
            for sub, s in enumerate(_sub_slices(emb, m, dim))
        ]
        means = (
            embeddings.select(F.explode(F.array(*per_sub)).alias("a"))
            .select("a.sub", "a.code", F.posexplode("a.v").alias("d", "x"))
            .groupBy("sub", "code", "d")
            .agg(F.avg("x").alias("mean"))
            .collect()
        )
        new_books = [[list(c) for c in book] for book in books]
        for r in means:
            new_books[r.sub][r.code][r.d] = r.mean
        if new_books == books:
            break
        books = new_books
    return books


def pq_encode(
    embeddings: DataFrame,
    codebooks: list[list[list[float]]],
    dim: int = DIM,
) -> DataFrame:
    """(vec_id, codes): PQ codes — per subspace, the index of the
    L2-nearest codebook centroid. Zero shuffle, and the
    output row is m·log2(k) bits of payload instead of dim·32 — the
    representation that makes 100 TB of embeddings greppable (a 1024-d
    float corpus compresses 64× at m=64, nbits=8).

    The per-subspace L2-argmax runs in numpy with the EXACT float
    sequence of the interpreted ``_l2_scores`` expression (per element
    one product rounding + one left-fold add rounding in array order,
    float64, the same driver-computed ‖c‖² literals), so the integer
    codes are bit-identical — pinned against that expression by
    tests/test_similarity.py. The interpreted-HOF form (m·k·d_sub
    lambda evaluations per row) measured 38.2 vs 2.4s at sf10
    (OPTIMIZATION_r14.md)."""
    m = len(codebooks)
    d_sub = dim // m
    norms = [
        [float(sum(v * v for v in c)) for c in book] for book in codebooks
    ]  # the same driver doubles _l2_scores inlines as literals

    def batches(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            embs = list(pdf["embedding"])
            idx_ok, mat, idx_bad, rows_bad = _split_embedding_batch(embs, dim)
            codes = [None] * len(embs)
            if idx_ok:
                per_sub = [
                    _np_argmax_rows(
                        mat[:, sub * d_sub : (sub + 1) * d_sub],
                        codebooks[sub],
                        norms[sub],
                    )
                    for sub in range(m)
                ]
                stacked = np.stack(per_sub, axis=1)
                for row_i, i in enumerate(idx_ok):
                    codes[i] = stacked[row_i].tolist()
            for i, e in zip(idx_bad, rows_bad):
                sub_codes = []
                for sub in range(m):
                    s = None if e is None else list(e[sub * d_sub : sub * d_sub + d_sub])
                    scores = [
                        None
                        if (d := _py_fold_dot(s, c)) is None
                        else 2.0 * d - norms[sub][cid]
                        for cid, c in enumerate(codebooks[sub])
                    ]
                    sub_codes.append(_py_argmax(scores))
                codes[i] = sub_codes
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "codes": codes})

    return embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).mapInPandas(batches, "vec_id bigint, codes array<int>")


def pq_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    codebooks: list[list[list[float]]],
    k: int = 20,
    dim: int = DIM,
) -> DataFrame:
    """(vec_id, score): approximate top-k by asymmetric distance
    computation — score(x) ≈ q·x ≈ Σ_sub table[sub][code_sub(x)], where
    table[sub][c] = q_sub · codebook[sub][c] is computed once from the
    query (a bounded 1-row collect) and inlined as m·2^nbits literal
    doubles. Scoring a PQ-encoded corpus is then m array lookups + a
    sum per row: zero shuffle, no float vectors read at all, and the
    global top-k reduces via TakeOrdered. Recall is bounded by
    quantization error — rerank the top candidates with exact cosine
    downstream when exactness matters."""
    q_rows = (
        embeddings.filter(F.col("vec_id") == query_vec_id)
        .select(_as_double("embedding").alias("e"))
        .collect()
    )
    if not q_rows:
        raise ValueError(f"query vec_id {query_vec_id} not found")
    coded = pq_encode(
        embeddings.filter(F.col("vec_id") != query_vec_id), codebooks, dim=dim
    )
    return pq_topk_on_codes(coded, list(q_rows[0].e), codebooks, k=k, dim=dim)


def _adc_score(tables: list[list[float]]) -> Column:
    """Σ_sub table[sub][codes[sub]] over a stored ``codes`` column —
    the ADC lookup-sum as one expression."""
    return sum(
        (
            F.element_at(
                F.array(*[F.lit(float(v)) for v in t]), F.col("codes")[sub] + 1
            )
            for sub, t in enumerate(tables)
        ),
        start=F.lit(0.0),
    )


def _query_tables(
    q: list[float], codebooks: list[list[list[float]]], dim: int
) -> list[list[float]]:
    """Per-subspace query·centroid inner-product tables (m × 2^nbits
    driver-side doubles) for ADC scoring."""
    m = len(codebooks)
    d_sub = dim // m
    return [
        [sum(q[sub * d_sub + i] * c[i] for i in range(d_sub)) for c in codebooks[sub]]
        for sub in range(m)
    ]


# Above this many ADC table entries (m · 2^nbits), the literal-table
# expression's constant Catalyst/codegen cost stops amortizing and the
# auto strategy switches to the broadcast-join form (a real 8-bit
# m=64 config is 16,384 entries — plan-size territory).
PQ_LITERAL_MAX = 4096


def pq_topk_on_codes(
    codes: DataFrame,
    query_vec: list[float],
    codebooks: list[list[list[float]]],
    k: int = 20,
    dim: int = DIM,
) -> DataFrame:
    """(vec_id, score): ADC top-k over a STORED codes table — the
    encode-once / query-many production shape. :func:`pq_topk`
    re-encodes the float corpus per query; at 100 TB the corpus is
    encoded once (:func:`pq_encode`, 64× smaller), persisted, and every
    query scores the code table with a TakeOrdered reduction — no float
    vectors are ever read again.

    The size of the m·2^nbits query·centroid lookup table picks how it
    reaches the executors (both forms produce identical rows — pinned
    by tests):

    - at most ``PQ_LITERAL_MAX`` entries: the table inlines as plan literals; scoring is m array
      lookups + a sum per row, ZERO shuffle, TakeOrdered. Catalyst pays
      a constant analysis/codegen cost proportional to the table size —
      the right trade whenever the scan is large and the table small.
    - above it: the table broadcasts as a (sub, code, qdot) DataFrame;
      codes posexplode to (vec_id, sub, code), probe the broadcast, and
      a vec_id groupBy re-sums (map-side partial, one exchange carrying
      ~1 row per vec_id). Plan size stays O(1) in the PQ config — the
      right trade for big-m/8-bit codebooks where the literal plan
      would blow the codegen constant pool."""
    tables = _query_tables(list(query_vec), codebooks, dim)
    if sum(len(t) for t in tables) <= PQ_LITERAL_MAX:
        score = _adc_score(tables)
        return (
            codes.select(
                "vec_id", (F.floor(score * 1e6 + F.lit(0.5)) / 1e6).alias("score")
            )
            .orderBy(F.col("score").desc(), "vec_id")
            .limit(k)
        )
    tbl = codes.sparkSession.createDataFrame(
        [(sub, code, float(v)) for sub, t in enumerate(tables) for code, v in enumerate(t)],
        "sub INT, code INT, qdot DOUBLE",
    )
    exploded = codes.select(
        "vec_id", F.posexplode(F.col("codes").cast("array<int>")).alias("sub", "code")
    )
    return (
        exploded.join(F.broadcast(tbl), ["sub", "code"])
        .groupBy("vec_id")
        .agg((F.floor(F.sum("qdot") * 1e6 + F.lit(0.5)) / 1e6).alias("score"))
        .orderBy(F.col("score").desc(), "vec_id")
        .limit(k)
    )


def ivfpq_topk_on_codes(
    codes: DataFrame,
    query_vec: list[float],
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 20,
    n_probe: int = 4,
    dim: int = DIM,
) -> DataFrame:
    """(vec_id, score): IVF+PQ — the FAISS IVFPQ architecture on
    DataFrames. ``codes`` is the persisted (vec_id, cell, codes) table
    (:func:`ivf_cells` + :func:`pq_encode`, written partitioned/bucketed
    BY cell); a query ranks the coarse cells driver-side (k·dim
    arithmetic on the literal centroids), PRUNES the scan to its
    ``n_probe`` cells — with the table partitioned by cell that is
    partition pruning, reading n_probe/n_centroids of the files — and
    ADC-scores only those rows. Cost per query: (corpus/n_centroids)·
    n_probe lookup-sums + TakeOrdered; memory: zero beyond the literal
    tables."""
    q = list(query_vec)
    ranked = sorted(
        range(len(centroids)),
        key=lambda cid: (sum(a * b for a, b in zip(q, centroids[cid])), cid),
        reverse=True,
    )[:n_probe]
    tables = _query_tables(q, codebooks, dim)
    score = _adc_score(tables)
    return (
        codes.filter(F.col("cell").isin(*[int(c) for c in ranked]))
        .select("vec_id", (F.floor(score * 1e6 + F.lit(0.5)) / 1e6).alias("score"))
        .orderBy(F.col("score").desc(), "vec_id")
        .limit(k)
    )


def hash_embed(
    docs: DataFrame,
    dim: int = DIM,
    shingle_k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(vec_id, embedding): deterministic hashed-feature text embeddings
    — char-``shingle_k``-gram counts feature-hashed into ``dim``
    buckets, L2-normalized. The bridge from the text modality into
    every embedding operator (``semantic_dedup``, ``bucket_near_pairs``,
    PQ/IVF) when no model embeddings exist: near-duplicate texts share
    most shingles, so their hashed vectors have high cosine.

    Shape: one zero-shuffle projection. The in-row path builds the
    bucket histogram via the run-length value-counts kernel
    (``functions/runlength.py`` — sort + run-length on the row's OWN
    grams, O(n log n) per row) and materializes the dense vector with a
    map lookup per dimension; no explode, no groupBy, no Python."""
    from rnadam_spark.functions.runlength import let_, value_counts
    from rnadam_spark.functions.shingles import char_shingles

    buckets = F.transform(
        char_shingles(F.lower(F.col(text_col)), shingle_k),
        lambda g: F.pmod(F.xxhash64(g), F.lit(dim)).cast("string"),
    )
    dense = let_(
        F.map_from_entries(
            F.transform(
                value_counts(buckets),
                lambda x: F.struct(
                    x["value"].cast("int").alias("k"), x["cnt"].cast("double").alias("v")
                ),
            )
        ),
        lambda m: F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda d: F.coalesce(F.element_at(m, d.cast("int")), F.lit(0.0)),
        ),
    )
    norm = let_(
        dense,
        lambda v: let_(
            F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x)),
            lambda n: F.transform(
                v, lambda x: F.when(n > 0, x / n).otherwise(F.lit(0.0))
            ),
        ),
    )
    return docs.select(F.col(id_col).alias("vec_id"), norm.alias("embedding"))


def exact_rerank(
    candidates: DataFrame,
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 20,
) -> DataFrame:
    """(vec_id, cos): exact-cosine rerank of an ANN candidate set — the
    standard two-stage retrieval: PQ/IVF recalls a generous candidate
    list from the compressed representation, then only those rows'
    float vectors are read for exact scoring. Candidate ids broadcast
    (bounded by the ANN k'), the join prunes the embedding scan, and
    the final top-k is a TakeOrdered."""
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    return (
        embeddings.join(F.broadcast(candidates.select("vec_id")), "vec_id")
        .select(
            "vec_id",
            (
                F.floor(cosine(_as_double("embedding"), q) * 1e6 + F.lit(0.5)) / 1e6
            ).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), "vec_id")
        .limit(k)
    )


def incremental_semantic_dups(
    new_emb: DataFrame,
    store_emb: DataFrame,
    centroids: list[list[float]],
    min_cos: float = 0.95,
    max_cell: int | None = None,
) -> DataFrame:
    """(new_id, store_id, cos): semantic near-dups between a NEW shard
    of embeddings and the EXISTING corpus store — the ingest-time twin
    of :func:`semantic_dedup`, mirroring ``dedup.incremental_near_dups``
    for the embedding modality.

    Why this exists: re-running within-corpus semantic dedup on
    corpus+shard re-pairs old-vs-old — O((N+n)²/cells) work for an
    O(n·N/cells) question. Here both sides are assigned to the SAME
    trained cells (a zero-shuffle projection against centroid literals;
    reuse the centroids persisted when the store was deduped — training
    on the shard would assign the store to different cells), and only
    new-vs-store pairs within a cell are scored. ``max_cell`` caps the
    candidate fan-out per cell measured on the STORE side (a
    boilerplate cell with 10⁶ stored vectors would pair every matching
    new vector with all of them)."""
    def with_cell(df: DataFrame, out_id: str) -> DataFrame:
        cell = F.array_max(_centroid_scores(_as_double("embedding"), centroids))["cid"]
        return df.select(
            F.col("vec_id").alias(out_id),
            cell.cast("bigint").alias("cell"),
            _as_double("embedding").alias(f"_e_{out_id}"),
        )

    n = with_cell(new_emb, "new_id")
    s = with_cell(store_emb, "store_id")
    if max_cell is not None:
        ok = (
            s.groupBy("cell")
            .agg(F.count("*").alias("_n"))
            .filter(F.col("_n") <= max_cell)
            .drop("_n")
        )
        s = s.join(ok, "cell")
    return (
        n.join(s, "cell")
        .select(
            "new_id",
            "store_id",
            (
                F.floor(
                    cosine(F.col("_e_new_id"), F.col("_e_store_id")) * 1e6 + F.lit(0.5)
                )
                / 1e6
            ).alias("cos"),
        )
        .filter(F.col("cos") >= min_cos)
    )


def bucket_near_pairs(
    embeddings: DataFrame,
    min_cos: float = 0.0,
    seed: int = 99,
    dim: int = DIM,
    n_planes: int = N_PLANES,
    max_bucket: int | None = None,
) -> DataFrame:
    """(vec_a, vec_b, cos): cosine for pairs sharing an LSH bucket —
    the ANN candidate verification step. ``max_bucket`` drops buckets
    larger than the cap before the self-join (a bucket of n emits n²
    pairs) via the skew-safe aggregate-then-broadcast-anti-join guard
    (``operators.guards``) — never a per-bucket window, which would
    funnel the hot bucket into one task."""
    # guard on the SLIM bucket projection before attaching the float
    # embeddings: the (vec_id, bucket) table materializes once at the
    # boundary (16 bytes/row), the guard's count and anti-join probe
    # scan those rows, and the vec_id join runs over already-filtered
    # ids — the float embeddings never evaluate for the guard at all
    buckets = lsh_buckets(embeddings, seed, dim, n_planes)
    return _pairs_from_buckets(embeddings, buckets, min_cos, max_bucket)


def bucket_near_pairs_scaled(
    embeddings: DataFrame,
    min_cos: float = 0.0,
    target_bucket: int = 64,
    seed: int = 99,
    dim: int = DIM,
    max_bucket: int | None = None,
) -> DataFrame:
    """:func:`bucket_near_pairs` over :func:`lsh_buckets_scaled`
    buckets — the form whose candidate volume holds at every corpus
    size (a fixed plane count either caps out or over-partitions off
    its design scale)."""
    buckets = lsh_buckets_scaled(embeddings, target_bucket, seed, dim)
    return _pairs_from_buckets(embeddings, buckets, min_cos, max_bucket)


def _pairs_from_buckets(
    embeddings: DataFrame,
    buckets: DataFrame,
    min_cos: float,
    max_bucket: int | None,
) -> DataFrame:
    if max_bucket is not None:
        from rnadam_spark.lineage import truncate_lineage
        from rnadam_spark.operators.guards import drop_oversize_buckets

        buckets = drop_oversize_buckets(truncate_lineage(buckets), ["bucket"], max_bucket)
    # materialize each vector's norm ONCE before the self-join: a
    # vector in a bucket of n appears in ~n pairs, and the inline
    # cosine re-aggregated its self-dot per PAIR (interpreted lambdas,
    # no codegen CSE — see text.gopher_prelude). sqrt(dot(v,v)) here is
    # the same float ops in the same order as cosine's denominator
    # factors, so the pair values are bit-identical
    with_bucket = buckets.join(embeddings, "vec_id").withColumn(
        "__norm", F.sqrt(dot(_as_double("embedding"), _as_double("embedding")))
    )
    a = with_bucket.alias("a")
    b = with_bucket.alias("b")
    return (
        a.join(b, "bucket")
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            (
                F.floor(
                    dot(_as_double(F.col("a.embedding")), _as_double(F.col("b.embedding")))
                    / (F.col("a.__norm") * F.col("b.__norm"))
                    * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("cos"),
        )
        .filter(F.col("cos") >= min_cos)
    )


def ann_recall(
    approx_topk: DataFrame,
    exact_topk: DataFrame,
    id_col: str = "vec_id",
) -> DataFrame:
    """One row (k, n_hits, recall): recall@k of an ANN result against
    the exact top-k — the QUALITY number every approximate index must
    publish next to its speed number (an IVF that probes too few cells
    is fast and useless; this makes the trade measurable). Both inputs are tiny top-k
    tables, so the overlap is one collect + a filtered aggregate;
    recall = |approx ∩ exact| / |exact| rounded half-up to 6dp.

    The exact side is collected ONCE (it is a bounded top-k list by
    contract) and both k and the membership test derive from that list
    — the earlier form ran the exact subtree twice (a ``count()`` just
    to learn k, then again as a broadcast semi-join side), doubling the
    brute-force scan the gate row pays at every scale (r11 review)."""
    exact_ids = [r[id_col] for r in exact_topk.select(id_col).collect()]
    n_exact = len(exact_ids)
    hits = approx_topk.select(id_col).filter(
        F.col(id_col).isin(exact_ids) if exact_ids else F.lit(False)
    )
    return hits.agg(
        F.lit(int(n_exact)).alias("k"),
        F.count("*").cast("bigint").alias("n_hits"),
        (
            F.floor(F.count("*").cast("double") / F.lit(float(max(n_exact, 1))) * 1e6 + F.lit(0.5))
            / 1e6
        ).alias("recall"),
    )
