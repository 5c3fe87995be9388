"""Plan-quality regression tests: pushdown, pruning, broadcast choice,
and shuffle counts are part of each operator's contract (the 100 TB
design), not an accident of the current optimizer mood."""

import re

import pytest

from rnadam_spark.plans import (
    count_shuffles,
    has_broadcast_join,
    has_pushed_filters,
    has_window,
    plan_string,
    read_schema_columns,
)
from rnadam_spark.queries.genomics_q import (
    dinuc_context_features,
    equivalence_classes,
    kmer_count,
    kmer_doc_counts,
    kmer_to_class,
)
from rnadam_spark.queries.relational import (
    local_supplier_volume,
    pricing_summary,
    top_revenue_orders,
)
from rnadam_spark.queries.windows_q import fraction_of_group, sessionize_events


def test_pricing_summary_pushdown_and_pruning(spark, sf_dir):
    df = pricing_summary(spark, sf_dir)
    # the shipdate predicate must reach the parquet scan
    assert has_pushed_filters(df, "l_shipdate")
    cols = read_schema_columns(df, "lineitem")
    assert "l_quantity" in cols and "l_extendedprice" in cols
    # untouched columns must be pruned from the scan
    assert "l_partkey" not in cols and "l_suppkey" not in cols
    # one aggregation shuffle, nothing else
    assert count_shuffles(df) == 1


def test_top_revenue_orders_broadcasts_customer(spark, sf_dir):
    df = top_revenue_orders(spark, sf_dir)
    assert has_broadcast_join(df)
    assert has_pushed_filters(df, "c_mktsegment")
    assert has_pushed_filters(df, "l_shipdate")


def test_local_supplier_volume_broadcasts_dims(spark, sf_dir):
    df = local_supplier_volume(spark, sf_dir)
    assert has_broadcast_join(df)
    assert has_pushed_filters(df, "o_orderdate")
    # region scan prunes to the two columns used
    assert read_schema_columns(df, "region") <= {"r_regionkey", "r_name"}


def test_kmer_count_single_shuffle(spark, sf_dir):
    df = kmer_count(spark, sf_dir)
    assert count_shuffles(df) == 1  # the groupBy — shingling is map-side
    # Catalyst prunes even doc_id (unused after the explode)
    assert read_schema_columns(df, "documents") == {"text"}


def test_per_doc_runlength_queries_zero_shuffle(spark, sf_dir):
    # Container-keyed groupings compute inside the row (run-length over
    # the sorted shingle array) — no hash/range exchange anywhere. The
    # widen-scan round-robin repartition is deliberately not counted:
    # it disappears on real multi-row-group inputs.
    for q in (kmer_doc_counts, equivalence_classes, kmer_to_class, dinuc_context_features):
        assert count_shuffles(q(spark, sf_dir)) == 0, q.__name__


def test_ivf_queries_zero_shuffle(spark, sf_dir):
    # IVF cell assignment is a per-row argmax against centroid literals;
    # the probed top-k adds only broadcasts + TakeOrdered — no exchange
    from rnadam_spark.queries.pipeline_q import bpe_token_stats, ivf_cells, ivf_topk

    assert count_shuffles(ivf_cells(spark, sf_dir)) == 0
    df = ivf_topk(spark, sf_dir)
    assert count_shuffles(df) == 0
    assert has_broadcast_join(df)
    assert count_shuffles(bpe_token_stats(spark, sf_dir)) == 0


def test_fraction_of_group_single_shuffle(spark, sf_dir):
    # the E-step shape: one hash exchange for the window, no regrouping
    assert count_shuffles(fraction_of_group(spark, sf_dir)) == 1


def test_sessionize_single_shuffle(spark, sf_dir):
    # lag + cumsum + final rollup all share the user_id partitioning:
    # Catalyst must not re-exchange between the two windows and the agg
    df = sessionize_events(spark, sf_dir)
    assert count_shuffles(df) == 1


def test_hash_sample_zero_shuffle_and_pruned_scan(spark, sf_dir):
    # deterministic sampling is a pure filter: no exchange, and the
    # hash-key filter evaluates at the scan (not pushed INTO parquet —
    # it's an expression — but no extra stage either)
    from rnadam_spark.queries.pipeline_q import hash_sampled_docs, stratified_sample_by_lang

    df = hash_sampled_docs(spark, sf_dir)
    assert count_shuffles(df) == 0
    assert read_schema_columns(df, "documents") == {"doc_id", "lang", "source"}
    assert count_shuffles(stratified_sample_by_lang(spark, sf_dir)) == 0


def test_quantile_filter_approx_broadcasts_thresholds(spark):
    from rnadam_spark.operators.sampling import top_fraction_per_group_approx

    df = spark.createDataFrame(
        [(i, f"s{i % 3}", float(i)) for i in range(100)], "doc_id BIGINT, src STRING, q DOUBLE"
    )
    out = top_fraction_per_group_approx(df, "src", "q", 0.25)
    # the per-group thresholds ride a broadcast join — a hot group
    # partial-aggregates into the sketch instead of funneling one task
    assert has_broadcast_join(out)


def test_quality_quantile_filter_registered_path_no_window(spark, sf_dir):
    # the REGISTERED curation cut must be the skew-safe form: groupBy
    # threshold + broadcast join, with no Window operator anywhere on
    # the plan (VERDICT r2 #2 — the percent_rank form funneled each
    # source through one task)
    from rnadam_spark.plans import has_window
    from rnadam_spark.queries.pipeline_q import quality_quantile_filter

    df = quality_quantile_filter(spark, sf_dir)
    assert not has_window(df)
    assert has_broadcast_join(df)


def test_em_loop_iteration_single_broadcast(spark):
    # the enriched-edges design: an iteration's plan broadcasts only mu;
    # rel_p/t_len are passthrough columns, never re-joined
    from rnadam_spark.algorithms.quantify import e_step, m_step

    mu = spark.createDataFrame([("a", 0.5), ("b", 0.5)], ["t_id", "mu"])
    edges = spark.createDataFrame(
        [(1, "a", 0.6, 100.0), (1, "b", 0.4, 50.0)],
        ["class_id", "t_id", "rel_p", "t_len"],
    )
    out = m_step(e_step(mu, edges), None, 5, None, normalize=False)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastExchange") == 1
    assert count_shuffles(out) == 2  # class window + t_id groupBy


def test_em_e_step_broadcasts_mu(spark):
    from rnadam_spark.algorithms.quantify import e_step

    mu = spark.createDataFrame([("a", 0.5), ("b", 0.5)], ["t_id", "mu"])
    edges = spark.createDataFrame([(1, "a"), (1, "b")], ["class_id", "t_id"])
    df = e_step(mu, edges)
    assert has_broadcast_join(df)
    assert count_shuffles(df) == 1  # only the class window


def test_em_e_step_reuses_cached_edge_partitioning(spark):
    # the loop's edge prep (repartition by class_id + cache): the
    # E-step window must reuse the cached hashpartitioning — broadcast
    # join + local sort + window, ZERO exchanges beyond the ones
    # already inside the cached subtree's printed plan
    from rnadam_spark.algorithms.quantify import e_step

    mu = spark.createDataFrame([("a", 0.5), ("b", 0.5)], ["t_id", "mu"])
    edges = (
        spark.createDataFrame(
            [(1, "a", 0.6, 100.0), (1, "b", 0.4, 50.0)],
            ["class_id", "t_id", "rel_p", "t_len"],
        )
        .repartition("class_id")
        .cache()
    )
    try:
        edges.count()
        base = count_shuffles(edges)  # the cache-time repartition exchange(s)
        df = e_step(mu, edges)
        assert has_broadcast_join(df)
        assert count_shuffles(df) == base  # the window added none
    finally:
        edges.unpersist()


def test_curation_projection_ops_zero_shuffle(spark, sf_dir):
    # normalize/redact/repetition/url stats are per-row functions: the
    # whole operator must distribute with the scan — no exchange at all
    from rnadam_spark.operators import repetition, text, web
    from rnadam_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    for op in (
        repetition.repetition_stats,
        text.normalize_text,
        web.url_stats,
    ):
        df = op(docs)
        assert count_shuffles(df) == 0, op.__name__
        assert not has_window(df), op.__name__
    # only the two used columns reach the scan
    assert read_schema_columns(repetition.repetition_stats(docs), "documents") == {
        "doc_id",
        "text",
    }


def test_redact_pii_projection_codegend(spark, sf_dir):
    # the redaction count is a plain sum of the per-pattern counts: an
    # `aggregate` lambda would be interpreted (CodegenFallback), pull the
    # whole Project out of whole-stage codegen, and keep subexpression
    # elimination from sharing the partial rewrites
    from rnadam_spark.operators import text
    from rnadam_spark.sources.tables import load_table

    plan = plan_string(text.redact_pii(load_table(spark, sf_dir, "documents")), "simple")
    assert "aggregate(" not in plan
    assert re.search(r"^\*\(\d+\) Project \[.*AS n_redactions", plan, re.M)


def test_dedup_lines_no_window(spark, sf_dir):
    # the C4 line-dedup contract: winner selection is an aggregate (one
    # row per DISTINCT line crosses the wire), never a per-line window
    # that would funnel a hot boilerplate line through a single task
    from rnadam_spark.operators import repetition
    from rnadam_spark.sources.tables import load_table

    df = repetition.dedup_lines(load_table(spark, sf_dir, "documents"))
    assert not has_window(df)
    # line-agg (reused by the join probe) + doc reassembly; the probe
    # side's exchange may or may not fold depending on AQE's view
    assert 2 <= count_shuffles(df) <= 3


def test_pack_sequences_single_exchange(spark, sf_dir):
    import os

    from rnadam_spark.operators.lm import pack_sequences

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    df = pack_sequences(docs, budget=2048)
    # one hash exchange on pack_group feeds the running-sum window;
    # no global single-partition sort anywhere
    assert count_shuffles(df) == 1
    assert has_window(df)  # the group-partitioned window IS the design
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_sample_to_mixture_corpus_side_broadcast_only(spark, sf_dir):
    import os

    from rnadam_spark.operators.lm import sample_to_mixture

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    df = sample_to_mixture(docs, "lang", alpha=0.5)
    # the keep-rate table reaches the scan as a broadcast join — the
    # corpus itself never hash-exchanges (the weight table's own tiny
    # aggregates are the only exchanges in the plan)
    assert has_broadcast_join(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan


def test_c4_clean_and_pq_encode_zero_shuffle(spark, sf_dir):
    # C4 cleaning and PQ encoding are per-row functions of literal
    # rules/codebooks: both must distribute with the scan — no exchange
    from rnadam_spark.operators import similarity, text
    from rnadam_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    df = text.c4_clean(docs)
    assert count_shuffles(df) == 0 and not has_window(df)
    assert read_schema_columns(df, "documents") == {"doc_id", "text"}

    emb = load_table(spark, sf_dir, "embeddings")
    books = [[[1.0] * 16, [0.0] * 16] for _ in range(4)]  # m=4, k=2, dim 64
    coded = similarity.pq_encode(emb, books)
    assert count_shuffles(coded) == 0 and not has_window(coded)
    assert read_schema_columns(coded, "embeddings") == {"vec_id", "embedding"}


def test_pq_topk_zero_shuffle_take_ordered(spark, sf_dir):
    # ADC scoring is table lookups per row; the only reduction is the
    # global top-k, which must be a TakeOrdered, not a full sort
    from rnadam_spark.operators import similarity
    from rnadam_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    books = similarity.train_pq(emb.limit(64), m=4, nbits=2, max_iterations=1)
    df = similarity.pq_topk(emb, 0, books, k=10)
    assert count_shuffles(df) == 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_cell_near_pairs_single_cell_exchange(spark, sf_dir):
    # SemDeDup candidate generation: cell assignment is a projection
    # against literal centroids; the self-join on cell is the single
    # hash exchange pair (uncapped path — the capped path adds only the
    # aggregate-then-broadcast-anti-join occupancy guard)
    from rnadam_spark.operators import similarity
    from rnadam_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = [[float(i == j) for i in range(64)] for j in range(4)]
    df = similarity.cell_near_pairs(emb, cents, min_cos=0.9)
    # two scan-side exchanges feeding one sort-merge/shuffle join on cell
    assert count_shuffles(df) <= 2
    assert not has_window(df)
    capped = similarity.cell_near_pairs(emb, cents, min_cos=0.9, max_cell=100)
    assert not has_window(capped)  # guard must NOT be a window
    assert has_broadcast_join(capped)  # the oversize set broadcasts


def test_bucket_cap_guards_no_window(spark, sf_dir):
    # VERDICT r6 #1: every bucket-size cap must be the skew-safe
    # aggregate-then-broadcast-anti-join form. A Window.partitionBy
    # count funnels the hot bucket — the exact skew the cap guards
    # against — into one task, with no map-side partial aggregation and
    # no AQE skew-split. Pin the plan contract for all five operators.
    from rnadam_spark.operators import dedup, multimodal, similarity
    from rnadam_spark.queries.pipeline_q import (
        embedding_bucket_pairs,
        simhash_hamming_pairs,
    )
    from rnadam_spark.sources.tables import load_table

    # the two REGISTERED capped plans
    for q in (embedding_bucket_pairs, simhash_hamming_pairs):
        df = q(spark, sf_dir)
        assert not has_window(df), q.__name__
        assert has_broadcast_join(df), q.__name__

    docs = load_table(spark, sf_dir, "documents")
    df = dedup.ngram_jaccard_pairs(docs, max_gram_df=50)
    assert not has_window(df)
    assert has_broadcast_join(df)

    df = similarity.bucket_near_pairs(load_table(spark, sf_dir, "embeddings"), max_bucket=50)
    assert not has_window(df)

    hashes = spark.createDataFrame(
        [(i, (i * 2654435761) % (1 << 63)) for i in range(20)],
        "asset_id BIGINT, dhash BIGINT",
    )
    # r13: the grouped form's cap rides the group-grain collect
    # aggregate (sum(cnt) <= max_bucket — no Window and no second pass)
    df = multimodal.dhash_hamming_pairs(hashes, max_bucket=5)
    assert not has_window(df)


def test_round7_operators_plan_contracts(spark, sf_dir):
    # the round-7 surface keeps the engine's plan discipline:
    # dsir_select thresholds by broadcast (no Window, no global Sort in
    # the selection), excise_paragraphs rebuilds without a Window, and
    # the DSIR weight chain broadcasts its bounded model tables
    from pyspark.sql import functions as F

    from rnadam_spark.operators import dsir, text
    from rnadam_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    tgt = docs.filter(F.col("doc_id") % 5 == 0)
    tc = dsir.bucket_counts(tgt, 512)
    rc = dsir.bucket_counts(docs, 512)
    w = dsir.dsir_log_weights(docs, tc, rc, 512)
    assert not has_window(w)
    assert has_broadcast_join(w)  # the <=n_buckets log-ratio table

    sel = dsir.dsir_select(w.limit(50), 0.5)
    plan = sel._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row threshold rides broadcast

    bad = spark.createDataFrame([(1, 0)], ["doc_id", "para_idx"])
    exc = text.excise_paragraphs(docs.select("doc_id", "text"), bad)
    assert not has_window(exc)
    # round-8 single-pass form: the docs parquet scans ONCE (the old
    # rescue anti-join consumed it twice)
    plan = exc._jdf.queryExecution().executedPlan().toString()
    assert plan.count("documents.parquet") == 1


def test_round8_operators_plan_contracts(spark, sf_dir):
    from pyspark.sql import functions as F

    from rnadam_spark.operators import web
    from rnadam_spark.operators.sampling import cap_per_group
    from rnadam_spark.operators.text import nfkc_normalize
    from rnadam_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")

    # nfkc: a pure Arrow-batched map — zero shuffle, no join, no window
    nf = nfkc_normalize(docs)
    assert count_shuffles(nf) == 0 and not has_window(nf)

    # suffix blocklist: the blocklist side must broadcast (the corpus
    # explode never shuffles against it) and there is no window anywhere
    bl = spark.createDataFrame([("example.com",)], "domain STRING")
    blocked = web.filter_blocklisted_domains(docs, bl, suffix=True)
    assert has_broadcast_join(blocked) and not has_window(blocked)

    # cap: the per-group threshold rides a broadcast join; the only
    # windows rank the BOUNDED survivor/rescue subsets, never the raw
    # corpus — asserted by the threshold filter preceding them in the
    # plan (a raw-corpus window would show a Window directly over the
    # scan with no prior _code < _thr filter)
    capped = cap_per_group(docs.select("doc_id", "source"), "source", 5, "doc_id")
    assert has_broadcast_join(capped)
    plan = capped._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan and "_thr" in plan


# Physical-form selectors: once measurement has settled a choice, the
# operator keeps one physical form (OPTIMIZATION_r13.md / r14.md). A
# second form that is the only independent oracle for a kernel lives in
# the test module that pins it, not behind a production keyword.
_SELECTOR_PARAMS = frozenset(
    {
        "kernel",
        "strategy",
        "pandas_kernel",
        "cache_edges",
        "broadcast_benchmark",
        "contracted",
        "skew_safe",
        "checkpoint_every",
    }
)


def _selector_sites() -> list[str]:
    import importlib
    import inspect
    import pkgutil

    sites = []
    for pkg_name in (
        "rnadam_spark.operators",
        "rnadam_spark.queries",
        "rnadam_spark.algorithms",
    ):
        pkg = importlib.import_module(pkg_name)
        for info in pkgutil.iter_modules(pkg.__path__):
            mod = importlib.import_module(f"{pkg_name}.{info.name}")
            for name, fn in inspect.getmembers(mod, inspect.isfunction):
                if fn.__module__ != mod.__name__:
                    continue
                for param in inspect.signature(fn).parameters:
                    if param in _SELECTOR_PARAMS:
                        sites.append(f"{mod.__name__}.{name}({param}=)")
    return sorted(sites)


def test_no_physical_form_selector_params():
    sites = _selector_sites()
    assert not sites, f"{len(sites)} physical-form selector parameters: {sites}"
