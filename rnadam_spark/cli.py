"""CLI parity with the reference's two commands (RiceMain.scala:29-35):

  rnadam-spark index GENOME GENES KMER_LENGTH OUTPUT
  rnadam-spark quantify READS INDEX GENES KMER_LENGTH OUTPUT
      [-max_iterations N] [-disable_kmer_calibration]
      [-disable_length_calibration] [-checkpoint_dir DIR]

plus the north-star curation command over a documents table:

  rnadam-spark curate DOCUMENTS OUTPUT [-quality_min X]
      [-chunk_chars N] [-chunk_overlap N] [-partition_by COL]
      [-skip_normalize] [-nfkc] [-blocklist FILE] [-cap_per_domain N]
      [-c4] [-gopher] [-dedup_lines] [-span_dedup N]
      [-max_dup_5gram X]
      [-max_perplexity X -lm_sample_frac F]
      [-classifier_weights PQ -classifier_intercept B -classifier_min P]
      [-mixture_alpha A -mixture_group COL]
      [-shards N -shard_seed S]

the incremental-ingest dedup pair:

  rnadam-spark dedup-index DOCUMENTS SIG_STORE
  rnadam-spark ingest NEW_DOCS SIG_STORE PAIRS_OUT
      [-est_threshold X] [-max_bucket N] [-update_store]

the arrival-driven streaming curation:

  rnadam-spark curate-stream DIR OUTPUT CHECKPOINT
      [-format jsonl|parquet] [-quality_min X] [-no_c4] [-blocklist FILE]

the one-pass corpus audit:

  rnadam-spark profile DOCUMENTS [-group_by COL] [-funnel] [-skew_by COL]

and the index-driven (BAI/CSI) BAM region slice:

  rnadam-spark bam-region BAM CONTIG[:BEG-END] OUTPUT

Args mirror cli/Index.scala:41-53 and cli/Quantify.scala:41-65; inputs
are parquet datasets with the FIXTURES.md §A schemas. The library API
(rnadam_spark.algorithms / rnadam_spark.operators) is the primary
surface — this is a thin wrapper, as in the reference (SURVEY.md §3
entry point 3).
"""

from __future__ import annotations

import argparse
import sys

from rnadam_spark.session import get_spark
from rnadam_spark.sources import genomics as gio


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="rnadam-spark")
    sub = p.add_subparsers(dest="command", required=True)

    ix = sub.add_parser("index", help="build a k-mer equivalence-class index")
    ix.add_argument("genome", help="parquet: (contig, sequence)")
    ix.add_argument("genes", help="parquet: transcripts with nested exons")
    ix.add_argument("kmer_length", type=int)
    ix.add_argument("output", help="output prefix (writes _kmers/_classes)")

    q = sub.add_parser("quantify", help="quantify transcript abundances")
    q.add_argument("reads", help="parquet: (read_id, sequence)")
    q.add_argument("index", help="index prefix from the index command")
    q.add_argument("genes", help="parquet: transcripts with nested exons")
    q.add_argument("kmer_length", type=int)
    q.add_argument("output", help="output directory for text results")
    q.add_argument("-max_iterations", type=int, default=50)
    q.add_argument("-disable_kmer_calibration", action="store_true")
    q.add_argument("-disable_length_calibration", action="store_true")
    q.add_argument(
        "-checkpoint_dir",
        default=None,
        help="fault-tolerant dir for reliable EM checkpointing (default: localCheckpoint)",
    )

    br = sub.add_parser(
        "bam-region",
        help="index-driven region slice of BAM shard(s): reads only the "
        "BGZF blocks the sibling .bam.bai/.bam.csi names, never the "
        "full shard",
    )
    br.add_argument(
        "bam", help=".bam file or glob of shards, each with a .bam.bai or .bam.csi"
    )
    br.add_argument("region", help="CONTIG[:BEG-END], 1-based inclusive (samtools form)")
    br.add_argument("output", help="parquet: the overlapping alignment records")

    c = sub.add_parser("curate", help="PII-scrub, quality-filter, dedup, chunk, shard")
    c.add_argument("documents", help="parquet: (doc_id, text, lang, source, n_chars)")
    c.add_argument("output", help="output directory (Hive-partitioned parquet)")
    c.add_argument("-quality_min", type=float, default=0.9)
    c.add_argument("-chunk_chars", type=int, default=0, help="0 = no chunking")
    c.add_argument("-chunk_overlap", type=int, default=128)
    c.add_argument("-partition_by", default="lang")
    c.add_argument(
        "-skip_normalize",
        action="store_true",
        help="skip the whitespace/control-char normalization pass",
    )
    c.add_argument(
        "-nfkc",
        action="store_true",
        help="Unicode NFKC normalization before all other stages "
        "(fullwidth/ligature/compatibility forms collide in dedup); "
        "Arrow-batched stdlib unicodedata",
    )
    c.add_argument(
        "-c4",
        action="store_true",
        help="apply the C4 line+page heuristic cleaning rules (drops "
        "non-keep_doc pages, keeps only qualifying lines)",
    )
    c.add_argument(
        "-gopher",
        action="store_true",
        help="drop documents failing the Gopher document-quality rules "
        "(word count, mean word length, symbol ratio, bullet/ellipsis "
        "lines, alphabetic-word fraction, stop words)",
    )
    c.add_argument(
        "-near_dedup",
        action="store_true",
        help="drop near-duplicates: LSH candidates -> exact-Jaccard "
        "verify -> connected components -> keep the canonical doc",
    )
    c.add_argument(
        "-near_jaccard_min",
        type=float,
        default=0.8,
        help="exact shingle-Jaccard threshold for the verify stage",
    )
    c.add_argument(
        "-lsh_max_bucket",
        type=int,
        default=1000,
        help="drop LSH band buckets larger than this before pairing",
    )
    c.add_argument(
        "-decontaminate",
        default=None,
        help="parquet documents table holding the benchmark/eval texts; "
        "docs whose 13-gram overlap with it exceeds -max_contamination "
        "are dropped",
    )
    c.add_argument("-max_contamination", type=float, default=0.05)
    c.add_argument(
        "-decontaminate_excise",
        action="store_true",
        help="with -decontaminate: excise the leaked 13-gram spans and "
        "keep the documents, instead of dropping whole documents over "
        "-max_contamination",
    )
    c.add_argument(
        "-bad_phrases",
        default=None,
        help="parquet (phrase): large blocklist — docs containing any "
        "phrase (token-boundary, case/punct-insensitive) are dropped",
    )
    c.add_argument(
        "-audit",
        action="store_true",
        help="print the curation-funnel JSON line (per-stage drop "
        "counts under the same thresholds) before writing",
    )
    c.add_argument(
        "-dedup_lines",
        action="store_true",
        help="drop corpus-wide repeated lines (C4-style boilerplate dedup)",
    )
    c.add_argument(
        "-span_dedup",
        type=int,
        default=0,
        help="delete every exact duplicated span of >= N tokens "
        "(Lee et al. 2021 substring dedup); runs on the dedup survivors",
    )
    c.add_argument(
        "-para_near_dedup",
        type=float,
        default=None,
        help="excise paragraphs that are NEAR-duplicates (shingle "
        "Jaccard >= X) of another paragraph anywhere in the corpus, "
        "keeping one canonical per family (fuzzy boilerplate blocks an "
        "exact hash misses); docs the cut empties are dropped",
    )
    c.add_argument(
        "-max_dup_5gram",
        type=float,
        default=None,
        help="drop documents whose duplicated-5-gram char fraction exceeds X",
    )
    c.add_argument(
        "-max_perplexity",
        type=float,
        default=None,
        help="drop documents above X under a char-3-gram LM trained on a "
        "deterministic sample of the corpus itself",
    )
    c.add_argument(
        "-lm_sample_frac",
        type=float,
        default=0.1,
        help="deterministic hash-sample fraction used to train the perplexity LM",
    )
    c.add_argument(
        "-excise_ppl_tail",
        type=float,
        default=None,
        help="excise the worst-perplexity FRACTION of paragraphs corpus-wide "
        "(CCNet-style tail excision) under the same self-trained char-3-gram "
        "LM; survivors re-join with blank lines, docs the cut empties are "
        "dropped. Paragraph-level — composes with, and differs from, the "
        "document-level -max_perplexity. Not covered by -audit.",
    )
    c.add_argument(
        "-classifier_weights",
        default=None,
        help="parquet (bucket, weight): linear quality-classifier weights; "
        "docs scoring below -classifier_min are dropped",
    )
    c.add_argument("-classifier_intercept", type=float, default=0.0)
    c.add_argument("-classifier_min", type=float, default=0.5)
    c.add_argument(
        "-mixture_alpha",
        type=float,
        default=None,
        help="resample surviving docs toward the temperature-alpha mixture "
        "over -mixture_group",
    )
    c.add_argument("-mixture_group", default="source")
    c.add_argument(
        "-blocklist",
        default=None,
        help="domain blocklist applied FIRST, before any other stage "
        "(UT1 suffix semantics: an entry bans every subdomain): a "
        "parquet with a domain column, or a text file with one domain "
        "per line",
    )
    c.add_argument(
        "-cap_per_domain",
        type=int,
        default=None,
        help="after dedup, keep at most N docs per -cap_group (exact, "
        "deterministic, skew-safe — the smallest-hash N survive)",
    )
    c.add_argument("-cap_group", default="source")
    c.add_argument(
        "-pack_budget",
        type=int,
        default=0,
        help="instead of char chunking, emit GPT-style packing columns "
        "(pack_group, pack_id, pack_offset) cutting the token stream "
        "every N tokens; mutually exclusive with -chunk_chars",
    )
    c.add_argument(
        "-shards",
        type=int,
        default=0,
        help="write N hash-shuffled training shards (shard=i directories "
        "with a _manifest.json) instead of the -partition_by layout",
    )
    c.add_argument("-shard_seed", type=int, default=0)
    c.add_argument(
        "-codec",
        default=None,
        help="parquet compression for the output (e.g. zstd — the "
        "better size/speed point for text at rest; default snappy)",
    )

    cs = sub.add_parser(
        "curate-stream",
        help="incremental curation over arriving files: stateless fused "
        "chain (normalize -> C4 -> PII scrub -> quality cut), checkpointed; "
        "each run processes exactly the files that arrived since the last",
    )
    cs.add_argument("documents", help="directory files arrive in (jsonl or parquet)")
    cs.add_argument("output", help="parquet output directory (append)")
    cs.add_argument("checkpoint", help="streaming checkpoint directory")
    cs.add_argument(
        "-format",
        choices=["jsonl", "parquet", "warc"],
        default="jsonl",
        help="warc: arriving .warc(.gz) shards parse + boilerplate-strip "
        "in the same stateless chain (crawl -> curated parquet, "
        "checkpoint-incremental)",
    )
    cs.add_argument("-quality_min", type=float, default=0.9)
    cs.add_argument("-no_c4", action="store_true")
    cs.add_argument(
        "-exact_dedup",
        action="store_true",
        help="stateful cross-batch exact dedup: one checkpoint-persisted "
        "state entry per distinct content hash; a re-crawled duplicate "
        "arriving in a later file or run is dropped",
    )
    cs.add_argument(
        "-dedup_within",
        default=None,
        help="with -exact_dedup on an event-timed source (warc): bound "
        "the dedup state to this watermark horizon (e.g. '7 days') — "
        "older state evicts; re-crawls beyond it fall to the batch pass",
    )
    cs.add_argument(
        "-blocklist",
        default=None,
        help="domain blocklist (parquet domain column or one-per-line "
        "text), applied first as a stream-static anti-join; keep it to "
        "curated thousands at ingest — UT1-scale lists belong in the "
        "batch pass",
    )

    ai = sub.add_parser(
        "ann-index",
        help="train IVF centroids + PQ codebooks and persist the "
        "compressed ANN index: codes parquet partitioned BY cell "
        "(queries partition-prune to their probed cells) + model.json",
    )
    ai.add_argument("embeddings", help="parquet: (vec_id, embedding)")
    ai.add_argument("output", help="index directory (codes/ + model.json)")
    ai.add_argument("-n_centroids", type=int, default=16)
    ai.add_argument("-m", type=int, default=8, help="PQ subspaces")
    ai.add_argument("-nbits", type=int, default=4, help="bits per PQ code")
    ai.add_argument("-iterations", type=int, default=5)
    ai.add_argument("-dim", type=int, default=64)

    aq = sub.add_parser(
        "ann-query",
        help="query a persisted ann-index: coarse cells ranked driver-"
        "side, scan pruned to -n_probe cells, ADC scoring; optional "
        "exact-cosine rerank against the float embeddings",
    )
    aq.add_argument("index", help="directory written by ann-index")
    aq.add_argument("embeddings", help="parquet the query vector is read from")
    aq.add_argument("query_id", type=int, help="vec_id of the query vector")
    aq.add_argument("-k", type=int, default=10)
    aq.add_argument("-n_probe", type=int, default=4)
    aq.add_argument(
        "-rerank",
        action="store_true",
        help="exact-cosine rerank of the 4k-deep ADC candidates",
    )

    _INGEST_RECIPE = """\
the continuous-ingest near-dedup recipe (batch pass + per-shard ingest):

  1. periodic authoritative pass (e.g. weekly), full corpus:
       rnadam-spark curate CORPUS CURATED -near_dedup 0.8 ...
     the batch LSH -> verify -> connected-components pass is the only
     stage that canonicalizes whole duplicate FAMILIES (transitive
     closure across every shard ever ingested).
  2. rebuild the signature store from the curated survivors:
       rnadam-spark dedup-index CURATED STORE
     the store is doc_id + 16 minhashes (~0.1%% of corpus bytes) — the
     only artifact the ingest path reads; stored text is never re-read.
  3. per arriving shard, between batch passes:
       rnadam-spark ingest SHARD STORE PAIRS -update_store
     flags shard docs near-duplicating ANYTHING already indexed;
     -update_store appends the shard's signatures so the NEXT shard
     also dedups against this one (shard N vs shards 1..N-1, not just
     vs the last batch pass).
  ingest catches pairs; only the periodic batch pass collapses families
  and re-canonicalizes — run it on the cadence your duplication rate
  tolerates. The same recipe drives the arrival-driven path: point
  curate-stream at the shard directory for stages that stream, and keep
  dedup-index/ingest as the near-dup bridge (near-dedup needs a corpus-
  wide self-join, which has no bounded-state streaming form)."""

    di = sub.add_parser(
        "dedup-index",
        help="build and persist the MinHash signature store (the ~0.1%%-"
        "of-corpus artifact incremental ingest dedups against)",
        description=_INGEST_RECIPE,
        formatter_class=argparse.RawDescriptionHelpFormatter,
    )
    di.add_argument("documents", help="parquet: documents table")
    di.add_argument("output", help="parquet signature store (doc_id, h0..h15)")

    ing = sub.add_parser(
        "ingest",
        help="near-dup check a NEW shard against a persisted signature "
        "store without touching stored text; optionally append the "
        "shard's signatures to the store",
        description=_INGEST_RECIPE,
        formatter_class=argparse.RawDescriptionHelpFormatter,
    )
    ing.add_argument("new_documents", help="parquet: the arriving shard")
    ing.add_argument("signature_store", help="store built by dedup-index")
    ing.add_argument("output", help="parquet: (new_id, index_id, est_jaccard) pairs")
    ing.add_argument("-est_threshold", type=float, default=0.5)
    ing.add_argument("-max_bucket", type=int, default=1000)
    ing.add_argument(
        "-update_store",
        action="store_true",
        help="append the new shard's signatures to the store afterwards",
    )

    se = sub.add_parser(
        "search",
        help="BM25 top-k over a documents table (one corpus-stats "
        "aggregate + a zero-shuffle scoring pass)",
    )
    se.add_argument("documents", help="parquet: documents table")
    se.add_argument("query", help="free-text query")
    se.add_argument("-k", type=int, default=10)

    dif = sub.add_parser(
        "diff",
        help="per-document delta between two corpus snapshots (added/"
        "removed/changed/unchanged); prints the summary JSON and "
        "optionally writes the added+changed slice for incremental "
        "re-processing",
    )
    dif.add_argument("old", help="parquet: previous snapshot")
    dif.add_argument("new", help="parquet: current snapshot")
    dif.add_argument(
        "-changed_out",
        default=None,
        help="write the new snapshot's added+changed documents here "
        "(the slice to feed dedup-index/ingest and embedding stages)",
    )

    pr = sub.add_parser(
        "profile", help="one-pass corpus profile (sizes, dup rate, language mix)"
    )
    pr.add_argument("documents", help="parquet: documents table")
    pr.add_argument("-group_by", default="lang", help="column for the mix table")
    pr.add_argument(
        "-funnel",
        action="store_true",
        help="add the curation-funnel block: per-stage drop counts "
        "(c4/quality/repetition/exact-dup) under -quality_min/-max_dup_5gram",
    )
    pr.add_argument("-quality_min", type=float, default=0.9)
    pr.add_argument("-max_dup_5gram", type=float, default=None)
    pr.add_argument(
        "-skew_by",
        default=None,
        help="add a shuffle-key skew block for this column: group-size "
        "distribution, heaviest keys, suggested salt factor",
    )

    we = sub.add_parser(
        "warc-extract",
        help="crawl ingestion end-to-end: WARC shards -> text/html "
        "response records -> boilerplate-stripped documents table",
    )
    we.add_argument("warc", help="WARC file(s)/directory (shards; .warc or .warc.gz)")
    we.add_argument("output", help="parquet: (doc_id, url, fetched_at, text, ...)")
    we.add_argument("-min_words", type=int, default=3)
    we.add_argument("-max_link_density", type=float, default=0.25)
    we.add_argument("-min_stopword_frac", type=float, default=0.0)
    we.add_argument(
        "-drop_empty", action="store_true", help="drop pages that extract to empty text"
    )

    eh = sub.add_parser(
        "extract-html",
        help="boilerplate-strip crawled HTML into a documents table "
        "(jusText-lite block classifier; zero-shuffle projection)",
    )
    eh.add_argument("pages", help="parquet with (doc_id, html)")
    eh.add_argument("output", help="parquet: (doc_id, text, n_blocks, n_kept, link_frac)")
    eh.add_argument("-html_col", default="html")
    eh.add_argument("-min_words", type=int, default=3)
    eh.add_argument("-max_link_density", type=float, default=0.25)
    eh.add_argument("-min_stopword_frac", type=float, default=0.0)
    eh.add_argument(
        "-drop_empty", action="store_true", help="drop pages that extract to empty text"
    )

    ds = sub.add_parser(
        "dsir",
        help="keep the fraction of a raw corpus that best matches a "
        "target corpus: hashed-n-gram importance weights + deterministic "
        "Gumbel-top-k resampling (DSIR, Xie et al. 2023)",
    )
    ds.add_argument("raw", help="parquet: raw documents (or an arriving shard with -model)")
    ds.add_argument("output", help="parquet: selected docs + n_features/log_weight")
    ds.add_argument(
        "-target",
        default=None,
        help="parquet: target-domain documents (trains both distributions this run)",
    )
    ds.add_argument(
        "-model",
        default=None,
        help="distribution model dir from -save_model: score the raw shard "
        "against the STORED target/raw bucket counts — the incremental "
        "ingest path; neither the target nor the full corpus is re-read",
    )
    ds.add_argument(
        "-save_model",
        default=None,
        help="persist the bucket-count tables + model.json here for -model reuse",
    )
    ds.add_argument("-fraction", type=float, default=0.25)
    ds.add_argument("-n_buckets", type=int, default=10_000)
    ds.add_argument("-seed", type=int, default=29)

    sp = sub.add_parser(
        "split",
        help="leakage-safe train/val/test assignment: near-dup clusters "
        "(LSH -> exact-Jaccard verify -> connected components) stay "
        "whole in one split; singletons hash their own id",
    )
    sp.add_argument("documents", help="parquet: documents table")
    sp.add_argument("output", help="parquet: (doc_id, group_id, split)")
    sp.add_argument(
        "-fractions",
        default="train=0.9,val=0.05,test=0.05",
        help="comma list name=frac, must sum to 1",
    )
    sp.add_argument("-seed", type=int, default=23)
    sp.add_argument("-near_jaccard_min", type=float, default=0.8)
    sp.add_argument("-lsh_max_bucket", type=int, default=1000)
    sp.add_argument(
        "-pairs",
        default=None,
        help="precomputed near-dup pair parquet (doc_a, doc_b); skips LSH+verify",
    )

    mx = sub.add_parser(
        "mix",
        help="realize a target token mixture across sources: per-source "
        "token accounting -> sampling rates (deterministic hash "
        "Bernoulli, >1x rates repeat documents with an n_copy index)",
    )
    mx.add_argument("documents", help="parquet: documents table")
    mx.add_argument("output", help="parquet: sampled docs + n_copy")
    mx.add_argument(
        "-shares",
        required=True,
        help="comma list source=share (fractions of -token_budget; "
        "unlisted sources drop)",
    )
    mx.add_argument("-token_budget", type=int, required=True)
    mx.add_argument("-token_col", default="n_chars")
    mx.add_argument("-source_col", default="source")
    mx.add_argument("-seed", type=int, default=41)
    mx.add_argument(
        "-plan_only",
        action="store_true",
        help="write the per-source plan table (share/available/target/"
        "rate) instead of sampling — audit before the expensive pass",
    )
    return p


def _read_blocklist(spark, path: str):
    """(domain) DataFrame from a blocklist file: parquet with a
    ``domain`` column, or plain text with one domain per line (the UT1
    distribution format) — blank lines and ``#`` comments skipped."""
    from pyspark.sql import functions as F

    if path.endswith(".parquet") or path.endswith("/"):
        return spark.read.parquet(path).select("domain")
    lines = spark.read.text(path)
    return (
        lines.select(F.trim("value").alias("domain"))
        .filter((F.length("domain") > 0) & ~F.col("domain").startswith("#"))
    )


def _run_curate(spark, args) -> None:
    """The composite curation pipeline: normalize → PII scrub →
    [corpus line dedup] → quality, materialized once → [repetition] +
    [LM perplexity] + [classifier] thresholds → exact-dedup canonical
    selection → [mixture resampling] → optional token-budget chunking →
    partitioned sink. Everything up to quality is a projection
    (normalization runs first so docs differing only in whitespace
    collide downstream); the dedup join is doc_id-equi on
    the canonical ids (broadcastable when the survivor set is small);
    the model stages join broadcast model tables (the LM trains on a
    deterministic hash sample of the scrubbed corpus itself)."""
    from pyspark.sql import functions as F

    from rnadam_spark.lineage import truncate_lineage
    from rnadam_spark.operators import dedup, repetition, text
    from rnadam_spark.sources.sink import write_partitioned

    raw_docs = docs = spark.read.parquet(args.documents)
    blocklist_df = None
    if args.blocklist is not None:
        from rnadam_spark.operators import web

        blocklist_df = _read_blocklist(spark, args.blocklist)
        # the first gate, on the RAW text (RefinedWeb order: provenance
        # filters before content filters) — broadcast semi-join over
        # exploded host suffixes, doc_id anti-join back. The -audit
        # funnel receives raw_docs + the blocklist so its first stage
        # counts these drops.
        docs = web.filter_blocklisted_domains(docs, blocklist_df, suffix=True)
    if args.nfkc:
        from rnadam_spark.operators import text as _tx

        # BEFORE the whitespace chain: NFKC can mint plain spaces from
        # no-break/ideographic spaces that the chain then canonicalizes
        docs = _tx.nfkc_normalize(docs).drop("n_changed")
    # the stateless prefix (normalize → C4 → Gopher → PII scrub →
    # quality) runs as CHAINED PROJECTIONS — no shuffle, no join;
    # narrow projections ride the scan in one stage. Each rewrite gets
    # its own projection so the next stage reads its text once:
    # fully fused, the Gopher/quality builders' interpreted
    # higher-order lambdas would re-evaluate the whole normalize+C4
    # rewrite per token-array reference. The staging survives
    # CollapseProject (the aliases are non-cheap and multiply
    # referenced — see text.gopher_prelude) but NOT filter pushdown: a
    # Filter over these projections is pushed below them with every
    # alias substituted back into its condition, rewrite chain and
    # all. So the quality threshold waits for the stage boundary after
    # `quality` below (the `-c4`/`-gopher` `_keep` filter still runs
    # before it, and is pushed down the same way). Stage semantics and
    # order are identical (each builder is the same expression its
    # standalone operator selects, pinned by the stream-vs-batch
    # agreement tests).
    passthrough = [c for c in docs.columns if c != "text"]
    staged = docs
    if not args.skip_normalize:
        staged = staged.withColumn("text", text.normalized_column("text"))
    keep = F.lit(True)
    if args.c4:
        # page-level drops (the only pre-dedup stage that removes
        # documents outright); surviving pages keep only qualifying lines
        c4 = text.c4_columns("text")
        staged = staged.withColumn("_keep_c4", c4["keep_doc"]).withColumn(
            "text", c4["text"]
        )
        keep = keep & F.col("_keep_c4")
    if args.gopher:
        pre = text.gopher_prelude("text")
        staged = staged.select("*", *[c.alias(name) for name, c in pre.items()])
        keep = keep & text.gopher_columns(
            "text", prelude={name: F.col(name) for name in pre}
        )["keep_doc"]
    cleaned, n_red = text.redaction_columns("text")
    scrubbed = staged.select(
        *passthrough,
        cleaned.alias("text"),
        n_red.alias("n_redactions"),
        keep.alias("_keep"),
    )
    if args.c4 or args.gopher:
        scrubbed = scrubbed.filter("_keep")
    scrubbed = scrubbed.drop("_keep")
    if args.dedup_lines:
        scrubbed = repetition.dedup_lines(scrubbed).select("doc_id", "text").join(
            scrubbed.drop("text"), "doc_id"
        )
    # quality scores the text the thresholds will see — i.e. AFTER the
    # corpus-global line dedup when that stage is on; still a pure
    # projection either way
    from rnadam_spark.functions.shingles import tokens as _tokens

    scrubbed = (
        scrubbed.withColumn("__qt", _tokens("text"))
        .withColumn("quality", text.quality_columns("text", toks=F.col("__qt"))["quality"])
        .drop("__qt")
    )
    # stage boundary: the scored corpus is materialized once, so every
    # text rewrite runs once per document. Left lazy, the quality Filter
    # is pushed below the staged projections (see above), and every
    # consumer re-derives the prefix per traversal: exact dedup's
    # exact_dup_groups(kept) and kept.join(canon), and the model
    # stages' LM sample, scoring and join-back (measured 179s → seconds
    # on their probe corpus). The first plan `curate -near_dedup`
    # materialized scanned the input twice and held 17 copies of the
    # 9-deep regexp_replace chain; now it scans once and holds none
    # (test_cli_curate_prefix_evaluated_once). perfbench
    # curate_near_dup, 4 cpus, 10 interleaved pairs: pipeline_s median
    # 30.3 s → 22.2 s.
    scrubbed = truncate_lineage(scrubbed)
    kept = scrubbed.filter(F.col("quality") >= args.quality_min)
    if args.max_dup_5gram is not None:
        # in-row stat: threshold as a fused projection filter, no join
        kept = repetition.with_dup_5gram_char_frac(kept).filter(
            F.col("dup_5gram_char_frac") <= args.max_dup_5gram
        )
    model = None  # the char-LM table, shared by the perplexity filter
    # and the excision stage below; cached because it MAY be collected
    # twice, and unpersisted after the last consumer (r12 ADVICE)
    if args.max_perplexity is not None:
        from rnadam_spark.operators import lm
        from rnadam_spark.operators.sampling import hash_sample

        model = lm.train_char_lm(hash_sample(scrubbed, "doc_id", args.lm_sample_frac))
        ppl = lm.lm_perplexity(scrubbed, model).select("doc_id", "perplexity")
        kept = kept.join(ppl, "doc_id").filter(F.col("perplexity") <= args.max_perplexity)
    if args.classifier_weights is not None:
        from rnadam_spark.operators import lm

        weights = spark.read.parquet(args.classifier_weights)
        prob = lm.classifier_score(
            scrubbed, weights, intercept=args.classifier_intercept
        ).select("doc_id", F.col("prob").alias("classifier_prob"))
        kept = kept.join(prob, "doc_id").filter(
            F.col("classifier_prob") >= args.classifier_min
        )
    if args.audit:
        import json

        from rnadam_spark.operators.funnel import curation_funnel

        funnel_input = raw_docs
        if args.nfkc:
            from rnadam_spark.operators import text as _tx

            # the real pipeline NFKC-normalizes right after the blocklist
            # gate, so the funnel must judge c4/gopher/quality/dup hashes
            # on the SAME text or its drop attribution drifts from the
            # actual run. NFKC only touches the text column — the
            # blocklist stage keys on source/url, so pre-normalizing the
            # funnel input leaves its first-stage counts identical.
            funnel_input = _tx.nfkc_normalize(raw_docs).drop("n_changed")
        funnel_rows = [
            {"stage": r.stage, "n_dropped": r.n_dropped, "n_remaining": r.n_remaining}
            for r in curation_funnel(
                funnel_input,
                blocklist=blocklist_df,
                quality_min=args.quality_min,
                use_c4=args.c4,
                use_gopher=args.gopher,
                max_dup_5gram=args.max_dup_5gram,
                skip_normalize=args.skip_normalize,
                # model stages reuse the run's own trained artifacts so
                # the audit covers the full `curate` surface
                lm_model=model if args.max_perplexity is not None else None,
                max_perplexity=args.max_perplexity,
                classifier_weights=(
                    weights if args.classifier_weights is not None else None
                ),
                classifier_min=args.classifier_min,
                classifier_intercept=args.classifier_intercept,
            ).collect()
        ]
        print(json.dumps({"funnel": funnel_rows}))
    if args.excise_ppl_tail is not None:
        from rnadam_spark.operators import lm
        from rnadam_spark.operators.sampling import hash_sample

        if args.max_perplexity is None:
            model = lm.train_char_lm(
                hash_sample(scrubbed, "doc_id", args.lm_sample_frac)
            )
        # two stage boundaries: the survivor set feeds scoring AND the
        # excision rebuild, and the slim paragraph-score table feeds the
        # quantile AND the condemned-set filter — materialize both so
        # neither subtree executes twice
        kept = truncate_lineage(kept)
        pp = truncate_lineage(
            lm.paragraph_perplexity(kept, model).select(
                "doc_id", "para_idx", "perplexity"
            )
        )
        thr = pp.agg(
            F.expr(
                f"percentile_approx(perplexity, {1.0 - args.excise_ppl_tail}, 10000)"
            ).alias("_t")
        )
        bad = (
            pp.crossJoin(F.broadcast(thr))
            .filter(F.col("perplexity") > F.col("_t"))
            .select("doc_id", "para_idx")
        )
        # emptied documents drop here — the span-excision stance: empty
        # docs carry nothing to train on
        kept = text.excise_paragraphs(kept, bad).filter(F.length("text") > 0)
    if model is not None:
        # both LM scorers collect the model EAGERLY at construction,
        # so every consumer is done by here — release the cached table
        # instead of orphaning it in the session (r12 ADVICE)
        model.unpersist()
    if args.bad_phrases is not None or args.decontaminate is not None:
        # stage boundary: the phrase filter scans the corpus once per
        # distinct phrase length and decontamination traverses it for
        # the gram join plus the threshold join-back — materialize so
        # each pass reads rows, not the whole upstream plan
        kept = truncate_lineage(kept)
    if args.bad_phrases is not None:
        phrases = spark.read.parquet(args.bad_phrases)
        kept = text.filter_bad_phrases(kept, phrases)
    if args.decontaminate is not None:
        bench = spark.read.parquet(args.decontaminate)
        if args.decontaminate_excise:
            from rnadam_spark.operators.spans import remove_contaminated_spans

            # surgical mode: delete exactly the leaked 13-gram spans,
            # keep the documents (minus any the excision emptied)
            # keep only documents with tokens REMAINING after the cut.
            # Deliberately strict (ADVICE r6): a zero-token document —
            # whether the excision emptied it or an upstream stage
            # (e.g. line dedup) already had — is dropped here; empty
            # docs carry nothing to train on, and this is the last
            # token-aware stage before chunking/sharding.
            kept = (
                remove_contaminated_spans(kept, bench)
                .filter(F.col("n_tokens_before") > F.col("n_tokens_removed"))
                .select("doc_id", "text")
                .join(kept.drop("text"), "doc_id")
            )
        else:
            cont = text.contamination_scores(kept, bench).select(
                "doc_id", "contamination"
            )
            kept = kept.join(cont, "doc_id").filter(
                F.col("contamination") <= args.max_contamination
            )
    canon = dedup.exact_dup_groups(kept).select(
        F.col("canonical_id").alias("doc_id"), "n_dups"
    )
    curated = kept.join(canon, "doc_id")
    if (
        args.near_dedup
        or args.span_dedup
        or args.mixture_alpha is not None
        or args.cap_per_domain is not None
        or args.para_near_dedup is not None
    ):
        # stage boundary: every chained filter stage re-attaches the
        # passthrough columns with a doc_id self-join, so the lazy plan
        # tree roughly DOUBLES per enabled stage — and the near-dup
        # machinery (LSH → verify → connected-components loop) and the
        # span-dedup window groupBy each traverse the curated corpus
        # several times. Materializing here bounds both: downstream
        # passes read the materialized rows instead of re-executing the
        # whole upstream chain per traversal (without this, all-stages
        # runs hang; at cluster scale this is the same
        # checkpoint-between-phases discipline as the EM loop).
        curated = truncate_lineage(curated)
    if args.near_dedup:
        from rnadam_spark.operators.clustering import connected_components

        # full near-dup pipeline over the exact-dedup survivors:
        # candidates (banded LSH, hot buckets capped) -> exact-Jaccard
        # verify -> graph closure -> keep only component canonicals
        cand = dedup.lsh_candidate_pairs(curated, max_bucket=args.lsh_max_bucket)
        verified = dedup.verify_pairs(cand, curated, threshold=args.near_jaccard_min)
        comp = connected_components(verified)
        losers = comp.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias("doc_id")
        )
        curated = curated.join(losers, "doc_id", "left_anti")
    if args.span_dedup:
        from rnadam_spark.operators.spans import remove_duplicated_spans

        # after doc-level dedup (whole-document copies already collapsed
        # to canonicals), delete the remaining verbatim passages shared
        # ACROSS distinct documents — then drop docs the cut emptied
        # keep only documents with tokens remaining — deliberately also
        # drops documents that arrived empty (see the excise filter's
        # comment; ADVICE r6 documented-drop semantics)
        curated = (
            remove_duplicated_spans(curated, min_tokens=args.span_dedup)
            .filter(F.col("n_tokens_before") > F.col("n_tokens_removed"))
            .select("doc_id", "text")
            .join(curated.drop("text"), "doc_id")
        )
    if args.para_near_dedup is not None:
        from rnadam_spark.operators.dedup import paragraph_near_dups

        # fuzzy paragraph dedup after the document-level passes: the
        # LSH/verify/CC stack traverses its input repeatedly, and the
        # excision rebuild consumes it again — materialize first
        curated = truncate_lineage(curated)
        bad = paragraph_near_dups(curated, threshold=args.para_near_dedup)
        curated = (
            text.excise_paragraphs(curated, bad)
            .filter(F.length("text") > 0)
        )
    if args.cap_per_domain is not None:
        from rnadam_spark.operators.sampling import cap_per_group

        # quota AFTER dedup (a domain shouldn't fill its quota with
        # copies) and BEFORE mixture (the mixture should weigh the
        # capped corpus). cap_per_group traverses its input for counts,
        # the threshold join, and the rescue check — materialize first
        # so those passes read rows, not the upstream chain.
        curated = cap_per_group(
            truncate_lineage(curated), args.cap_group, args.cap_per_domain, "doc_id"
        )
    if args.mixture_alpha is not None:
        from rnadam_spark.operators import lm

        curated = lm.sample_to_mixture(curated, args.mixture_group, args.mixture_alpha)
    if args.chunk_chars and args.pack_budget:
        raise SystemExit("-chunk_chars and -pack_budget are mutually exclusive")
    if args.chunk_chars:
        chunks = text.chunk_documents(
            curated, max_chars=args.chunk_chars, overlap=args.chunk_overlap
        )
        curated = chunks.join(curated.drop("text", "n_chars"), "doc_id").withColumnRenamed(
            "chunk_text", "text"
        )
    elif args.pack_budget:
        from rnadam_spark.operators import lm

        placed = lm.pack_sequences(curated, budget=args.pack_budget)
        curated = curated.join(placed.drop("n_tokens"), "doc_id")
    if args.shards:
        from rnadam_spark.sources.sink import write_training_shards

        # sharding hashes doc_id, so all chunks of a document land in
        # the SAME shard — deliberate: shard-granular train/val splits
        # then never leak a document's chunks across the split
        write_training_shards(
            curated,
            args.output,
            n_shards=args.shards,
            seed=args.shard_seed,
            codec=args.codec,
        )
    else:
        write_partitioned(
            curated, args.output, partition_by=[args.partition_by], codec=args.codec
        )


def _run_profile(spark, args) -> None:
    """Corpus audit in two jobs: a global aggregate (doc/char/token
    totals, token-count quantile sketch, approximate distinct content
    hashes → exact-dup rate) and a per-group mix table. Every stat is a
    partial-aggregable reduction — no window, no sort, no collect
    beyond the two small result rows; HLL distinct keeps the dup-rate
    pass O(1) memory where exact count-distinct would shuffle every
    hash (the rate is approximate and labeled so)."""
    import json

    from pyspark.sql import functions as F

    from rnadam_spark.functions.shingles import tokens

    docs = spark.read.parquet(args.documents)
    base = docs.select(
        F.length("text").alias("n_chars"),
        F.size(tokens("text")).alias("n_tokens"),
        F.md5(F.col("text")).alias("_h"),
    )
    g = base.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("n_tokens").alias("total_tokens"),
        F.percentile_approx("n_tokens", [0.5, 0.9, 0.99], 10_000).alias("tok_q"),
        F.approx_count_distinct("_h").alias("n_distinct"),
    ).collect()[0]
    report = {
        "n_docs": g["n_docs"],
        "total_chars": g["total_chars"],
        "total_tokens": g["total_tokens"],
        "tokens_per_doc_p50_p90_p99": list(g["tok_q"] or []),
        "approx_exact_dup_rate": round(
            max(0.0, 1.0 - g["n_distinct"] / max(g["n_docs"], 1)), 6
        ),
    }
    if args.funnel:
        from rnadam_spark.operators.funnel import curation_funnel

        report["funnel"] = [
            {"stage": r.stage, "n_dropped": r.n_dropped, "n_remaining": r.n_remaining}
            for r in curation_funnel(
                docs,
                quality_min=args.quality_min,
                max_dup_5gram=args.max_dup_5gram,
            ).collect()
        ]
    if args.skew_by is not None and args.skew_by in docs.columns:
        from rnadam_spark.instrument import skew_report

        report["skew"] = skew_report(docs, [args.skew_by])
    if args.group_by in docs.columns:
        mix = (
            docs.groupBy(args.group_by)
            .agg(
                F.count("*").alias("n_docs"),
                F.sum(F.size(tokens("text"))).alias("n_tokens"),
            )
            .orderBy(F.col("n_tokens").desc())
            .collect()
        )
        report["mix"] = [
            {args.group_by: r[args.group_by], "n_docs": r["n_docs"], "n_tokens": r["n_tokens"]}
            for r in mix
        ]
    print(json.dumps(report))


def main(argv: list[str] | None = None) -> None:
    args = _build_parser().parse_args(argv)
    spark = get_spark(f"rnadam-{args.command}")

    if args.command == "curate":
        _run_curate(spark, args)
    elif args.command == "curate-stream":
        from rnadam_spark.sources.text_io import DOCUMENTS_DDL
        from rnadam_spark.streaming.curate import read_jsonl_stream, run_curate_stream

        if args.format == "jsonl":
            src = read_jsonl_stream(spark, args.documents)
        elif args.format == "warc":
            from pyspark.sql import functions as F

            from rnadam_spark.operators.html import extract_main_text
            from rnadam_spark.sources import warc as warc_mod

            # crawl shards -> html responses -> main text, all stateless,
            # so the fused curate chain appends without any stream state
            pages = warc_mod.html_responses(
                warc_mod.read_warc_stream(spark, args.documents)
            )
            src = extract_main_text(
                pages, out_col="text", carry=("url", "fetched_at")
            ).filter(F.length("text") > 0)
        else:
            schema = spark.createDataFrame([], DOCUMENTS_DDL).schema
            src = spark.readStream.schema(schema).parquet(args.documents)
        run_curate_stream(
            src,
            args.output,
            args.checkpoint,
            quality_min=args.quality_min,
            use_c4=not args.no_c4,
            blocklist=(
                _read_blocklist(spark, args.blocklist)
                if args.blocklist is not None
                else None
            ),
            exact_dedup=args.exact_dedup,
            dedup_within=args.dedup_within,
        )
    elif args.command == "ann-index":
        import json

        from rnadam_spark.operators import similarity as sim
        from rnadam_spark.sources.sink import _qualified_path

        emb = spark.read.parquet(args.embeddings)
        cents = sim.kmeans_centroids(
            emb, k=args.n_centroids, max_iterations=args.iterations, dim=args.dim
        )
        books = sim.train_pq(
            emb, m=args.m, nbits=args.nbits, max_iterations=args.iterations, dim=args.dim
        )
        codes = sim.pq_encode(emb, books, dim=args.dim).join(
            sim.ivf_cells(emb, centroids=cents, dim=args.dim), "vec_id"
        )
        # partitioned BY cell: an n_probe query reads n_probe/n_centroids
        # of the files — the partition-pruning layout the query side assumes
        codes.write.mode("overwrite").partitionBy("cell").parquet(args.output + "/codes")
        model = {"dim": args.dim, "centroids": cents, "codebooks": books}
        fs, jpath = _qualified_path(spark, args.output)
        out = fs.create(
            spark._jvm.org.apache.hadoop.fs.Path(jpath, "model.json"), True
        )
        try:
            out.write(bytearray(json.dumps(model).encode("utf-8")))
        finally:
            out.close()
    elif args.command == "ann-query":
        import json

        from pyspark.sql import functions as F

        from rnadam_spark.operators import similarity as sim
        from rnadam_spark.sources.sink import _qualified_path

        fs, jpath = _qualified_path(spark, args.index)
        stream = fs.open(spark._jvm.org.apache.hadoop.fs.Path(jpath, "model.json"))
        try:
            model = json.loads(
                bytes(
                    spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
                ).decode("utf-8")
            )
        finally:
            stream.close()
        emb = spark.read.parquet(args.embeddings)
        qrow = emb.filter(F.col("vec_id") == args.query_id).collect()
        if not qrow:
            raise SystemExit(f"query vec_id {args.query_id} not in {args.embeddings}")
        q = [float(v) for v in qrow[0]["embedding"]]
        codes = spark.read.parquet(args.index + "/codes").filter(
            F.col("vec_id") != args.query_id
        )
        depth = args.k * 4 if args.rerank else args.k
        cands = sim.ivfpq_topk_on_codes(
            codes,
            q,
            model["centroids"],
            model["codebooks"],
            k=depth,
            n_probe=args.n_probe,
            dim=model["dim"],
        )
        if args.rerank:
            result = sim.exact_rerank(cands, emb, q, k=args.k)
            rows = [{"vec_id": r.vec_id, "cos": r.cos} for r in result.collect()]
        else:
            rows = [{"vec_id": r.vec_id, "score": r.score} for r in cands.collect()]
        print(json.dumps({"query_id": args.query_id, "results": rows}))
    elif args.command == "bam-region":
        from rnadam_spark.sources import bio_formats

        bio_formats.read_bam_region(spark, args.bam, args.region).write.mode(
            "overwrite"
        ).parquet(args.output)
    elif args.command == "dedup-index":
        from rnadam_spark.operators import dedup

        docs = spark.read.parquet(args.documents)
        dedup.minhash_signatures(docs).write.mode("overwrite").parquet(args.output)
    elif args.command == "ingest":
        from rnadam_spark.operators import dedup

        new_docs = spark.read.parquet(args.new_documents)
        store = spark.read.parquet(args.signature_store)
        pairs = dedup.incremental_near_dups(
            new_docs,
            store,
            est_threshold=args.est_threshold,
            max_bucket=args.max_bucket,
        )
        pairs.write.mode("overwrite").parquet(args.output)
        if args.update_store:
            # append-only store growth: the shard is signed once, ever
            dedup.minhash_signatures(new_docs).write.mode("append").parquet(
                args.signature_store
            )
    elif args.command == "search":
        import json

        from rnadam_spark.operators.search import bm25_topk

        docs = spark.read.parquet(args.documents)
        rows = [
            {"doc_id": r.doc_id, "score": r.score}
            for r in bm25_topk(docs, args.query, k=args.k).collect()
        ]
        print(json.dumps({"query": args.query, "results": rows}))
    elif args.command == "diff":
        import json

        from pyspark.sql import functions as F

        from rnadam_spark.operators.diffing import corpus_diff, diff_summary

        from rnadam_spark.lineage import truncate_lineage

        old = spark.read.parquet(args.old)
        new = spark.read.parquet(args.new)
        # materialized once: both the changed_out write and the summary
        # read the small (id, status) table instead of re-running the
        # snapshot join per consumer
        diff = truncate_lineage(corpus_diff(old, new))
        if args.changed_out:
            slice_df = new.join(
                diff.filter(F.col("status").isin("added", "changed")).select("doc_id"),
                "doc_id",
            )
            slice_df.write.mode("overwrite").parquet(args.changed_out)
        print(json.dumps(diff_summary(diff)))
    elif args.command == "profile":
        _run_profile(spark, args)
    elif args.command == "warc-extract":
        from pyspark.sql import functions as F

        from rnadam_spark.operators.html import extract_main_text
        from rnadam_spark.sources import warc as warc_mod

        pages = warc_mod.html_responses(warc_mod.read_warc(spark, args.warc))
        # carry= keeps url/fetched_at in the same projection — one scan
        # of the WARC shards, no self-join back onto the parse subtree
        out = extract_main_text(
            pages,
            min_words=args.min_words,
            max_link_density=args.max_link_density,
            min_stopword_frac=args.min_stopword_frac,
            out_col="text",
            carry=("url", "fetched_at"),
        )
        if args.drop_empty:
            out = out.filter(F.length("text") > 0)
        out.write.mode("overwrite").parquet(args.output)
    elif args.command == "extract-html":
        from pyspark.sql import functions as F

        from rnadam_spark.operators.html import extract_main_text

        pages = spark.read.parquet(args.pages)
        out = extract_main_text(
            pages,
            min_words=args.min_words,
            max_link_density=args.max_link_density,
            min_stopword_frac=args.min_stopword_frac,
            html_col=args.html_col,
            out_col="text",
        )
        if args.drop_empty:
            out = out.filter(F.length("text") > 0)
        out.write.mode("overwrite").parquet(args.output)
    elif args.command == "dsir":
        import json

        from rnadam_spark.operators import dsir as dsir_mod

        if (args.target is None) == (args.model is None):
            raise SystemExit("dsir: pass exactly one of -target / -model")
        raw = spark.read.parquet(args.raw)
        from rnadam_spark.sources.sink import _qualified_path

        if args.model:
            fs, jpath = _qualified_path(spark, args.model)
            stream = fs.open(spark._jvm.org.apache.hadoop.fs.Path(jpath, "model.json"))
            try:
                meta = json.loads(
                    bytes(
                        spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
                    ).decode("utf-8")
                )
            finally:
                stream.close()
            n_buckets = meta["n_buckets"]
            tc = spark.read.parquet(args.model + "/target_counts")
            rc = spark.read.parquet(args.model + "/raw_counts")
        else:
            from rnadam_spark.lineage import truncate_lineage

            n_buckets = args.n_buckets
            target = spark.read.parquet(args.target)
            # stored once: the weights and the -save_model writes both
            # read them, and each lazy histogram is a full corpus pass
            tc = truncate_lineage(dsir_mod.bucket_counts(target, n_buckets))
            rc = truncate_lineage(dsir_mod.bucket_counts(raw, n_buckets))
        weights = dsir_mod.dsir_log_weights(raw, tc, rc, n_buckets)
        selected = dsir_mod.dsir_select(weights, args.fraction, seed=args.seed)
        # join back to carry the text; weight columns stay for audits
        raw.join(selected, "doc_id").write.mode("overwrite").parquet(args.output)
        if args.save_model:
            tc.write.mode("overwrite").parquet(args.save_model + "/target_counts")
            rc.write.mode("overwrite").parquet(args.save_model + "/raw_counts")
            fs, jpath = _qualified_path(spark, args.save_model)
            out = fs.create(
                spark._jvm.org.apache.hadoop.fs.Path(jpath, "model.json"), True
            )
            try:
                out.write(
                    bytearray(
                        json.dumps({"n_buckets": n_buckets, "ns": [1, 2]}).encode("utf-8")
                    )
                )
            finally:
                out.close()
    elif args.command == "split":
        from rnadam_spark.operators import dedup
        from rnadam_spark.operators.splits import leakage_safe_split

        docs = spark.read.parquet(args.documents)
        if args.pairs:
            pairs = spark.read.parquet(args.pairs)
        else:
            cands = dedup.lsh_candidate_pairs(docs, max_bucket=args.lsh_max_bucket)
            pairs = dedup.verify_pairs(cands, docs, threshold=args.near_jaccard_min)
        fractions = {}
        for part in args.fractions.split(","):
            name, _, frac = part.partition("=")
            fractions[name.strip()] = float(frac)
        # Hive layout on split: each of train/val/test is its own
        # directory, so a training job's scan partition-prunes to its
        # slice without reading the others
        leakage_safe_split(docs, pairs, fractions, seed=args.seed).write.mode(
            "overwrite"
        ).partitionBy("split").parquet(args.output)
    elif args.command == "mix":
        from rnadam_spark.operators import mixing

        docs = spark.read.parquet(args.documents)
        shares = {}
        for part in args.shares.split(","):
            name, _, share = part.partition("=")
            shares[name.strip()] = float(share)
        if args.plan_only:
            mixing.source_token_budgets(
                docs, shares, args.token_budget, args.token_col, args.source_col
            ).write.mode("overwrite").parquet(args.output)
        else:
            mixing.mixture_sample(
                docs,
                shares,
                args.token_budget,
                token_col=args.token_col,
                source_col=args.source_col,
                seed=args.seed,
            ).write.mode("overwrite").parquet(args.output)
    elif args.command == "index":
        from rnadam_spark.algorithms.index import build_index
        from rnadam_spark.sources import bio_formats as bio

        # native formats (FASTA genome, GTF genes) are first-class
        # inputs, dispatched by extension; parquet stays the default
        genome = bio.load_genome_any(spark, args.genome)
        transcripts = bio.load_transcripts_any(spark, args.genes)
        kmer_to_class, class_kmers, class_transcripts = build_index(
            transcripts, genome, args.kmer_length
        )
        gio.save_index(kmer_to_class, class_kmers, args.output)
        class_transcripts.write.mode("overwrite").parquet(args.output + "_members")
    else:
        from rnadam_spark.algorithms.quantify import quantify
        from rnadam_spark.sources import bio_formats as bio

        reads = bio.load_reads_any(spark, args.reads)
        kmer_to_class, _ = gio.load_index(spark, args.index)
        class_transcripts = spark.read.parquet(args.index + "_members")
        transcripts = bio.load_transcripts_any(spark, args.genes)
        result = quantify(
            reads,
            kmer_to_class,
            class_transcripts,
            transcripts,
            k=args.kmer_length,
            max_iterations=args.max_iterations,
            calibrate_kmer_bias=not args.disable_kmer_calibration,
            calibrate_length_bias=not args.disable_length_calibration,
            checkpoint_dir=args.checkpoint_dir,
        )
        gio.save_abundances_text(result, args.output)


if __name__ == "__main__":
    main(sys.argv[1:])
