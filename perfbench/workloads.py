"""The benchmark's workloads. Each one generates its inputs from the
seed, runs its operation by calling the program's public entry points,
checks the output against the generator's truth, and, traced, runs the
operation with spans around every layer boundary.

- ``sailfish_cli``: ``cli index`` then ``cli quantify`` with CLI
  defaults (k=20, both calibrations, 50 EM iterations).
- ``curate_near_dup``: ``cli curate DOCS OUT -near_dedup``.
- ``em_shared_classes``: ``algorithms.quantify.quantify()`` on the
  generator's true shared-block class map, calibrations off.
"""

from __future__ import annotations

import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq

import gen
import score
from spans import SpanTimers, Tracer

K = 20
EM_ITERATIONS = 50  # the CLI default


def du(*paths: str) -> int:
    total = 0
    for p in paths:
        for d, _, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _force(df):
    """Materialise a stage boundary the way ``instrument.timed`` does."""
    return df.localCheckpoint(eager=True)


class Workload:
    """Subclasses set ``calls`` (the timed public calls, in order) and
    ``items`` (what the throughput counts) and implement the hooks."""

    calls: tuple[str, ...] = ()
    items = ""

    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.inputs = os.path.join(work, "inputs")
        self.out = os.path.join(work, "out")

    def generate(self) -> None:
        raise NotImplementedError

    def n_items(self) -> int:
        raise NotImplementedError

    def run(self) -> dict[str, float]:
        """Run the operation untraced; returns seconds per public call."""
        raise NotImplementedError

    def check(self) -> tuple[list[str], dict[str, float]]:
        """(problems, accuracy metrics) for the last run's output."""
        raise NotImplementedError

    def run_traced(self, tracer: Tracer) -> dict[str, float]:
        """Run the operation with spans; returns the layer counts."""
        raise NotImplementedError


class _Genomics(Workload):
    items = "reads"
    n_transcripts = 12
    reads_per_transcript = 150

    def generate(self) -> None:
        n = self.n_transcripts
        self.tx = gen.transcriptome(self.seed, n, n // 2, n * self.reads_per_transcript)
        self.paths = gen.write_transcriptome(self.tx, self.inputs)

    def n_items(self) -> int:
        return len(self.tx.reads)

    def _kmer_layer(self, kmer_to_class, class_transcripts) -> dict[str, float]:
        from pyspark.sql import functions as F

        from rnadam_spark.algorithms.quantify import count_read_kmers
        from rnadam_spark.sources import genomics as gio

        kc = count_read_kmers(gio.load_reads(self.spark, self.paths["reads"]), K)
        index_kmers = kmer_to_class.select("kmer").distinct()
        total = kc.agg(F.sum("cnt")).first()[0]
        hit = kc.join(index_kmers, "kmer").agg(F.sum("cnt")).first()[0] or 0
        sizes = class_transcripts.groupBy("class_id").count()
        n_classes = sizes.count()
        return {
            "quantify.kmer_hit_frac": hit / total,
            "quantify.edges": class_transcripts.count(),
            "quantify.multi_member_class_frac": sizes.filter("count > 1").count() / n_classes,
        }


class SailfishCli(_Genomics):
    calls = ("index", "quantify")

    def _idx(self) -> str:
        return os.path.join(self.out, "idx")

    def _abund(self) -> str:
        return os.path.join(self.out, "abundances")

    def run(self) -> dict[str, float]:
        from rnadam_spark import cli

        p = self.paths
        t0 = time.perf_counter()
        cli.main(["index", p["genome"], p["genes"], str(K), self._idx()])
        t1 = time.perf_counter()
        cli.main(["quantify", p["reads"], self._idx(), p["genes"], str(K), self._abund()])
        t2 = time.perf_counter()
        return {"index": t1 - t0, "quantify": t2 - t1}

    def check(self):
        rows = score.read_abundance_text(self._abund())
        problems, values = score.check_abundances(rows, self.tx.names)
        return problems, score.abundance_accuracy(values, self.tx.names, self.tx.abundance)

    def run_traced(self, tracer: Tracer) -> dict[str, float]:
        from rnadam_spark.algorithms.index import build_index
        from rnadam_spark.algorithms.quantify import quantify
        from rnadam_spark.sources import bio_formats as bio
        from rnadam_spark.sources import genomics as gio

        spark, p, idx = self.spark, self.paths, self._idx()
        timers = SpanTimers(tracer)
        with tracer.span("index"):
            genome = bio.load_genome_any(spark, p["genome"])
            transcripts = bio.load_transcripts_any(spark, p["genes"])
            k2c, class_kmers, members = build_index(transcripts, genome, K, timers=timers)
            with tracer.span("sources.write_index"):
                gio.save_index(k2c, class_kmers, idx)
                members.write.mode("overwrite").parquet(idx + "_members")
        with tracer.span("quantify"):
            k2c, _ = gio.load_index(spark, idx)
            result = quantify(
                bio.load_reads_any(spark, p["reads"]),
                k2c,
                spark.read.parquet(idx + "_members"),
                bio.load_transcripts_any(spark, p["genes"]),
                k=K,
                max_iterations=EM_ITERATIONS,
                timers=timers,
            )
            with tracer.span("sources.write_abundances"):
                gio.save_abundances_text(result, self._abund())
        k2c, _ = gio.load_index(spark, idx)
        return {
            "index.kmers": k2c.select("kmer").distinct().count(),
            "index.classes": k2c.select("class_id").distinct().count(),
            "sources.index_bytes": du(*(idx + s for s in ("_kmers", "_classes", "_contents", "_members"))),
            **self._kmer_layer(k2c, spark.read.parquet(idx + "_members")),
        }


def _write_class_map(tx: gen.Transcriptome, out_dir: str) -> dict[str, str]:
    """The generator's true block class map as the index tables
    ``quantify`` reads: (kmer, class_id) and (class_id, t_id)."""
    paths = {
        "kmer_to_class": os.path.join(out_dir, "kmer_to_class.parquet"),
        "class_transcripts": os.path.join(out_dir, "class_transcripts.parquet"),
    }
    edges = [(c, t) for c, ts in tx.class_members.items() for t in ts]
    pq.write_table(
        pa.table({"kmer": list(tx.kmer_class), "class_id": list(tx.kmer_class.values())}),
        paths["kmer_to_class"],
    )
    pq.write_table(
        pa.table({"class_id": [c for c, _ in edges], "t_id": [t for _, t in edges]}),
        paths["class_transcripts"],
    )
    return paths


class EmSharedClasses(_Genomics):
    calls = ("quantify",)
    n_transcripts = 120
    reads_per_transcript = 100

    def generate(self) -> None:
        super().generate()
        self.paths.update(_write_class_map(self.tx, self.inputs))

    def _quantify(self, p: dict[str, str], timers=None):
        from rnadam_spark.algorithms.quantify import quantify
        from rnadam_spark.sources import genomics as gio

        spark = self.spark
        result = quantify(
            gio.load_reads(spark, p["reads"]),
            spark.read.parquet(p["kmer_to_class"]),
            spark.read.parquet(p["class_transcripts"]),
            gio.load_transcripts(spark, p["genes"]),
            k=K,
            max_iterations=EM_ITERATIONS,
            calibrate_kmer_bias=False,
            calibrate_length_bias=False,
            timers=timers,
        )
        rows = result.select("t_id", "abundance").collect()
        self.rows: dict[str, list[str]] = {}
        for r in rows:
            self.rows.setdefault(r.t_id, []).append(repr(r.abundance))

    def run(self) -> dict[str, float]:
        t0 = time.perf_counter()
        self._quantify(self.paths)
        return {"quantify": time.perf_counter() - t0}

    def check(self):
        problems, values = score.check_abundances(self.rows, self.tx.names)
        return problems, score.abundance_accuracy(values, self.tx.names, self.tx.abundance)

    def run_traced(self, tracer: Tracer) -> dict[str, float]:
        with tracer.span("quantify"):
            self._quantify(self.paths, SpanTimers(tracer))
        p = self.paths
        return self._kmer_layer(
            self.spark.read.parquet(p["kmer_to_class"]), self.spark.read.parquet(p["class_transcripts"])
        )


class CurateNearDup(Workload):
    calls = ("curate",)
    items = "docs"
    n_families = 1000
    quality_min = 0.9  # the CLI default
    near_jaccard_min = 0.8  # the CLI default
    lsh_max_bucket = 1000  # the CLI default

    def generate(self) -> None:
        self.corpus = gen.corpus(self.seed, self.n_families)
        self.docs = gen.write_corpus(self.corpus, self.inputs)

    def n_items(self) -> int:
        return self.corpus.table.num_rows

    def run(self) -> dict[str, float]:
        from rnadam_spark import cli

        t0 = time.perf_counter()
        cli.main(["curate", self.docs, self.out, "-near_dedup"])
        return {"curate": time.perf_counter() - t0}

    def check(self):
        return score.check_curated(score.read_doc_ids(self.out), self.corpus)

    def run_traced(self, tracer: Tracer) -> dict[str, float]:
        """The ``curate -near_dedup`` chain rebuilt from the same public
        functions the CLI composes, forced at each stage boundary."""
        from pyspark.sql import functions as F

        from rnadam_spark.functions.shingles import tokens
        from rnadam_spark.operators import dedup, text
        from rnadam_spark.operators.clustering import connected_components
        from rnadam_spark.sources.sink import write_partitioned

        shutil.rmtree(self.out, ignore_errors=True)
        with tracer.span("curate"):
            docs = self.spark.read.parquet(self.docs)
            with tracer.span("text.prefix"):
                passthrough = [c for c in docs.columns if c != "text"]
                staged = docs.withColumn("text", text.normalized_column("text"))
                cleaned, n_red = text.redaction_columns("text")
                scrubbed = staged.select(
                    *passthrough, cleaned.alias("text"), n_red.alias("n_redactions")
                )
                scrubbed = (
                    scrubbed.withColumn("__qt", tokens("text"))
                    .withColumn("quality", text.quality_columns("text", toks=F.col("__qt"))["quality"])
                    .drop("__qt")
                )
                kept = _force(scrubbed.filter(F.col("quality") >= self.quality_min))
            with tracer.span("dedup.exact"):
                canon = dedup.exact_dup_groups(kept).select(
                    F.col("canonical_id").alias("doc_id"), "n_dups"
                )
                curated = _force(kept.join(canon, "doc_id"))
            with tracer.span("dedup.lsh"):
                cand = _force(dedup.lsh_candidate_pairs(curated, max_bucket=self.lsh_max_bucket))
            with tracer.span("dedup.verify"):
                verified = _force(
                    dedup.verify_pairs(cand, curated, threshold=self.near_jaccard_min)
                )
            with tracer.span("clustering.cc"):
                comp = _force(connected_components(verified))
            losers = comp.filter(F.col("node") != F.col("component")).select(
                F.col("node").alias("doc_id")
            )
            with tracer.span("sources.sink_write"):
                write_partitioned(curated.join(losers, "doc_id", "left_anti"), self.out, ["lang"])
        # counted after the traced span, over the checkpointed stage outputs
        n_kept, n_cand, n_verified = kept.count(), cand.count(), verified.count()
        return {
            "text.quality_drop_frac": 1 - n_kept / self.n_items(),
            "dedup.exact_dups": n_kept - curated.count(),
            "dedup.candidate_pairs": n_cand,
            "dedup.verified_pairs": n_verified,
            "dedup.verify_pass_ratio": n_verified / n_cand if n_cand else 0.0,
            "clustering.components": comp.select("component").distinct().count(),
            "sources.sink_bytes": du(self.out),
        }


WORKLOADS = {
    "sailfish_cli": SailfishCli,
    "em_shared_classes": EmSharedClasses,
    "curate_near_dup": CurateNearDup,
}
