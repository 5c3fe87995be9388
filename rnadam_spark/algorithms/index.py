"""K-mer equivalence-class index builder.

Re-expresses the reference's ``Index.findEquivalenceClasses``
(rice-core/.../algorithms/Index.scala:52-113) as a declarative
DataFrame plan:

  transcripts ⋈ genome → substring (P1) → char shingles (P2)
  → count per (t_id, kmer) (A2) → group by (t_id, count) signature (A3)
  → content-hash class IDs (A4, determinism fix) → invert (A5)

Semantics preserved from the reference (pinned by its own test,
QuantifySuite.scala:432-482):

- the transcript sequence is the genome substring over the transcript's
  *hull* region — ``refFile.extract(t.region)`` (Index.scala:85), i.e.
  [min exon start, max exon end) on the transcript's contig;
- an equivalence class is the set of k-mers that occur with the same
  multiplicity within the same transcript ("k-mers that show up with
  equal abundance", Index.scala:60-64) — classes are NOT merged across
  transcripts, so a k-mer shared by two transcripts maps to two classes
  and k-mer→class is multi-valued, exactly as in the reference;
- one departure, on purpose: class IDs come from ``md5`` of the
  (t_id, count) signature — the reference's ``zipWithUniqueId``
  (Index.scala:98) is partition-order dependent and therefore
  nondeterministic across cluster layouts; a 128-bit content hash gives
  stable IDs at any scale (SURVEY.md §7 risk register; 64-bit hashes
  were rejected: at billions of groups the birthday bound makes silent
  class merges plausible).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rnadam_spark.functions.shingles import char_shingles


def transcript_sequences(transcripts: DataFrame, genome: DataFrame) -> DataFrame:
    """(t_id, sequence): extract each transcript's hull substring.

    The genome table is a small dimension (one row per contig) —
    broadcast it so extraction is a map-side operation; at 100 TB the
    reads/transcripts side stays partitioned and never shuffles here.
    ``substring`` is 1-based; regions are 0-based half-open [start, end)
    (QuantifySuite.scala:33-36).
    """
    hulls = transcripts.select(
        "t_id",
        F.col("exons")[0]["contig"].alias("contig"),
        F.array_min(F.col("exons.start")).alias("start"),
        F.array_max(F.col("exons.end")).alias("end"),
    )
    return hulls.join(F.broadcast(genome), "contig").select(
        "t_id",
        F.col("sequence")
        .substr((F.col("start") + 1).cast("int"), (F.col("end") - F.col("start")).cast("int"))
        .alias("sequence"),
    )


def transcript_kmer_counts(sequences: DataFrame, k: int) -> DataFrame:
    """A2: (t_id, kmer, cnt) — multiplicity of each k-mer per transcript."""
    return (
        sequences.select("t_id", F.explode(char_shingles("sequence", k)).alias("kmer"))
        .groupBy("t_id", "kmer")
        .agg(F.count("*").alias("cnt"))
    )


def build_index(
    transcripts: DataFrame, genome: DataFrame, k: int, timers=None
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Returns (kmer_to_class, class_kmers, class_transcripts).

    kmer_to_class:     (kmer, class_id)  [possibly several classes per kmer]
    class_kmers:       (class_id, kmer)  [flat; nest with collect_list at the edge]
    class_transcripts: (class_id, t_id)  [membership table for quantification]

    Plan shape: one shuffle for the (t_id, kmer) count, then the class
    signature is a *window-free* derivation — because a class is keyed
    by (t_id, cnt), the class ID is computable per-row as a hash of
    that signature, no second groupBy needed to number classes. (The
    reference needed reduceByKey → map → groupByKey → zipWithUniqueId:
    two extra shuffles plus zipWithUniqueId's partition-count job,
    Index.scala:94-98.) The hash is 128-bit md5, matching
    functions/runlength.count_classes — see the module docstring.

    Eager: the (t_id, kmer, class_id) table all three outputs project is
    materialized here, once (``timers`` checkpoints every stage anyway;
    without timers ``truncate_lineage`` stores it), so writing the
    outputs does not re-run the extraction, the shingle explode and the
    (t_id, kmer) shuffle once per output.
    """
    from rnadam_spark import instrument as ins
    from rnadam_spark.lineage import truncate_lineage

    seqs = ins.timed(timers, ins.EXTRACT, transcript_sequences(transcripts, genome))
    counts = ins.timed(timers, ins.SPLIT_KMERS, transcript_kmer_counts(seqs, k))
    with_class = counts.select(
        "t_id",
        "kmer",
        F.md5(F.concat_ws(":", F.col("t_id"), F.col("cnt"))).alias("class_id"),
    )
    if timers is None:
        with_class = truncate_lineage(with_class)
    else:
        with_class = ins.timed(timers, ins.GENERATE_CLASSES, with_class)
    kmer_to_class = with_class.select("kmer", "class_id")
    class_kmers = with_class.select("class_id", "kmer")
    class_transcripts = with_class.select("class_id", "t_id").distinct()
    if timers is not None:
        class_transcripts = ins.timed(timers, ins.GENERATE_INDICES, class_transcripts)
    return kmer_to_class, class_kmers, class_transcripts
