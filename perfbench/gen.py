"""Seeded input generators for the benchmark (numpy + pyarrow).

Everything here is a pure function of its arguments and the seed: the
same seed gives byte-identical parquet. The program under test only
ever sees the parquet files; the truth (abundances, the block class
map, planted duplicate families) stays with the benchmark.

Transcriptome: ``n_blocks`` random ACGT blocks with log-normal lengths.
Each transcript concatenates one private block and a few blocks drawn
from a shared pool, some repeated (multiplicity 2-3), in random order —
the shape of the reference's shared-class generator, scaled up and
vectorised. Reads are drawn in proportion to abundance x length, with
uniform start positions and no errors.

Corpus: near-duplicate families (a base document plus copies with a few
percent of tokens replaced), exact copies, singletons, and documents
whose punctuation ratio fails the curate quality threshold.
"""

from __future__ import annotations

import dataclasses
import os
from statistics import NormalDist

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ACGT = np.frombuffer(b"ACGT", dtype=np.uint8)
READ_LEN = 75
K = 20


@dataclasses.dataclass
class Transcriptome:
    names: list[str]
    sequences: list[str]
    abundance: np.ndarray  # true relative abundance per transcript, sums to 1
    kmer_class: dict[str, str]  # block-internal k-mer -> block (class) id
    class_members: dict[str, list[str]]  # block id -> transcripts holding it
    n_reads: int
    reads: list[str]


def _lengths(rng: np.random.Generator, n: int, median: float, lo: int, hi: int) -> np.ndarray:
    """Log-normal lengths (sigma 0.5), clipped, in a seeded order. Real
    transcript lengths are right-skewed around a median; taking the
    distribution's n quantiles instead of n draws keeps the total — and
    so the work per run — the same for every seed."""
    z = np.array([NormalDist().inv_cdf((i + 0.5) / n) for i in range(n)])
    return rng.permutation(np.clip(np.exp(np.log(median) + 0.5 * z), lo, hi).astype(np.int64))


def transcriptome(
    seed: int,
    n_transcripts: int,
    n_shared: int,
    n_reads: int,
    block_median: int = 160,
) -> Transcriptome:
    rng = np.random.default_rng(seed)
    n_blocks = n_transcripts + n_shared
    lens = _lengths(rng, n_blocks, block_median, K + 10, 4 * block_median)
    blocks = [ACGT[rng.integers(0, 4, int(n))].tobytes().decode() for n in lens]
    # 15% of blocks repeat 2 or 3 times; transcripts take 1-4 shared
    # blocks. Both as fixed counts in a seeded order, like the lengths.
    mult = np.ones(n_blocks, dtype=np.int64)
    repeated = rng.choice(n_blocks, size=round(0.15 * n_blocks), replace=False)
    mult[repeated] = 2 + np.arange(repeated.size) % 2
    n_picked = rng.permutation(np.minimum(1 + np.arange(n_transcripts) % 4, n_shared))

    members: dict[int, list[int]] = {}
    sequences = []
    for t in range(n_transcripts):
        shared = n_transcripts + rng.choice(n_shared, size=int(n_picked[t]), replace=False)
        parts = [b for b in [t, *sorted(shared.tolist())] for _ in range(int(mult[b]))]
        for b in set(parts):
            members.setdefault(b, []).append(t)
        order = rng.permutation(len(parts))
        sequences.append("".join(blocks[parts[i]] for i in order))
    # short transcripts cannot host a read
    assert min(len(s) for s in sequences) > READ_LEN

    names = [f"T{t:05d}" for t in range(n_transcripts)]
    kmer_class: dict[str, str] = {}
    for b in sorted(members):
        seq = blocks[b]
        for i in range(len(seq) - K + 1):
            kmer_class[seq[i : i + K]] = f"B{b:05d}"
    class_members = {f"B{b:05d}": [names[t] for t in ts] for b, ts in sorted(members.items())}

    abundance = rng.lognormal(0.0, 1.0, n_transcripts)
    abundance /= abundance.sum()
    return Transcriptome(
        names, sequences, abundance, kmer_class, class_members, n_reads,
        draw_reads(rng, sequences, abundance, n_reads),
    )


def draw_reads(
    rng: np.random.Generator, sequences: list[str], abundance: np.ndarray, n_reads: int
) -> list[str]:
    """Reads per transcript proportional to abundance x length (the
    reference ReadGenerator's rule); uniform starts, no errors."""
    lens = np.array([len(s) for s in sequences], dtype=np.int64)
    weight = abundance * lens
    counts = np.floor(weight / weight.sum() * n_reads).astype(np.int64)
    offsets = np.concatenate([[0], np.cumsum(lens)[:-1]])
    which = np.repeat(np.arange(len(sequences)), counts)
    starts = offsets[which] + (rng.random(which.size) * (lens[which] - READ_LEN)).astype(np.int64)
    flat = np.frombuffer("".join(sequences).encode(), dtype=np.uint8)
    window = flat[starts[:, None] + np.arange(READ_LEN)]
    return [r.decode() for r in window.view(f"S{READ_LEN}").ravel()]


_EXON = pa.struct(
    [("exon_id", pa.string()), ("contig", pa.string()), ("start", pa.int64()), ("end", pa.int64())]
)


def write_transcriptome(tx: Transcriptome, out_dir: str) -> dict[str, str]:
    """Genome (one contig per transcript), single-exon transcript
    descriptors and reads as parquet; returns their paths. The exon
    region is [0, len+1) so the program's width-1 length rule gives
    exactly len(sequence)."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {n: os.path.join(out_dir, f"{n}.parquet") for n in ("genome", "genes", "reads")}
    pq.write_table(pa.table({"contig": tx.names, "sequence": tx.sequences}), paths["genome"])
    exons = pa.array(
        [[{"exon_id": n + "e", "contig": n, "start": 0, "end": len(s) + 1}]
         for n, s in zip(tx.names, tx.sequences)],
        type=pa.list_(_EXON),
    )
    pq.write_table(
        pa.table({
            "t_id": tx.names,
            "gene_id": tx.names,
            "strand": pa.array([True] * len(tx.names)),
            "exons": exons,
        }),
        paths["genes"],
    )
    pq.write_table(
        pa.table({"read_id": pa.array(np.arange(len(tx.reads)), pa.int64()), "sequence": tx.reads}),
        paths["reads"],
    )
    return paths


@dataclasses.dataclass
class Corpus:
    table: pa.Table
    family: np.ndarray  # per row: family index, -1 for low-quality rows
    exact_pairs: list[tuple[int, int]]  # (doc_id, doc_id) byte-identical copies
    n_families: int
    n_low_quality: int


STOPWORDS = ("the", "a", "of", "and", "is", "to", "in")
_LETTERS = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
_PUNCT = ("!!!", "###", "%%%", "&&&", "***", ";;;", "???", "~~~")


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    lens = rng.integers(3, 10, n)
    words = {_LETTERS[rng.integers(0, 26, int(m))].tobytes().decode() for m in lens}
    return np.array(sorted(words - set(STOPWORDS)))


def corpus(
    seed: int,
    n_families: int,
    edit_frac: float = 0.03,
    low_quality_frac: float = 0.05,
    vocab_size: int = 20000,
) -> Corpus:
    """Families of sizes 1-4: the base document, near copies with
    ``edit_frac`` of tokens replaced, and (for some families) one exact
    copy of a member. Doc ids are a seeded permutation, so which member
    the dedup keeps (the smallest id) is not the base by construction."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng, vocab_size)
    # Zipf-like content word frequencies plus ~15% stopwords
    cdf = np.cumsum(1.0 / np.arange(1, vocab.size + 1) ** 0.8)
    cdf /= cdf[-1]

    def words(n: int) -> np.ndarray:
        w = vocab[np.minimum(np.searchsorted(cdf, rng.random(n)), vocab.size - 1)]
        stop = rng.random(n) < 0.15
        w[stop] = np.array(STOPWORDS)[rng.integers(0, len(STOPWORDS), int(stop.sum()))]
        return w

    texts: list[str] = []
    family: list[int] = []
    exact_of: list[int] = []  # row index this row copies exactly, or -1
    for f in range(n_families):
        base = words(int(np.clip(rng.lognormal(np.log(150), 0.4), 60, 600)))
        rows = [base]
        for _ in range(int(rng.choice(3, p=[0.5, 0.3, 0.2]))):
            edited = base.copy()
            hit = rng.random(base.size) < edit_frac
            edited[hit] = words(int(hit.sum()))
            rows.append(edited)
        first = len(texts)
        for r in rows:
            texts.append(" ".join(r))
            family.append(f)
            exact_of.append(-1)
        if rng.random() < 0.3:
            src = first + int(rng.integers(0, len(rows)))
            texts.append(texts[src])
            family.append(f)
            exact_of.append(src)
    n_low = int(round(low_quality_frac * len(texts)))
    for _ in range(n_low):
        w = words(int(rng.integers(60, 200)))
        w[::2] = np.array(_PUNCT)[rng.integers(0, len(_PUNCT), w[::2].size)]
        texts.append(" ".join(w))
        family.append(-1)
        exact_of.append(-1)

    n = len(texts)
    doc_id = rng.permutation(n).astype(np.int64) + 1
    langs = np.array(["de", "en", "es", "fr"])[rng.integers(0, 4, n)]
    sources = np.array(["books", "forum", "news", "web"])[rng.integers(0, 4, n)]
    table = pa.table({
        "doc_id": pa.array(doc_id, pa.int64()),
        "text": texts,
        "lang": langs.tolist(),
        "source": sources.tolist(),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    exact_pairs = [
        (int(doc_id[i]), int(doc_id[src])) for i, src in enumerate(exact_of) if src >= 0
    ]
    return Corpus(table, np.array(family), exact_pairs, n_families, n_low)


def write_corpus(c: Corpus, out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "docs.parquet")
    pq.write_table(c.table, path)
    return path
