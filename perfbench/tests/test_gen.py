import numpy as np
import pyarrow.parquet as pq

import gen


def test_transcriptome_is_a_function_of_the_seed():
    a, b, c = (gen.transcriptome(s, 12, 6, 1500) for s in (5, 5, 6))
    assert a.sequences == b.sequences and a.reads == b.reads
    assert np.array_equal(a.abundance, b.abundance)
    assert a.kmer_class == b.kmer_class and a.class_members == b.class_members
    assert a.sequences != c.sequences


def test_transcriptome_truth_is_consistent():
    tx = gen.transcriptome(3, 20, 10, 4000)
    assert abs(tx.abundance.sum() - 1) < 1e-12
    assert len(set(len(s) for s in tx.sequences)) > 1  # lengths vary
    assert 0.9 * 4000 <= len(tx.reads) <= 4000
    seqs = dict(zip(tx.names, tx.sequences))
    assert all(len(r) == gen.READ_LEN and any(r in s for s in tx.sequences) for r in tx.reads[:200])
    by_class: dict[str, list[str]] = {}
    for kmer, c in tx.kmer_class.items():
        by_class.setdefault(c, []).append(kmer)
    for c, members in tx.class_members.items():
        kmer = by_class[c][0]
        assert [t for t in tx.names if kmer in seqs[t]] == members
    assert any(len(m) > 1 for m in tx.class_members.values())


def test_written_transcriptome_round_trips(tmp_path):
    tx = gen.transcriptome(1, 5, 2, 500)
    paths = gen.write_transcriptome(tx, str(tmp_path))
    genome = pq.read_table(paths["genome"]).to_pydict()
    genes = pq.read_table(paths["genes"]).to_pylist()
    assert genome["sequence"] == tx.sequences
    # single exon [0, len+1): the program's width-1 length rule gives len
    assert [g["exons"][0]["end"] - g["exons"][0]["start"] - 1 for g in genes] == [
        len(s) for s in tx.sequences
    ]
    assert pq.read_table(paths["reads"]).column("sequence").to_pylist() == tx.reads


def test_corpus_is_a_function_of_the_seed():
    a, b, c = (gen.corpus(s, 200) for s in (7, 7, 8))
    assert a.table.equals(b.table)
    assert np.array_equal(a.family, b.family) and a.exact_pairs == b.exact_pairs
    assert not a.table.equals(c.table)


def test_corpus_plants_what_the_checks_expect():
    c = gen.corpus(2, 300)
    ids = c.table.column("doc_id").to_numpy()
    texts = dict(zip(ids.tolist(), c.table.column("text").to_pylist()))
    assert len(np.unique(ids)) == len(ids)
    assert c.exact_pairs and all(texts[a] == texts[b] for a, b in c.exact_pairs)
    assert int((c.family < 0).sum()) == c.n_low_quality > 0
    assert set(c.family[c.family >= 0].tolist()) == set(range(c.n_families))
    low = [t for t, f in zip(texts.values(), c.family) if f < 0]
    assert all(sum(ch in "!#%&*;?~" for ch in t) / len(t) > 0.15 for t in low)
