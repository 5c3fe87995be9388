import math

import numpy as np
import pyarrow as pa
import pytest

import gen
import score


def test_spearman_matches_rank_formula():
    assert score.spearman([1, 2, 3, 4], [10, 20, 30, 40]) == pytest.approx(1)
    assert score.spearman([1, 2, 3, 4], [4, 3, 2, 1]) == pytest.approx(-1)
    # no ties: 1 - 6 sum(d^2) / (n (n^2 - 1))
    a, b = [3.0, 1.0, 4.0, 1.5, 9.0], [2.0, 7.0, 1.0, 8.0, 2.5]
    ra, rb = np.argsort(np.argsort(a)), np.argsort(np.argsort(b))
    n = len(a)
    assert score.spearman(a, b) == pytest.approx(1 - 6 * ((ra - rb) ** 2).sum() / (n * (n * n - 1)))
    # ties take average ranks: exact value from the Pearson definition
    assert score.spearman([1, 1, 2], [1, 2, 3]) == pytest.approx(math.sqrt(3) / 2)


def test_median_rel_err():
    assert score.median_rel_err([1.1, 2.0, 2.0], [1.0, 2.0, 4.0]) == pytest.approx(0.1)


def test_check_abundances_flags_bad_tables():
    names = ["a", "b"]
    ok, values = score.check_abundances({"a": ["0.25"], "b": ["0.75"]}, names)
    assert ok == [] and values == {"a": 0.25, "b": 0.75}
    assert score.check_abundances({"a": ["0.25"], "b": ["0.7"]}, names)[0]
    assert score.check_abundances({"a": ["NaN"], "b": ["0.75"]}, names)[0]
    assert score.check_abundances({"a": ["1.0"]}, names)[0]
    assert score.check_abundances({"a": ["0.25", "0.25"], "b": ["0.75"]}, names)[0]


def test_read_abundance_text(tmp_path):
    (tmp_path / "part-00000.txt").write_text("T1, 0.25\nT2, 0.75\n")
    (tmp_path / "_SUCCESS").write_text("")
    assert score.read_abundance_text(str(tmp_path)) == {"T1": ["0.25"], "T2": ["0.75"]}


def _truth_kept(c):
    """One survivor per family: its smallest doc id, as the dedup keeps."""
    ids = c.table.column("doc_id").to_numpy()
    keep = [ids[c.family == f].min() for f in range(c.n_families)]
    return np.array(keep)


def test_check_curated_scores_a_perfect_output():
    c = gen.corpus(4, 100)
    problems, acc = score.check_curated(_truth_kept(c), c)
    assert problems == [] and acc == {"near_dup_recall": 1.0, "unique_kept_frac": 1.0}


def test_check_curated_flags_and_scores_mistakes():
    c = gen.corpus(4, 100)
    kept = _truth_kept(c)
    a, b = c.exact_pairs[0]
    with_pair = np.concatenate([kept[~np.isin(kept, [a, b])], [a, b]])
    problems, acc = score.check_curated(with_pair, c)
    assert any("exact-copy" in p for p in problems)
    assert acc["unique_kept_frac"] == pytest.approx(0.99)
    assert score.check_curated(np.concatenate([kept, kept[:1]]), c)[0]
    low = c.table.column("doc_id").to_numpy()[c.family < 0][:1]
    assert any("low-quality" in p for p in score.check_curated(np.concatenate([kept, low]), c)[0])


def test_check_curated_flags_families_that_lose_every_document():
    c = gen.corpus(4, 100)
    problems, acc = score.check_curated(np.array([], dtype=np.int64), c)
    assert any("keep no document" in p for p in problems)
    assert acc == {"near_dup_recall": 0.0, "unique_kept_frac": 0.0}
    # one multi-member family dropped whole: its copies do not count as removed
    ids = c.table.column("doc_id").to_numpy()
    sizes = np.bincount(c.family[c.family >= 0], minlength=c.n_families)
    f = int(np.argmax(sizes))
    kept = _truth_kept(c)
    problems, acc = score.check_curated(kept[~np.isin(kept, ids[c.family == f])], c)
    assert problems == ["1 planted families keep no document"]
    copies = int((sizes - 1).sum())
    assert acc["near_dup_recall"] == pytest.approx((copies - (sizes[f] - 1)) / copies)


def test_read_doc_ids_from_hive_partitions(tmp_path):
    import pyarrow.parquet as pq

    for lang, ids in (("en", [1, 2]), ("fr", [3])):
        (tmp_path / f"lang={lang}").mkdir()
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64())}), tmp_path / f"lang={lang}" / "p.parquet")
    assert sorted(score.read_doc_ids(str(tmp_path)).tolist()) == [1, 2, 3]
