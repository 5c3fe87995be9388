"""Output checks and accuracy scores against the generators' truth."""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd
import pyarrow.dataset as ds


def spearman(a, b) -> float:
    """Spearman rank correlation as the Pearson correlation of average
    ranks (``Series.corr(method="spearman")`` needs scipy)."""
    ra = pd.Series(a, dtype="float64").rank()
    rb = pd.Series(b, dtype="float64").rank()
    return float(ra.corr(rb))


def median_rel_err(est, truth) -> float:
    est, truth = np.asarray(est, dtype="float64"), np.asarray(truth, dtype="float64")
    return float(np.median(np.abs(est - truth) / truth))


def read_abundance_text(out_dir: str) -> dict[str, str]:
    """The quantify CLI's ``"<t_id>, <abundance>"`` text output, raw."""
    rows: dict[str, list[str]] = {}
    for name in sorted(os.listdir(out_dir)):
        if name.startswith(("part-", "part_")):
            with open(os.path.join(out_dir, name)) as fh:
                for line in fh:
                    t_id, value = line.rstrip("\n").split(", ")
                    rows.setdefault(t_id, []).append(value)
    return rows


def check_abundances(rows: dict, names: list[str]) -> tuple[list[str], dict[str, float]]:
    """(problems, abundance by transcript): one finite row per transcript
    and a total of 1 within 1e-9."""
    problems = []
    if sorted(rows) != sorted(names):
        problems.append(f"abundance rows for {len(rows)} transcripts, expected {len(names)}")
    values = {}
    for t, vs in rows.items():
        if len(vs) != 1:
            problems.append(f"{t}: {len(vs)} rows")
        v = float(vs[0])
        if not math.isfinite(v):
            problems.append(f"{t}: non-finite abundance {vs[0]}")
        values[t] = v
    total = math.fsum(values.values())
    if not abs(total - 1.0) <= 1e-9:
        problems.append(f"abundances sum to {total!r}")
    return problems, values


def abundance_accuracy(values: dict[str, float], names: list[str], truth) -> dict[str, float]:
    est = [values.get(n, float("nan")) for n in names]
    return {
        "abundance_spearman": spearman(est, truth),
        "abundance_median_rel_err": median_rel_err(est, truth),
    }


def read_doc_ids(out_dir: str) -> np.ndarray:
    return ds.dataset(out_dir, format="parquet", partitioning="hive").to_table(
        columns=["doc_id"]
    ).column("doc_id").to_numpy()


def check_curated(kept: np.ndarray, corpus) -> tuple[list[str], dict[str, float]]:
    """(problems, accuracy) for the curated doc ids against the planted
    families: no repeated id, no surviving exact-copy pair, no surviving
    low-quality document, no family left without a document; recall of
    planted copies removed and the share of families that keep exactly
    one document. A family that lost every document counts as none of
    its copies removed: the dedup merged it into another family."""
    problems = []
    ids = corpus.table.column("doc_id").to_numpy()
    uniq, counts = np.unique(kept, return_counts=True)
    if (counts > 1).any():
        problems.append(f"{int((counts > 1).sum())} repeated doc_id")
    if not np.isin(uniq, ids).all():
        problems.append("output holds doc_ids not in the input")
    alive = set(uniq.tolist())
    both = sum(a in alive and b in alive for a, b in corpus.exact_pairs)
    if both:
        problems.append(f"{both} planted exact-copy pairs survive")
    survived = np.isin(ids, uniq)
    fam = corpus.family
    if survived[fam < 0].any():
        problems.append(f"{int(survived[fam < 0].sum())} low-quality documents survive")
    per_family = np.bincount(fam[survived & (fam >= 0)], minlength=corpus.n_families)
    family_sizes = np.bincount(fam[fam >= 0], minlength=corpus.n_families)
    lost = per_family == 0
    if lost.any():
        problems.append(f"{int(lost.sum())} planted families keep no document")
    copies = int((family_sizes - 1).sum())
    removed = int(np.where(lost, 0, family_sizes - per_family).sum())
    return problems, {
        "near_dup_recall": removed / copies if copies else 1.0,
        "unique_kept_frac": float((per_family == 1).mean()),
    }
