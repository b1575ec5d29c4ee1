"""Seeded input generators for the benchmark workloads.

Every table is written as ONE parquet file with one row group (the
layout of the repository's fixture corpus), and every value is drawn
from ``numpy.random.default_rng([seed, stream])`` — the same seed gives
byte-identical inputs, another seed gives other inputs. The program
under test only ever sees these files; the ``meta`` dicts returned here
(planted duplicates, generating coefficients) stay with the benchmark,
which uses them to check outputs.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- sizes ----
# tabular_train: a pass runs about a hundred Spark jobs, so its time is
# mostly per-job driver and scheduling cost; 20k rows keep a warm pass
# near 11 s on 4 cores while the GLM still recovers its coefficients.
# The repository holds no loan data to measure, so the shares below are
# set to exercise each path: a fifth of the rows default-fill in the
# join, one dominant purpose level next to rare ones, 5% void rows.
TAB_TRAIN_ROWS = 20_000
TAB_HOLDOUT_ROWS = 5_000
TAB_REGIONS = 150  # region ids used by the fact table
TAB_DIM_REGIONS = 120  # ids present in the dimension (the rest default-fill)
TAB_VOID_SHARE = 0.05  # rows the `where` drops
PURPOSES = ["purchase", "refi", "cashout", "construction", "other"]
PURPOSE_P = [0.50, 0.20, 0.15, 0.10, 0.05]  # skewed categorical
CHANNELS = ["retail", "broker", "correspondent"]
STATES = [f"S{i:02d}" for i in range(20)]  # Zipf(1.1) skew over 20 levels

# generating model (per RAW unit; the GLM sees z-scored inputs, so its
# coefficient on feature f is COEF[f] * sd(f))
TAB_INTERCEPT = -1.2
TAB_COEF = {"fico": -0.012, "ltv": 0.03, "dti": 0.025, "unemp": 0.15, "log_bal": 0.0}
TAB_PURPOSE_EFFECT = {"purchase": 0.0, "refi": 0.2, "cashout": 0.5, "construction": 0.3, "other": -0.2}

# curation_dedup: the shape of the fixture corpus's documents table
# (5,000 documents at sf0.1), measured: 30 words drawn uniformly, 10-100
# words per document, no case or punctuation variants; 8 byte-identical
# copies (0.16%); 248 near copies (5.0%), each an earlier document with
# the token "dup" inserted (5-shingle Jaccard 0.83-1.0), almost all in
# clusters of 2; source = doc_id mod 20; lang 41% en, 15% each of the
# other four. Two shares are kept above the measured rates on purpose:
# 3 clusters of 40 near copies (the fixture's largest has 4), the hot
# LSH buckets whose pair blow-up is the dedup layer's known risk, and 1%
# junk documents (the fixture has none), so the quality gate drops rows.
CUR_DOCS = 3_000
CUR_WORDS = ("spark window merge table column vector stream value data small join filter big group hash "
             "customer sort order slow line part fast row the agg key query a scan batch").split()
CUR_DOC_WORDS = (10, 100)  # inclusive, uniform
CUR_NEAR_TOKEN = "dup"
CUR_EXACT_SHARE = 8 / 5000
CUR_NEAR_SHARE = 248 / 5000
CUR_HOT_CLUSTERS = 3
CUR_HOT_CLUSTER_SIZE = 40
CUR_JUNK_SHARE = 0.01
CUR_SOURCES = 20
CUR_LANGS = ["en", "zh", "es", "fr", "de"]
CUR_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


def _write(table: pa.Table, path: str) -> str:
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))
    return path


def _zipf_choice(rng: np.random.Generator, n_levels: int, a: float, size: int) -> np.ndarray:
    w = 1.0 / np.arange(1, n_levels + 1) ** a
    return rng.choice(n_levels, size=size, p=w / w.sum())


# ------------------------------------------------------------ tabular ----
def _loans(rng: np.random.Generator, n: int, id0: int, unemp_by_region: dict[int, float]) -> pa.Table:
    region = rng.integers(0, TAB_REGIONS, n).astype(np.int32)
    purpose = rng.choice(len(PURPOSES), size=n, p=PURPOSE_P)
    fico = np.clip(np.round(rng.normal(710, 50, n)), 500, 850)
    ltv = np.round(rng.uniform(40, 100, n), 2)
    dti = np.round(rng.uniform(10, 50, n), 2)
    rate = np.round(rng.uniform(3, 8, n), 3)
    balance = np.round(np.exp(rng.normal(12.2, 0.5, n)), 2)
    start = dt.date(2018, 1, 1).toordinal()
    orig = [dt.date.fromordinal(start + int(d)) for d in rng.integers(0, 6 * 365, n)]
    status = np.where(rng.random(n) < TAB_VOID_SHARE, "void", np.where(rng.random(n) < 0.7, "active", "closed"))
    unemp = np.array([unemp_by_region.get(int(r), 0.0) for r in region])  # default fill = 0.0
    logit = (
        TAB_INTERCEPT
        + TAB_COEF["fico"] * (fico - 710)
        + TAB_COEF["ltv"] * (ltv - 70)
        + TAB_COEF["dti"] * (dti - 30)
        + TAB_COEF["unemp"] * (unemp - 5)
        + np.array([TAB_PURPOSE_EFFECT[PURPOSES[p]] for p in purpose])
    )
    target = (rng.random(n) < 1 / (1 + np.exp(-logit))).astype(np.float64)
    return pa.table(
        {
            "loan_id": pa.array(np.arange(id0, id0 + n), pa.int64()),
            "region_id": pa.array(region, pa.int32()),
            "status": pa.array(status.tolist(), pa.string()),
            "purpose": pa.array([PURPOSES[p] for p in purpose], pa.string()),
            "channel": pa.array([CHANNELS[c] for c in rng.integers(0, 3, n)], pa.string()),
            "state": pa.array([STATES[s] for s in _zipf_choice(rng, len(STATES), 1.1, n)], pa.string()),
            "orig_date": pa.array(orig, pa.date32()),
            "fico": pa.array(fico, pa.float64()),
            "ltv": pa.array(ltv, pa.float64()),
            "dti": pa.array(dti, pa.float64()),
            "rate": pa.array(rate, pa.float64()),
            "balance": pa.array(balance, pa.float64()),
            "term": pa.array(rng.choice([180, 360], n, p=[0.3, 0.7]), pa.int32()),
            "target": pa.array(target, pa.float64()),
        }
    )


def tabular_inputs(seed: int, out_dir: str) -> dict:
    """Loan fact table (train + holdout) and a region dimension."""
    rng = _rng(seed, 1)
    dim_ids = np.sort(rng.choice(TAB_REGIONS, TAB_DIM_REGIONS, replace=False)).astype(np.int32)
    unemp = np.round(rng.uniform(3, 10, TAB_DIM_REGIONS), 2)
    hpi = np.round(rng.normal(0.03, 0.02, TAB_DIM_REGIONS), 4)
    dim = pa.table(
        {
            "region_id": pa.array(dim_ids, pa.int32()),
            "unemp": pa.array(unemp, pa.float64()),
            "hpi": pa.array(hpi, pa.float64()),
        }
    )
    by_region = {int(r): float(u) for r, u in zip(dim_ids, unemp)}
    paths = {
        "train": _write(_loans(rng, TAB_TRAIN_ROWS, 1, by_region), os.path.join(out_dir, "loans.parquet")),
        "holdout": _write(
            _loans(rng, TAB_HOLDOUT_ROWS, 10_000_001, by_region), os.path.join(out_dir, "loans_holdout.parquet")
        ),
        "dim": _write(dim, os.path.join(out_dir, "regions.parquet")),
    }
    return {"paths": paths, "rows": TAB_TRAIN_ROWS + TAB_HOLDOUT_ROWS}


# ----------------------------------------------------------- curation ----
def _near_copy(rng: np.random.Generator, text: str) -> str:
    words = text.split(" ")
    words.insert(int(rng.integers(len(words) + 1)), CUR_NEAR_TOKEN)
    return " ".join(words)


def curation_inputs(seed: int, out_dir: str) -> dict:
    """Document corpus with planted exact copies, near-copy clusters (a
    few large ones) and junk documents, laid out like the fixture's
    documents table."""
    rng = _rng(seed, 2)
    n = CUR_DOCS
    texts = [
        " ".join(rng.choice(CUR_WORDS, int(rng.integers(CUR_DOC_WORDS[0], CUR_DOC_WORDS[1] + 1))))
        for _ in range(n)
    ]
    n_exact, n_near, n_junk = (round(n * s) for s in (CUR_EXACT_SHARE, CUR_NEAR_SHARE, CUR_JUNK_SHARE))
    n_hot = CUR_HOT_CLUSTERS * (CUR_HOT_CLUSTER_SIZE - 1)
    # every copy, hot-cluster member and junk document takes a random id;
    # the documents they copy keep theirs
    slots = rng.permutation(n)
    cuts = np.cumsum([n_exact, n_near, n_hot, n_junk, CUR_HOT_CLUSTERS])
    exact, near, hot, junk, roots = np.split(slots[: cuts[-1]], cuts[:-1])
    originals = slots[cuts[-1]:]
    clusters: dict[int, list[int]] = {}  # copied id -> its near copies
    for i in exact:
        texts[i] = texts[int(rng.choice(originals))]
    for i in near:
        src = int(rng.choice(originals))
        texts[i] = _near_copy(rng, texts[src])
        clusters.setdefault(src, []).append(int(i))
    for r, members in zip(roots, np.split(hot, CUR_HOT_CLUSTERS)):
        for i in members:
            texts[i] = _near_copy(rng, texts[r])
        clusters[int(r)] = [int(i) for i in members]
    marks = np.array(list("!?#$%&*@;:.,"))
    for i in junk:
        k = int(rng.integers(4, 12))
        texts[i] = " ".join("".join(rng.choice(marks, int(rng.integers(2, 6)))) for _ in range(k))
    ids = np.arange(n, dtype=np.int64)
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(CUR_LANGS, n, p=CUR_LANG_P).tolist(), pa.string()),
            "source": pa.array([f"src{i % CUR_SOURCES}" for i in ids], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    path = _write(table, os.path.join(out_dir, "docs.parquet"))
    return {
        "paths": {"docs": path},
        "rows": n,
        "texts": dict(enumerate(texts)),
        "sources": {int(i): f"src{i % CUR_SOURCES}" for i in ids},
        "clusters": [[src] + copies for src, copies in clusters.items()],
        "junk": [int(i) for i in junk],
    }


GENERATORS = {
    "tabular_train": tabular_inputs,
    "curation_dedup": curation_inputs,
}
