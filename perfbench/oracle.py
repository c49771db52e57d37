"""Independent BM25 oracle over an index's postings parquet.

The engine scores through Spark (relational joins or the segment kernel);
the oracle reads the `postings` stage with pyarrow and scores with numpy,
so a defect in either engine path shows up as a mismatch here.

    idf(t)   = ln(1 + (N - df + 0.5) / (df + 0.5))
    score(d) = sum_t w(t) * idf(t) * tf / (tf + k1 * (1 - b + b * dl / avgdl))

N and avgdl come from the index's meta.json, df from the postings rows
(deleted-but-uncompacted docs still count, as in the engine).
"""

from __future__ import annotations

import json
import os
from collections import Counter

import numpy as np
import pyarrow.dataset as ds

K1 = 1.2
B = 0.75
SCORE_TOL = 1e-6


def weights_of(terms) -> dict[str, float]:
    """Query weights: a term list is one clause per distinct term; a match
    string counts repeated terms (Lucene sums duplicated SHOULD clauses)."""
    if isinstance(terms, str):
        return {t: float(m) for t, m in Counter(terms.split()).items()}
    return {t: 1.0 for t in set(terms)}


class Oracle:
    """BM25 over one index directory; postings are loaded per term once."""

    def __init__(self, index_dir: str):
        self.index_dir = index_dir
        with open(os.path.join(index_dir, "meta.json")) as f:
            meta = json.load(f)
        self.n_docs = int(meta["N"])
        self.avgdl = float(meta["avgdl"])
        self._postings: dict[str, tuple[np.ndarray, np.ndarray]] = {}

    def load(self, terms) -> None:
        """Read and pre-score the postings of `terms` in one filtered scan."""
        need = sorted(set(terms) - set(self._postings))
        if not need:
            return
        table = ds.dataset(os.path.join(self.index_dir, "postings"), format="parquet").to_table(
            columns=["term", "docID", "tf", "dl"], filter=ds.field("term").isin(need)
        )
        term = table.column("term").to_numpy(zero_copy_only=False)
        doc = table.column("docID").to_numpy().astype(np.int64)
        tf = table.column("tf").to_numpy().astype(np.float64)
        dl = table.column("dl").to_numpy().astype(np.float64)
        norm = tf / (tf + K1 * (1.0 - B + B * dl / self.avgdl))
        for t in need:
            sel = term == t
            df = int(sel.sum())
            idf = np.log(1.0 + (self.n_docs - df + 0.5) / (df + 0.5))
            self._postings[t] = (doc[sel], idf * norm[sel])

    def scores(self, weights: dict[str, float]) -> dict[int, float]:
        """docID -> BM25 score over every doc matching any query term."""
        self.load(weights)
        docs, parts = [], []
        for t, w in sorted(weights.items()):
            d, s = self._postings[t]
            docs.append(d)
            parts.append(w * s)
        if not docs:
            return {}
        uniq, inv = np.unique(np.concatenate(docs), return_inverse=True)
        total = np.bincount(inv, weights=np.concatenate(parts))
        return dict(zip(uniq.tolist(), total.tolist()))

    def topk(self, weights: dict[str, float], k: int = 10, exclude=()) -> tuple[list, dict]:
        """(ranked [(docID, score)], full score map); ties by docID ascending."""
        full = self.scores(weights)
        excluded = set(exclude)
        live = [(d, s) for d, s in full.items() if d not in excluded]
        live.sort(key=lambda ds_: (-ds_[1], ds_[0]))
        return live[:k], full


def check_ranked(got: list[tuple[int, float]], want: list[tuple[int, float]],
                 full: dict[int, float], tol: float = SCORE_TOL) -> str | None:
    """None when `got` equals `want` on docIDs and on scores to `tol`.

    Docs whose oracle scores lie within `tol` of each other form a tie
    group; inside a group the engine's float summation order may flip
    ranks, so a group is compared as a set. The last group may be cut by k:
    there any doc carrying that score is accepted."""
    if len(got) != len(want):
        return f"{len(got)} hits, expected {len(want)}"
    if len({d for d, _ in got}) != len(got):
        return "duplicate docIDs"
    i = 0
    while i < len(want):
        j = i
        while j + 1 < len(want) and abs(want[j + 1][1] - want[i][1]) <= tol:
            j += 1
        for r in range(i, j + 1):
            if abs(got[r][1] - want[r][1]) > tol:
                return f"rank {r + 1}: score {got[r][1]!r}, expected {want[r][1]!r}"
        got_docs = {d for d, _ in got[i:j + 1]}
        if j + 1 == len(want):
            bad = [d for d in got_docs if abs(full.get(d, float("nan")) - want[i][1]) > tol]
        else:
            bad = sorted(got_docs ^ {d for d, _ in want[i:j + 1]})
        if bad:
            return f"ranks {i + 1}-{j + 1}: unexpected docIDs {bad[:5]}"
        i = j + 1
    return None


def check_same(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> str | None:
    """None when a repeat returns the recorded answer (docIDs in order, scores)."""
    if [d for d, _ in got] != [d for d, _ in want]:
        return f"docIDs {[d for d, _ in got]} differ from the recorded {[d for d, _ in want]}"
    for (_, a), (_, b) in zip(got, want):
        if abs(a - b) > 1e-9:
            return f"score {a!r} differs from the recorded {b!r}"
    return None
