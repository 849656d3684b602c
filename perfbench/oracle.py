"""Expected answers, computed apart from the program under test.

Nothing here imports ``level_mapreduce_spark`` or Spark: each oracle
recomputes an answer from the generated inputs with plain Python,
pandas or numpy, and each ``check_*`` returns a list of error strings
(empty when the program's answer is right).

- kv: the document state after a sequence of change batches and
  range deletes, and the get / scan / group / count-by-key answers
  over the two keys each doc emits.
- BM25: Okapi BM25 over the corpus as it stands (lowercase, split on
  ``' '``, empties dropped, k1=1.2, b=0.75, idf
  ``ln(1 + (N - df + 0.5) / (df + 0.5))``), top-k by score with
  doc_id breaking ties.
- SemDeDup: properties every answer must have (a duplicate cites a
  kept leader in its cluster with the true cosine at or above the
  threshold; exact copies are duplicates; no vector is lost).
"""

from __future__ import annotations

import math
from collections import Counter

import numpy as np
import pandas as pd

SCORE_TOL = 1e-6


# ------------------------------------------------------------------ kv


def emits(docs: pd.DataFrame) -> pd.DataFrame:
    """The kv mapper's rows for live docs ``(doc_key, date, cat,
    amount)``: ``D#<date>`` at emit_pos 0 and ``C#<cat:04d>`` at
    emit_pos 1, both carrying the amount."""
    date_rows = pd.DataFrame(
        {
            "index_key": "D#" + docs["date"].astype(str),
            "doc_key": docs["doc_key"].values,
            "emit_pos": 0,
            "value": docs["amount"].astype("int64").values,
        }
    )
    cat_rows = pd.DataFrame(
        {
            "index_key": ["C#%04d" % c for c in docs["cat"]],
            "doc_key": docs["doc_key"].values,
            "emit_pos": 1,
            "value": docs["amount"].astype("int64").values,
        }
    )
    out = pd.concat([date_rows, cat_rows], ignore_index=True)
    return out.sort_values(["index_key", "doc_key", "emit_pos"], ignore_index=True)


class KvState:
    """Live documents keyed by doc_key, changed the way the index is."""

    def __init__(self, docs: pd.DataFrame):
        self.docs = docs[["doc_key", "date", "cat", "amount"]].set_index("doc_key")
        self._emits: pd.DataFrame | None = None

    def apply(self, batch: pd.DataFrame) -> None:
        """Upsert the batch's live rows, drop its ``deleted`` rows."""
        batch = batch.set_index("doc_key")
        dead = batch.index[batch["deleted"].astype(bool)]
        live = batch.loc[~batch["deleted"].astype(bool), ["date", "cat", "amount"]]
        docs = self.docs.drop(index=dead.union(live.index), errors="ignore")
        self.docs = pd.concat([docs, live]).sort_index()
        self._emits = None

    def delete_range(self, start: str, end: str) -> int:
        """Delete every doc with an emit in ``[start, end)``; return
        how many docs that was."""
        e = self.emits()
        doomed = e.loc[(e.index_key >= start) & (e.index_key < end), "doc_key"].unique()
        self.docs = self.docs.drop(index=doomed)
        self._emits = None
        return len(doomed)

    def emits(self) -> pd.DataFrame:
        if self._emits is None:
            self._emits = emits(self.docs.reset_index())
        return self._emits

    def get(self, key: str) -> list[int]:
        e = self.emits()
        return e.loc[e.index_key == key, "value"].tolist()

    def scan_count(self, start: str, end: str) -> int:
        e = self.emits()
        return int(((e.index_key >= start) & (e.index_key < end)).sum())

    def group_sum(self, start: str, end: str) -> list[tuple[str, int]]:
        e = self.emits()
        sel = e[(e.index_key >= start) & (e.index_key < end)]
        sums = sel.groupby("index_key")["value"].sum()
        return [(k, int(v)) for k, v in sums.items()]

    def count_by_key(self) -> dict[str, int]:
        return self.emits().groupby("index_key").size().astype(int).to_dict()


def check_equal(what: str, got, want) -> list[str]:
    if got == want:
        return []
    return [f"{what}: got {_short(got)}, want {_short(want)}"]


def _short(x) -> str:
    s = repr(x)
    return s if len(s) <= 200 else s[:200] + "..."


# ---------------------------------------------------------------- BM25


def tokens(text: str | None) -> list[str]:
    if text is None:
        return []
    return [t for t in text.lower().split(" ") if t]


class Corpus:
    """Live documents ``doc_id -> text`` and their BM25 statistics."""

    def __init__(self, docs: pd.DataFrame):
        self.text: dict[int, str] = dict(zip(docs["doc_id"].astype(int), docs["text"]))
        self._stats = None

    def apply(self, batch: pd.DataFrame) -> None:
        for doc_id, text, deleted in zip(batch["doc_id"], batch["text"], batch["deleted"]):
            if deleted:
                self.text.pop(int(doc_id), None)
            else:
                self.text[int(doc_id)] = text
        self._stats = None

    def stats(self):
        if self._stats is None:
            tf = {d: Counter(tokens(t)) for d, t in self.text.items()}
            dl = {d: sum(c.values()) for d, c in tf.items()}
            df = Counter()
            for c in tf.values():
                df.update(c.keys())
            avgdl = sum(dl.values()) / len(dl)
            self._stats = (tf, dl, df, avgdl)
        return self._stats

    def bm25(self, query: str, k1: float = 1.2, b: float = 0.75) -> dict[int, float]:
        """Exact (unrounded) score of every doc holding a query term."""
        tf, dl, df, avgdl = self.stats()
        n = len(self.text)
        terms = sorted(set(tokens(query)))
        scores: dict[int, float] = {}
        for t in terms:
            if not df[t]:
                continue
            idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
            for d, c in tf.items():
                f = c.get(t)
                if f:
                    w = idf * f * (k1 + 1.0) / (f + k1 * (1.0 - b + b * dl[d] / avgdl))
                    scores[d] = scores.get(d, 0.0) + w
        return scores


def topk(scores: dict[int, float], k: int) -> list[tuple[int, float]]:
    ranked = sorted(scores.items(), key=lambda kv: (-round(kv[1], 6), kv[0]))
    return ranked[:k]


def check_topk(what: str, got: list[tuple[int, float]], scores: dict[int, float], k: int) -> list[str]:
    """``got`` must be the top-k of ``scores``: ids equal and scores
    within 1e-6 of the oracle's ranking. Where the oracle has docs
    within 1e-6 of each other at a position, the two rounding rules
    may order them differently, so a swap between such near-ties is
    allowed; any other difference is an error."""
    want = topk(scores, k)
    if len(got) != len(want):
        return [f"{what}: {len(got)} results, want {len(want)}"]
    errs = []
    for pos, ((gd, gs), (wd, ws)) in enumerate(zip(got, want)):
        if gd not in scores:
            errs.append(f"{what}: doc {gd} at {pos} holds no query term")
        elif abs(gs - scores[gd]) > SCORE_TOL:
            errs.append(f"{what}: doc {gd} scored {gs}, want {scores[gd]:.6f}")
        elif gd != wd and abs(scores[gd] - ws) > 2 * SCORE_TOL:
            errs.append(f"{what}: position {pos} holds doc {gd}, want doc {wd}")
    if len({d for d, _ in got}) != len(got):
        errs.append(f"{what}: repeated doc ids {got}")
    return errs


# ------------------------------------------------------------ SemDeDup


def cosine(a: np.ndarray, b: np.ndarray) -> float:
    return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))


def check_semdedup(
    rows: list[tuple[int, int, bool, int | None, float | None]],
    emb: dict[int, np.ndarray],
    exact_dup_of: dict[int, int],
    threshold: float,
) -> list[str]:
    """``rows`` are ``(vec_id, cluster, keep, leader_id, leader_sim)``
    for every stored vector; ``emb`` maps every ingested vec_id to its
    raw embedding."""
    errs = []
    by_id = {r[0]: r for r in rows}
    if len(by_id) != len(rows):
        errs.append(f"semdedup: {len(rows) - len(by_id)} repeated vec_ids")
    missing = sorted(set(emb) - set(by_id))
    extra = sorted(set(by_id) - set(emb))
    if missing:
        errs.append(f"semdedup: {len(missing)} vectors lost, e.g. {missing[:5]}")
    if extra:
        errs.append(f"semdedup: {len(extra)} unknown vec_ids, e.g. {extra[:5]}")
    for vid, cluster, keep, leader, sim in rows:
        if keep:
            if leader is not None:
                errs.append(f"semdedup: kept vector {vid} cites leader {leader}")
            continue
        lead = by_id.get(leader)
        if lead is None:
            errs.append(f"semdedup: duplicate {vid} cites missing leader {leader}")
            continue
        if lead[1] != cluster or not lead[2]:
            errs.append(f"semdedup: duplicate {vid} cites leader {leader} that is not kept in cluster {cluster}")
        if sim is None or sim < threshold:
            errs.append(f"semdedup: duplicate {vid} leader_sim {sim} below {threshold}")
        elif vid in emb and leader in emb:
            true = cosine(emb[vid], emb[leader])
            if abs(sim - true) > SCORE_TOL:
                errs.append(f"semdedup: duplicate {vid} leader_sim {sim}, cosine is {true:.6f}")
    for dup, src in exact_dup_of.items():
        r = by_id.get(dup)
        if r is not None and r[2]:
            errs.append(f"semdedup: exact copy {dup} of {src} was kept")
    return errs
