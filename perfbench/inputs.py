"""Seeded benchmark inputs, made with numpy alone (no Spark).

Every input of a run derives from ``--seed``: the same seed gives the
same documents, change batches, queries and vectors, byte for byte.
The program under test sees only the pandas frames built here.
:func:`digest` hashes them so two runs can show they shared inputs.

Sizes and laws (recorded in README.md, keep the two in step):

- kv documents: ``KV_DOCS`` docs, each with a date (uniform over
  ``KV_DAYS`` days from 2024-01-01), a Zipf(``CAT_ZIPF``) category
  folded into ``KV_CATS`` (a few hot keys, a long tail) and an
  integer amount. The index emits two keys per doc.
- kv change batches: ``KV_BATCH`` distinct docs drawn uniformly from
  the whole key space; ``KV_DELETE_FRAC`` of them are deletes, the
  rest upserts (new amount; ``KV_MOVE_FRAC`` of them also move to a
  new date and category). Upserting a deleted doc re-inserts it.
- corpus: ``LLM_DOCS`` docs of 10-39 tokens over a Zipf(``VOCAB_ZIPF``)
  vocabulary of ``VOCAB`` words.
- vectors: ``LLM_VECS`` 64-d Gaussian vectors; ``NEAR_DUP_FRAC`` of
  them are near-duplicates (relative noise ``NEAR_DUP_NOISE``) and
  ``EXACT_DUP_FRAC`` exact copies of an earlier vector.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

KV_DOCS = 20_000
KV_DAYS = 365
KV_CATS = 2_000
CAT_ZIPF = 1.2
KV_BATCH = 200
KV_DELETE_FRAC = 0.25
KV_MOVE_FRAC = 0.3
KV_MAX_ROUNDS = 8

LLM_DOCS = 2_000
VOCAB = 20_000
VOCAB_ZIPF = 1.1
LLM_VECS = 2_000
DIM = 64
NEAR_DUP_FRAC = 0.03
EXACT_DUP_FRAC = 0.01
NEAR_DUP_NOISE = 0.05
LLM_BATCH_DOCS = 20
LLM_BATCH_NEW_DOCS = 3
LLM_BATCH_DELETES = 3
LLM_BATCH_VECS = 20
LLM_BATCH_EXACT_DUPS = 3
LLM_BATCH_NEAR_DUPS = 3
BM25_BATCH_QUERIES = 16
LLM_MAX_ROUNDS = 8

BASE_DATE = np.datetime64("2024-01-01")


def _rng(seed: int, *stream: int) -> np.random.Generator:
    """Independent stream per (seed, purpose, index): adding a round
    never changes the inputs of an earlier one."""
    return np.random.default_rng([seed, *stream])


def date_str(day: int) -> str:
    return str(BASE_DATE + np.timedelta64(int(day), "D"))


def _zipf_ranks(rng: np.random.Generator, a: float, n: int, size: int) -> np.ndarray:
    """Zipf(a) ranks folded into ``[0, size)``: the tail beyond
    ``size`` wraps around instead of piling onto the last rank."""
    return (rng.zipf(a, n) - 1) % size


def _categories(rng: np.random.Generator, n: int) -> np.ndarray:
    return (_zipf_ranks(rng, CAT_ZIPF, n, KV_CATS) + 1).astype("int32")


def _kv_base(seed: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The initial docs' days, categories and amounts."""
    rng = _rng(seed, 1)
    days = rng.integers(0, KV_DAYS, KV_DOCS)
    cats = _categories(rng, KV_DOCS)
    return days, cats, rng.integers(1, 10_000, KV_DOCS).astype("int64")


def kv_docs(seed: int) -> pd.DataFrame:
    days, cats, amounts = _kv_base(seed)
    return pd.DataFrame(
        {
            "doc_key": [f"d{i:06d}" for i in range(KV_DOCS)],
            "date": [date_str(d) for d in days],
            "cat": cats,
            "amount": amounts,
        }
    )


def kv_batch(seed: int, b: int) -> pd.DataFrame:
    """Change batch ``b``: upserts and deletes over distinct doc keys,
    columns ``doc_key, date, cat, amount, deleted``. An upsert that
    does not move keeps the doc's initial date and category."""
    rng = _rng(seed, 2, b)
    ids = np.sort(rng.choice(KV_DOCS, KV_BATCH, replace=False))
    deleted = rng.random(KV_BATCH) < KV_DELETE_FRAC
    move = rng.random(KV_BATCH) < KV_MOVE_FRAC
    base_days, base_cats, _ = _kv_base(seed)
    days = np.where(move, rng.integers(0, KV_DAYS, KV_BATCH), base_days[ids])
    cats = np.where(move, _categories(rng, KV_BATCH), base_cats[ids])
    return pd.DataFrame(
        {
            "doc_key": [f"d{i:06d}" for i in ids],
            "date": [date_str(d) for d in days],
            "cat": cats.astype("int32"),
            "amount": rng.integers(1, 10_000, KV_BATCH).astype("int64"),
            "deleted": deleted,
        }
    )


def kv_read_round(seed: int, r: int) -> list[tuple]:
    """One round's read mix in seeded order: a get of a category key
    drawn by the Zipf law (hot keys are asked for most), a get of one
    drawn uniformly (the long tail), a scan of 7 days and a group of
    14 days of date keys. Every seed gets the same shape of mix."""
    rng = _rng(seed, 3, r)
    ops: list[tuple] = [
        ("get", f"C#{int(_categories(rng, 1)[0]):04d}"),
        ("get", f"C#{int(rng.integers(1, KV_CATS + 1)):04d}"),
    ]
    for span, kind in ((7, "scan"), (14, "group")):
        d = int(rng.integers(0, KV_DAYS - span))
        ops.append((kind, f"D#{date_str(d)}", f"D#{date_str(d + span)}"))
    order = rng.permutation(len(ops))
    return [ops[i] for i in order]


def kv_delete_range(seed: int, r: int) -> tuple[str, str]:
    """One day's date keys: the round's ``delete_range`` bounds."""
    d = int(_rng(seed, 4, r).integers(0, KV_DAYS - 1))
    return f"D#{date_str(d)}", f"D#{date_str(d + 1)}"


# ------------------------------------------------------------- corpus


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    out = []
    for length in rng.integers(10, 40, n):
        ids = _zipf_ranks(rng, VOCAB_ZIPF, length, VOCAB)
        out.append(" ".join(f"w{i}" for i in ids))
    return out


def llm_docs(seed: int) -> pd.DataFrame:
    rng = _rng(seed, 10)
    return pd.DataFrame(
        {
            "doc_id": np.arange(LLM_DOCS, dtype="int64"),
            "text": _texts(rng, LLM_DOCS),
        }
    )


def llm_doc_batch(seed: int, b: int) -> pd.DataFrame:
    """Corpus change batch ``b``: overwrites of existing docs, a few
    deletes and a few new doc ids (``doc_id, text, deleted``)."""
    rng = _rng(seed, 11, b)
    n_old = LLM_BATCH_DOCS - LLM_BATCH_NEW_DOCS
    old = np.sort(rng.choice(LLM_DOCS, n_old, replace=False))
    new = LLM_DOCS + b * LLM_BATCH_NEW_DOCS + np.arange(LLM_BATCH_NEW_DOCS)
    ids = np.concatenate([old, new]).astype("int64")
    deleted = np.zeros(len(ids), dtype=bool)
    deleted[rng.choice(n_old, LLM_BATCH_DELETES, replace=False)] = True
    return pd.DataFrame(
        {"doc_id": ids, "text": _texts(rng, len(ids)), "deleted": deleted}
    )


def bm25_queries(seed: int, r: int, n: int) -> list[str]:
    """``n`` two-term queries: one term drawn by the corpus' Zipf law
    (popular), one uniformly from the vocabulary (mostly rare)."""
    rng = _rng(seed, 12, r, n)
    head = _zipf_ranks(rng, VOCAB_ZIPF, n, VOCAB)
    tail = rng.integers(0, VOCAB, n)
    return [f"w{h} w{t}" for h, t in zip(head, tail)]


@dataclass
class Vectors:
    """Vectors plus the injected-duplicate ground truth."""

    ids: np.ndarray
    emb: np.ndarray
    exact_dup_of: dict[int, int] = field(default_factory=dict)
    near_dup_of: dict[int, int] = field(default_factory=dict)

    def frame(self) -> pd.DataFrame:
        return pd.DataFrame(
            {"vec_id": self.ids.astype("int64"), "embedding": list(self.emb)}
        )


def _perturb(rng: np.random.Generator, v: np.ndarray) -> np.ndarray:
    noise = rng.standard_normal(v.shape)
    return v + NEAR_DUP_NOISE * np.linalg.norm(v) * noise / np.linalg.norm(noise)


def llm_vectors(seed: int) -> Vectors:
    rng = _rng(seed, 13)
    emb = rng.standard_normal((LLM_VECS, DIM))
    ids = np.arange(LLM_VECS, dtype="int64")
    out = Vectors(ids, emb)
    n_near = int(LLM_VECS * NEAR_DUP_FRAC)
    n_exact = int(LLM_VECS * EXACT_DUP_FRAC)
    # duplicates sit in the upper half and copy the lower half, so a
    # source is never itself a planted duplicate
    dups = rng.choice(np.arange(LLM_VECS // 2, LLM_VECS), n_near + n_exact, replace=False)
    srcs = rng.integers(0, LLM_VECS // 2, n_near + n_exact)
    for i, (d, s) in enumerate(zip(dups, srcs)):
        if i < n_exact:
            emb[d] = emb[s]
            out.exact_dup_of[int(d)] = int(s)
        else:
            emb[d] = _perturb(rng, emb[s])
            out.near_dup_of[int(d)] = int(s)
    return out


def llm_vector_batch(seed: int, b: int, base: np.ndarray) -> Vectors:
    """Ingest batch ``b`` of new vector ids: fresh vectors plus exact
    and near copies of build-time vectors ``base`` below the
    planted-dup half."""
    rng = _rng(seed, 14, b)
    ids = LLM_VECS + b * LLM_BATCH_VECS + np.arange(LLM_BATCH_VECS)
    emb = rng.standard_normal((LLM_BATCH_VECS, DIM))
    out = Vectors(ids.astype("int64"), emb)
    srcs = rng.integers(0, LLM_VECS // 2, LLM_BATCH_EXACT_DUPS + LLM_BATCH_NEAR_DUPS)
    for i, s in enumerate(srcs):
        vid = int(ids[i])
        if i < LLM_BATCH_EXACT_DUPS:
            emb[i] = base[s]
            out.exact_dup_of[vid] = int(s)
        else:
            emb[i] = _perturb(rng, base[s])
            out.near_dup_of[vid] = int(s)
    return out


# ------------------------------------------------------------- digest


def digest(parts: list) -> str:
    """sha256 (first 16 hex digits) over the canonical bytes of frames,
    arrays and plain values, in order."""
    h = hashlib.sha256()
    for p in parts:
        if isinstance(p, pd.DataFrame):
            h.update(pd.util.hash_pandas_object(p, index=False).values.tobytes())
            h.update(",".join(p.columns).encode())
        elif isinstance(p, np.ndarray):
            h.update(np.ascontiguousarray(p).tobytes())
        else:
            h.update(repr(p).encode())
    return h.hexdigest()[:16]
