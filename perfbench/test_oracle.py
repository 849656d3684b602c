"""Tests of the oracles on inputs small enough to check by hand.

Each oracle must accept the right answer and reject a deliberately
wrong one. Run with ``python3 -m pytest perfbench/test_oracle.py``.
"""

import math
import os
import sys

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import inputs, oracle  # noqa: E402


def kv_state():
    return oracle.KvState(
        pd.DataFrame(
            {
                "doc_key": ["a", "b", "c"],
                "date": ["2024-01-01", "2024-01-02", "2024-01-01"],
                "cat": [1, 1, 2],
                "amount": [10, 20, 30],
            }
        )
    )


def test_kv_answers():
    s = kv_state()
    assert s.get("C#0001") == [10, 20]
    assert s.get("D#2024-01-01") == [10, 30]
    assert s.scan_count("D#2024-01-01", "D#2024-01-02") == 2
    assert s.group_sum("D#", "D#9") == [("D#2024-01-01", 40), ("D#2024-01-02", 20)]
    assert s.count_by_key() == {"C#0001": 2, "C#0002": 1, "D#2024-01-01": 2, "D#2024-01-02": 1}


def test_kv_tombstone_and_overwrite():
    s = kv_state()
    s.apply(
        pd.DataFrame(
            {
                "doc_key": ["a", "b", "d"],
                "date": ["2024-01-01", "2024-01-02", "2024-01-03"],
                "cat": [1, 1, 1],
                "amount": [0, 25, 5],
                "deleted": [True, False, False],
            }
        )
    )
    assert s.get("C#0001") == [25, 5]
    assert oracle.check_equal("get", [25, 5], s.get("C#0001")) == []
    # a value left standing after its tombstone is rejected
    assert oracle.check_equal("get", [10, 25, 5], s.get("C#0001"))
    assert s.delete_range("D#2024-01-02", "D#2024-01-04") == 2
    assert sorted(s.docs.index) == ["c"]
    assert s.get("C#0001") == []


def test_bm25_by_hand():
    c = oracle.Corpus(pd.DataFrame({"doc_id": [1, 2], "text": ["A b", "a a  c"]}))
    # N=2, df(a)=2, dl = 2 and 3, avgdl = 2.5
    idf = math.log(1 + (2 - 2 + 0.5) / (2 + 0.5))
    w1 = idf * 1 * 2.2 / (1 + 1.2 * (0.25 + 0.75 * 2 / 2.5))
    w2 = idf * 2 * 2.2 / (2 + 1.2 * (0.25 + 0.75 * 3 / 2.5))
    scores = c.bm25("a")
    assert scores == {1: w1, 2: w2}
    assert oracle.topk(scores, 1) == [(2, w2)]
    good = [(2, round(w2, 6)), (1, round(w1, 6))]
    assert oracle.check_topk("q", good, scores, 2) == []
    # a mis-scored document is rejected
    assert oracle.check_topk("q", [(2, round(w2, 6)), (1, round(w1, 6) + 0.01)], scores, 2)
    # so is a wrong order or a short list
    assert oracle.check_topk("q", good[::-1], scores, 2)
    assert oracle.check_topk("q", good[:1], scores, 2)


def test_bm25_follows_changes():
    c = oracle.Corpus(pd.DataFrame({"doc_id": [1, 2], "text": ["a", "b"]}))
    c.apply(pd.DataFrame({"doc_id": [1, 3], "text": ["", "a a"], "deleted": [True, False]}))
    assert set(c.bm25("a")) == {3}


def semdedup_case():
    emb = {0: np.array([1.0, 0.0]), 1: np.array([1.0, 0.0]), 2: np.array([0.0, 1.0]), 3: np.array([1.0, 0.1])}
    rows = [
        (0, 0, True, None, None),
        (1, 0, False, 0, 1.0),
        (2, 1, True, None, None),
        (3, 0, False, 0, round(oracle.cosine(emb[3], emb[0]), 6)),
    ]
    return rows, emb, {1: 0}


def test_semdedup_accepts_right_answer():
    rows, emb, exact = semdedup_case()
    assert oracle.check_semdedup(rows, emb, exact, 0.95) == []


def test_semdedup_rejects_wrong_answers():
    rows, emb, exact = semdedup_case()
    # a wrongly dropped vector
    assert oracle.check_semdedup(rows[:2] + rows[3:], emb, exact, 0.95)
    # an exact copy kept
    kept = [(1, 0, True, None, None) if r[0] == 1 else r for r in rows]
    assert oracle.check_semdedup(kept, emb, exact, 0.95)
    # a leader_sim that is not the true cosine
    off = [(3, 0, False, 0, 0.96) if r[0] == 3 else r for r in rows]
    assert oracle.check_semdedup(off, emb, exact, 0.95)
    # a leader in another cluster
    moved = [(3, 1, False, 0, r[4]) if r[0] == 3 else r for r in rows]
    assert oracle.check_semdedup(moved, emb, exact, 0.95)


def test_inputs_repeat_per_seed():
    assert inputs.digest([inputs.kv_docs(3), inputs.kv_batch(3, 0)]) == inputs.digest(
        [inputs.kv_docs(3), inputs.kv_batch(3, 0)]
    )
    assert inputs.digest([inputs.kv_docs(3)]) != inputs.digest([inputs.kv_docs(4)])
    v = inputs.llm_vectors(5)
    for dup, src in v.exact_dup_of.items():
        assert np.array_equal(v.emb[dup], v.emb[src])
    for dup, src in v.near_dup_of.items():
        assert oracle.cosine(v.emb[dup], v.emb[src]) > 0.99
