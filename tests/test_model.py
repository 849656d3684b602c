"""Model-based differential test of the LSM engine.

A seeded random sequence of every mutating/maintenance operation the
engine exposes — build, update (overwrite / tombstone / empty-emit /
re-add), delete_range (bounds and exact-key), full compact, partial
compact (both tiers), tombstone consolidation — is replayed against a
pure-Python dict model (doc -> ordered emit list), asserting after
EVERY step that the index and the model agree on:

- the full live row set (index_key, doc_key, emit_pos, value),
- a random bounded scan ([start, end) on index_key),
- point reads: get() value order ((doc_key, emit_pos) — SURVEY §7.3),
  count(key), get_meta(doc),
- time travel: read(as_of_epoch=e) for every retained model snapshot,
  with snapshots retired exactly per the documented history-horizon
  rules of the three maintenance tiers (compact() full keeps
  snapshots at the fold target; a bounded fold keeps >= hi, plus
  < lo for a suffix fold; compact_tombstones keeps >= the max
  surviving tombstone epoch).

This is the executable spec tying together semantics that the
hand-written tests pin one at a time (reference intent:
index.js:173-249 update, :187-205 tombstones, :218-230 empty emit);
the random interleaving is what catches cross-feature bugs like the
r8 auto-compact-every-batch defect.
"""

import os
import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from level_mapreduce_spark import ExprMapper, MapIndex
from level_mapreduce_spark.engine.index import _delete_path

DOC_POOL = [f"d{i:02d}" for i in range(24)]
KEYS = list("abcdefgh")

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField(
            "kv",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("k", T.StringType()),
                        T.StructField("v", T.LongType()),
                    ]
                )
            ),
        ),
        T.StructField("deleted", T.BooleanType()),
    ]
)


def _mapper() -> ExprMapper:
    return ExprMapper(
        F.transform(
            F.col("kv"),
            lambda p: F.struct(
                p["k"].alias("index_key"), p["v"].alias("value")
            ),
        ),
        value_type=T.LongType(),
    )


def _docs_df(spark, batch):
    """batch: list of (doc_id, emits-or-None). None => deleted doc."""
    rows = [
        (d, [] if kv is None else [(k, v) for k, v in kv], kv is None)
        for d, kv in batch
    ]
    return spark.createDataFrame(rows, DOCS_SCHEMA)


def _flatten(model):
    return {
        (k, d, pos, v)
        for d, emits in model.items()
        for pos, (k, v) in enumerate(emits)
    }


def _collect_rows(df):
    return {
        (r["index_key"], r["doc_key"], r["emit_pos"], r["value"])
        for r in df.select(
            "index_key", "doc_key", "emit_pos", "value"
        ).collect()
    }


def _random_emits(rng):
    # 0..4 pairs; duplicate keys within a doc are legal multi-emits
    return [
        (rng.choice(KEYS), rng.randrange(1000))
        for _ in range(rng.randrange(5))
    ]


def _apply_update(rng, model):
    """Pick a mixed batch of new / overwritten / deleted docs."""
    n = rng.randrange(1, 7)
    batch = []
    for d in rng.sample(DOC_POOL, n):
        if d in model and rng.random() < 0.3:
            batch.append((d, None))  # tombstone
            del model[d]
        else:
            emits = _random_emits(rng)
            batch.append((d, emits))
            if emits:
                model[d] = emits
            else:
                model.pop(d, None)  # empty emit un-indexes
    return batch


def _check_current(rng, idx, model):
    assert _collect_rows(idx.scan()) == _flatten(model)
    lo, hi = sorted(rng.sample(KEYS, 2))
    assert _collect_rows(idx.scan(start=lo, end=hi)) == {
        t for t in _flatten(model) if lo <= t[0] < hi
    }
    key = rng.choice(KEYS)
    expect = [
        v
        for d in sorted(model)
        for k, v in model[d]
        if k == key
    ]
    assert idx.get(key) == expect
    assert [r["value"] for r in idx.get_df(key).collect()] == expect
    assert idx.count(key) == len(expect)
    if model:
        d = rng.choice(sorted(model))
        assert idx.get_meta(d) == [k for k, _ in model[d]]


def _current_epoch(idx):
    """Epoch of the last committed batch = max over segment AND
    tombstone epochs (a pure-delete batch appends no segment epoch;
    engine _next_epoch counts the union for exactly this reason)."""
    s = idx.stats()
    return max(s["epochs"] + s["tombstone_epochs"], default=0)


def _check_history(idx, history):
    for epoch, snap in history:
        assert (
            _collect_rows(idx.read(as_of_epoch=epoch)) == _flatten(snap)
        ), f"as_of_epoch={epoch} diverged from its snapshot"


def _down_mapper() -> ExprMapper:
    """Downstream of the chain: re-key every upstream emit under
    ``by_<key>`` (feed shape = as_documents, reference index.js:244)."""
    return ExprMapper(
        F.transform(
            F.col("value"),
            lambda p: F.struct(
                F.concat(F.lit("by_"), p["index_key"]).alias("index_key"),
                p["value"].alias("value"),
            ),
        ),
        value_type=T.LongType(),
    )


def _down_flatten(model):
    return {
        (f"by_{k}", d, pos, v)
        for d, emits in model.items()
        for pos, (k, v) in enumerate(emits)
    }


# the suite pins three seeds (plain / chained / chained+auto_compact)
# to bound runtime; extended hunts add more via
# LMR_MODEL_SEEDS=100,101,... (all chained+auto — strictly the most
# moving parts: piped replica + inline reentrant folds). The auto
# variant monkeypatches the fold thresholds to 1-byte tombstone
# pressure, so EVERY mutation runs the reentrant _auto_fold →
# compact() path inside update()/delete_range() — the interleaving
# ADVICE r11 (high) flagged as uncovered.
_CASES = [(7, False, False), (23, True, False), (41, True, True)] + [
    (int(s), True, True)
    for s in os.environ.get("LMR_MODEL_SEEDS", "").split(",")
    if s.strip()
]


def test_chained_delete_range_creates_no_scratch(spark, store, monkeypatch):
    """delete_range pins its doomed key set in memory (an eager
    localCheckpoint) and feeds the downstream ``(doc_key, [], false)``
    directly: a chained call — plain, and with 1-byte tombstone
    pressure so the reentrant _auto_fold -> compact() runs inside it —
    writes nothing under either index root but segments/, tombstones/
    and sidecars, and the replica drops exactly the doomed docs."""
    from level_mapreduce_spark.engine import index as index_mod

    idx = MapIndex(spark, "noscratch", _mapper(), store, doc_key="doc_id")
    down = MapIndex(spark, "noscratch_down", _down_mapper(), store)
    idx.pipe(down)
    model = {
        "d1": [("a", 1), ("c", 3)],
        "d2": [("b", 2)],
        "d3": [("c", 4)],
        "d4": [("d", 5)],
    }
    idx.build(_docs_df(spark, list(model.items())), assume_unique=True)

    def check():
        assert _collect_rows(idx.scan()) == _flatten(model)
        assert _collect_rows(down.scan()) == _down_flatten(model)
        for root in (idx.root, down.root):
            assert not os.path.exists(os.path.join(root, "_scratch"))
            dirs = {
                p for p in os.listdir(root)
                if os.path.isdir(os.path.join(root, p))
            }
            assert dirs <= {"segments", "tombstones"}, dirs

    assert idx.delete_range(start="a", end="b") == 1
    del model["d1"]
    check()
    monkeypatch.setattr(index_mod, "TOMBSTONE_BROADCAST_BYTES", 1)
    assert idx.delete_range(key="b") == 1
    del model["d2"]
    assert not idx.stats()["tombstone_epochs"]  # the reentrant fold ran
    check()


def test_full_compact_of_fully_deleted_index_keeps_epoch_numbering(
    spark, store
):
    """Empty-live variant of the epoch-reuse bug: folding a fully-
    tombstoned index to zero rows must still persist the fold-target
    epoch (partitionBy on an empty frame writes no partition dir), so
    the next batch gets a FRESH epoch and retained as_of handles keep
    meaning the deleted state."""
    idx = MapIndex(
        spark, "drained", _mapper(), store,
        doc_key="doc_id", auto_compact=False,
    )
    idx.build(
        _docs_df(spark, [("d1", [("a", 1)]), ("d2", [("b", 2)])]),
        assume_unique=True,
    )
    assert idx.delete_range(start="a") == 2  # tombstone-only top epoch
    drained_epoch = _current_epoch(idx)
    idx.compact()
    assert idx.scan().count() == 0
    assert max(idx.stats()["epochs"]) == drained_epoch
    idx.update(_docs_df(spark, [("d3", [("c", 3)])]))
    assert _current_epoch(idx) == drained_epoch + 1
    assert _collect_rows(idx.read(as_of_epoch=drained_epoch)) == set()
    assert _collect_rows(idx.scan()) == {("c", "d3", 0, 3)}


def _second_handle(spark, store, seed):
    """A separate MapIndex handle on the SAME stored index — the
    'another process's scheduled maintenance' actor (folds are
    lease-serialized across handles, reads need no lease)."""
    return MapIndex(
        spark,
        f"model{seed}",
        _mapper(),
        store,
        doc_key="doc_id",
        auto_compact=False,
    )


@pytest.mark.parametrize("seed,chained,auto", _CASES)
def test_random_ops_match_dict_model(
    spark, store, seed, chained, auto, monkeypatch
):
    from level_mapreduce_spark.engine import index as index_mod
    from level_mapreduce_spark.engine.index import ConcurrentWriterError

    rng = random.Random(seed)
    # r16: the epoch-count tier is either the global constant or the
    # per-handle compact_epochs override (serving families) — the two
    # must be behaviorally identical, so even seeds drive the knob
    # and odd seeds the monkeypatched global
    tier_knob = 4 if (auto and seed % 2 == 0) else None
    if auto:
        # 1-byte tombstone pressure: every mutation that writes a
        # tombstone epoch (all updates; every non-empty delete_range)
        # trips _set_compaction_due and runs the REENTRANT
        # _auto_fold -> compact_tombstones -> compact() chain inside
        # the op itself — for the upstream AND the piped replica
        monkeypatch.setattr(index_mod, "TOMBSTONE_BROADCAST_BYTES", 1)
        if tier_knob is None:
            monkeypatch.setattr(index_mod, "AUTO_COMPACT_EPOCHS", 4)
    idx = MapIndex(
        spark,
        f"model{seed}",
        _mapper(),
        store,
        doc_key="doc_id",
        # auto=False: the test schedules every fold itself (and owns
        # the time-travel horizon bookkeeping); auto=True: folds also
        # happen inline mid-op, reentrant under the op's own lease
        auto_compact=auto,
        compact_epochs=tier_knob,
    )
    down = None
    if chained:
        # the piped replica ALSO runs auto_compact=True, so the random
        # churn exercises _auto_fold's tiering decisions for free
        down = MapIndex(
            spark,
            f"model{seed}_down",
            _down_mapper(),
            store,
            compact_epochs=tier_knob,
        )
        idx.pipe(down)

    model = {}
    batch = _apply_update(rng, model)
    # make the initial build substantial: every pool doc gets a roll
    for d in DOC_POOL:
        if d not in dict(batch):
            emits = _random_emits(rng)
            batch.append((d, emits))
            if emits:
                model[d] = emits
    idx.build(_docs_df(spark, batch), assume_unique=True)
    history = [(_current_epoch(idx), dict(model))]

    ops = ["update"] * 4 + ["delete_range"] * 2 + [
        "update_crash_retry",
        "rebuild",
        "compact_full",
        "compact_newest",
        "compact_newest",
        "compact_oldest",
        "compact_tombstones",
        "second_handle_fold",
        "lease_interference",
    ]
    for step in range(12):
        op = rng.choice(ops)
        epochs = idx.stats()["epochs"]
        if op == "update":
            idx.update(_docs_df(spark, _apply_update(rng, model)))
            history.append((_current_epoch(idx), dict(model)))
        elif op == "update_crash_retry":
            # the documented update() crash window (segment written,
            # tombstones lost) followed by the caller's retry of the
            # SAME batch: the duplicates the crash resurrects must be
            # absorbed by the retry's higher-epoch tombstones — and a
            # piped replica, which sees the feed twice, must stay
            # exactly once-applied
            batch2 = _apply_update(rng, model)
            idx.update(_docs_df(spark, batch2))
            e = _current_epoch(idx)
            _delete_path(
                spark, f"{idx.tombstones_path}/epoch={e}"
            )  # crash residue: the batch's tombstone epoch vanishes
            idx.update(_docs_df(spark, batch2))  # retry
            # the crashed epoch e is now a lie (orphan duplicates) —
            # only the retry's epoch is a valid snapshot point
            history = [(he, s) for he, s in history if he < e]
            history.append((_current_epoch(idx), dict(model)))
        elif op == "rebuild":
            # full rematerialization over an existing index: replaces
            # every epoch, clears tombstones, resets the time-travel
            # horizon (build docstring), and cascades as a downstream
            # REBUILD (incremental == rebuild invariant, FIXTURES A.3)
            model.clear()
            batch2 = _apply_update(rng, model)
            idx.build(_docs_df(spark, batch2), assume_unique=True)
            history = [(_current_epoch(idx), dict(model))]
        elif op == "delete_range":
            if rng.random() < 0.3:
                key = rng.choice(KEYS)
                lo, hi = key, None
                doomed = {
                    d for d, em in model.items() if any(k == key for k, _ in em)
                }
                n = idx.delete_range(key=key)
            else:
                lo, hi = sorted(rng.sample(KEYS, 2))
                doomed = {
                    d
                    for d, em in model.items()
                    if any(lo <= k < hi for k, _ in em)
                }
                n = idx.delete_range(start=lo, end=hi)
            assert n == len(doomed), (lo, hi, n, sorted(doomed))
            for d in doomed:
                del model[d]  # docs die WHOLE (per-doc tombstones)
            if doomed:
                history.append((_current_epoch(idx), dict(model)))
        elif op == "compact_full":
            # a full fold keeps only the current snapshot readable
            hi = _current_epoch(idx)
            idx.compact()
            history = [(e, s) for e, s in history if e >= hi]
        elif op in ("compact_newest", "compact_oldest"):
            if len(epochs) < 2:
                continue
            k = rng.randrange(1, len(epochs))
            tier = op.split("_")[1]
            fold = epochs[:k] if tier == "oldest" else epochs[-k:]
            idx.compact(max_epochs=k, tier=tier)
            lo_e, hi_e = min(fold), max(fold)
            history = [
                (e, s)
                for e, s in history
                if e >= hi_e or (tier == "newest" and e < lo_e)
            ]
        elif op == "second_handle_fold":
            # another process's scheduled full fold lands BETWEEN this
            # handle's ops: a reader handle must see a consistent
            # pre-fold state, the fold must be lease-clean, and THIS
            # handle's next ops must detect the cross-handle fold
            # (stale _seg_bytes_by_epoch cache drop) and re-resolve
            # listings post-swap
            other = _second_handle(spark, store, seed)
            assert _collect_rows(other.scan()) == _flatten(model)
            hi = _current_epoch(idx)
            other.compact()
            history = [(e, s) for e, s in history if e >= hi]
        elif op == "lease_interference":
            # a live writer's fresh-heartbeat lease refuses BOTH a
            # second-handle writer op (single-writer invariant) and a
            # guarded break_lease (liveness proof) — and the refused
            # interference leaves the lease fully usable
            other = _second_handle(spark, store, seed)
            idx._acquire_lease()
            try:
                with pytest.raises(ConcurrentWriterError):
                    other.update(_docs_df(spark, [("d00", [("a", 1)])]))
                with pytest.raises(ConcurrentWriterError):
                    other.break_lease(min_dead_secs=3600.0)
            finally:
                idx._release_lease()
            idx.update(_docs_df(spark, _apply_update(rng, model)))
            history.append((_current_epoch(idx), dict(model)))
        else:  # compact_tombstones
            idx.compact_tombstones()
            tombs = idx.stats()["tombstone_epochs"]
            if tombs:
                # snapshots older than a doc's surviving marker may
                # stop observing its superseded deletes (documented
                # history horizon) — retire them conservatively
                history = [
                    (e, s) for e, s in history if e >= max(tombs)
                ]
        if auto:
            # inline folds can retire older snapshots mid-op; the
            # non-auto variants own the time-travel horizon checks —
            # here keep only the newest snapshot (always valid: every
            # fold tier preserves the fold-target epoch)
            history = history[-1:]
        history = history[-3:]  # bound the per-step re-check cost
        _check_current(rng, idx, model)
        _check_history(idx, history)
        if down is not None:
            # batch-synchronous chaining: the replica is consistent at
            # every mutation boundary (and compactions don't propagate)
            assert _collect_rows(down.scan()) == _down_flatten(model)

    # the model must survive a terminal full fold + reread
    idx.compact()
    _check_current(rng, idx, model)
    if down is not None:
        down.compact()
        assert _collect_rows(down.scan()) == _down_flatten(model)
