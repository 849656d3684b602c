"""Durability / convergence properties of the LSM maintenance scheme:
crash-window safety of compact(), replayed-batch idempotence, and a
property-based incremental==rebuild check under random churn.
"""

import json
import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from level_mapreduce_spark import ExprMapper, MapIndex


def kv_index(spark, store, name):
    mapper = ExprMapper.of((F.col("k"), F.col("v")), value_type=T.DoubleType())
    return MapIndex(spark, name, mapper, store)


def kv_df(spark, rows):
    schema = (
        "doc_key string, k string, v double, deleted boolean, seq long"
    )
    return spark.createDataFrame(
        [
            (r["doc_key"], r.get("k"), r.get("v"), r.get("deleted", False), i)
            for i, r in enumerate(rows)
        ],
        schema,
    )


def live_rows(idx):
    return sorted(
        (r["doc_key"], r["index_key"], r["value"])
        for r in idx.read().collect()
    )


def test_stale_tombstones_after_compact_are_harmless(spark, store):
    """Simulates the compact() crash window ADVICE r2 flagged: the
    segment commit completed but tombstone cleanup did not. Because the
    folded segment keeps epoch=max (>= every stale tomb_epoch), the
    leftover tombstones cannot kill compacted rows."""
    idx = kv_index(spark, store, "crash")
    idx.build(kv_df(spark, [{"doc_key": f"d{i}", "k": "a", "v": float(i)} for i in range(6)]))
    idx.update(kv_df(spark, [{"doc_key": "d0", "k": "a", "v": 100.0}]))
    idx.update(kv_df(spark, [{"doc_key": "d1", "k": "a", "v": 200.0}]))
    before = live_rows(idx)

    # snapshot the tombstone dir, compact, then restore the snapshot —
    # exactly the state a crash between the two final steps leaves
    import shutil

    tomb_bak = store + "/tomb_bak"
    shutil.copytree(idx.tombstones_path, tomb_bak)
    idx.compact()
    # the fold's dead-tombstone sweep empties the tombstone root but
    # leaves the directory itself in place
    shutil.copytree(tomb_bak, idx.tombstones_path, dirs_exist_ok=True)
    idx._tomb_bytes_cache = None

    assert live_rows(idx) == before
    # and the NEXT update still behaves (epochs continue past max)
    idx.update(kv_df(spark, [{"doc_key": "d2", "k": "a", "v": 300.0}]))
    want = [r for r in before if r[0] != "d2"] + [("d2", "a", 300.0)]
    assert live_rows(idx) == sorted(want)


def test_replayed_update_batch_converges(spark, store):
    """foreachBatch retry semantics: re-running the same changes batch
    (same content, new epoch) must not duplicate emits — the replay's
    tombstones supersede the first attempt."""
    idx = kv_index(spark, store, "replay")
    idx.build(kv_df(spark, [{"doc_key": "d1", "k": "a", "v": 1.0}]))
    batch = [{"doc_key": "d1", "k": "a", "v": 2.0}, {"doc_key": "d2", "k": "b", "v": 3.0}]
    idx.update(kv_df(spark, batch))
    first = live_rows(idx)
    idx.update(kv_df(spark, batch))  # the replay
    assert live_rows(idx) == first
    assert idx.count() == 2


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_incremental_equals_rebuild_property(spark, tmp_path_factory, data):
    """Property: ANY churn sequence applied via update() epochs equals a
    from-scratch build() of the final document state (FIXTURES.md A.3,
    generalizing the reference overwrite tests)."""
    store = str(tmp_path_factory.mktemp("hyp"))
    n_docs = 6
    ops = data.draw(
        st.lists(
            st.tuples(
                st.integers(0, n_docs - 1),  # doc
                st.sampled_from(["set", "del"]),
                st.integers(0, 99),  # value
            ),
            min_size=1,
            max_size=10,
        )
    )
    state = {}
    idx = kv_index(spark, store, "hyp")
    # a piped downstream re-keying every emit — the chained feed must
    # converge under the same arbitrary churn (reference pipe semantics)
    down_mapper = ExprMapper(
        F.transform(
            F.col("value"),
            lambda p: F.struct(
                F.concat(F.lit("by_"), p["index_key"]).alias("index_key"),
                p["value"].alias("value"),
            ),
        ),
        value_type=T.DoubleType(),
    )
    down = MapIndex(spark, "hyp_down", down_mapper, store)
    idx.pipe(down)
    idx.build(spark.createDataFrame([], "doc_key string, k string, v double, deleted boolean, seq long"))
    # apply in chunks of up to 3 ops per epoch
    for i in range(0, len(ops), 3):
        chunk = ops[i : i + 3]
        rows = []
        for doc, op, val in chunk:
            if op == "set":
                rows.append({"doc_key": f"d{doc}", "k": "x", "v": float(val)})
                state[f"d{doc}"] = float(val)
            else:
                rows.append({"doc_key": f"d{doc}", "deleted": True})
                state.pop(f"d{doc}", None)
        idx.update(kv_df(spark, rows))

    rebuilt = kv_index(spark, store, "hyp_rebuild")
    rebuilt.build(
        kv_df(
            spark,
            [{"doc_key": dk, "k": "x", "v": v} for dk, v in state.items()],
        )
    )
    assert live_rows(idx) == live_rows(rebuilt)
    # downstream state: one ("by_x", v) emit per live doc
    assert live_rows(down) == sorted(
        (dk, "by_x", v) for dk, v in state.items()
    )


def test_update_crash_before_tombstones_recovers_on_retry(spark, store):
    """The documented update() crash window: segment written, tombstone
    write lost. Old+new emits are both visible (recoverable duplicates,
    never data loss); retrying the same batch supersedes both."""
    import shutil

    from level_mapreduce_spark.engine.index import _list_epochs

    idx = kv_index(spark, store, "crash2")
    idx.build(kv_df(spark, [{"doc_key": "d1", "k": "a", "v": 1.0}]))
    tomb_bak = store + "/tomb_bak2"
    idx.update(kv_df(spark, [{"doc_key": "d1", "k": "a", "v": 2.0}]))
    # simulate the crash: drop the tombstone epoch the update just wrote
    last = max(_list_epochs(spark, idx.tombstones_path))
    shutil.rmtree(os.path.join(idx.tombstones_path, f"epoch={last}"))
    idx._tomb_bytes_cache = None
    # duplicates visible (old 1.0 + new 2.0) — degraded but lossless
    assert sorted(r["value"] for r in idx.read().collect()) == [1.0, 2.0]
    # retry the batch: higher-epoch tombstones kill both prior versions
    idx.update(kv_df(spark, [{"doc_key": "d1", "k": "a", "v": 2.0}]))
    assert [r["value"] for r in idx.read().collect()] == [2.0]


def test_writer_lease_excludes_second_writer(spark, store):
    """Single-writer enforcement: while one handle holds the writer
    lease, a second handle's update()/compact() raises
    ConcurrentWriterError and the stored data is untouched; after
    release (or break_lease on a dead holder) the second writer
    proceeds cleanly."""
    from level_mapreduce_spark.engine.index import ConcurrentWriterError

    a = kv_index(spark, store, "leased")
    a.build(
        kv_df(spark, [{"doc_key": "d1", "k": "a", "v": 1.0},
                      {"doc_key": "d2", "k": "b", "v": 2.0}]),
        assume_unique=True,
    )
    before = live_rows(a)

    b = kv_index(spark, store, "leased")
    batch = kv_df(spark, [{"doc_key": "d1", "k": "a", "v": 9.0}])

    # simulate writer A mid-mutation (deterministic stand-in for the
    # thread race: the lease file is what any interleaving reduces to)
    a._acquire_lease()
    try:
        for op in (lambda: b.update(batch, assume_unique=True), b.compact):
            try:
                op()
                raise AssertionError("second writer was not excluded")
            except ConcurrentWriterError as e:
                assert "another writer" in str(e)
        assert live_rows(b) == before  # loser changed nothing
        # reentrancy: the HOLDER may still nest mutations (update ->
        # auto compact takes the lease twice on one handle)...
        a.update(batch, assume_unique=True)
        a.compact()
        # ...but only on the SAME thread — a second thread sharing the
        # handle is a concurrent writer, not a nested call
        import threading

        outcomes = []

        def other_thread():
            try:
                a.compact()
                outcomes.append("not-excluded")
            except ConcurrentWriterError:
                outcomes.append("excluded")
            except Exception as e:  # noqa: BLE001 — must be visible
                outcomes.append(f"wrong-error:{type(e).__name__}")

        t = threading.Thread(target=other_thread)
        t.start()
        t.join()
        assert outcomes == ["excluded"]
    finally:
        a._release_lease()

    # lease released -> second handle writes cleanly
    b.update(
        kv_df(spark, [{"doc_key": "d2", "k": "b", "v": 5.0}]),
        assume_unique=True,
    )
    assert ("d2", "b", 5.0) in live_rows(b)

    # orphaned lock (holder died between acquire and release):
    # break_lease clears it and the survivor proceeds
    a._acquire_lease()
    a._lease_depth = 0          # "crash": lock file left behind
    try:
        b.compact()
        raise AssertionError("orphaned lock did not exclude")
    except ConcurrentWriterError:
        pass
    assert b.break_lease() is True
    b.compact()
    assert ("d2", "b", 5.0) in live_rows(b)


def test_sidecar_replace_atomic_and_crash_tolerant(spark, store):
    """Sidecar replace crash-tolerance (r11 contract — unique staging
    names + age-guarded orphan sweep): overwrites round-trip, a stale
    .tmp left by a crashed writer neither corrupts reads nor blocks
    the next put, the OLD value stays readable while a .tmp is staged,
    a FRESH .tmp (a possibly-live concurrent writer) is never swept,
    and an AGED one is removed by the next put of the same sidecar.
    (The no-missing-state window is covered by the concurrent-rewrite
    stress test; see put_sidecar.)"""
    import os
    import time as _t

    idx = kv_index(spark, store, "sc_atomic")
    idx.put_sidecar({"gen": 1})
    assert idx.get_sidecar() == {"gen": 1}

    # simulate a writer that crashed after staging .tmp but before the
    # rename: the destination still serves the old value...
    dst = os.path.join(idx.root, "meta.json")
    fresh_tmp = dst + ".tmp.deadbeef"
    with open(fresh_tmp, "w") as f:
        f.write('{"gen": 99}')
    assert idx.get_sidecar() == {"gen": 1}
    # ...the next put lands cleanly and leaves the FRESH tmp alone
    # (its age is within the TTL — it could be a live writer's)
    idx.put_sidecar({"gen": 2})
    assert idx.get_sidecar() == {"gen": 2}
    assert os.path.exists(fresh_tmp), (
        "a within-TTL staging file must never be swept"
    )
    # backdate it past the TTL: the next put sweeps the orphan
    from level_mapreduce_spark.engine.index import _SIDECAR_TMP_TTL_SECS

    old = _t.time() - _SIDECAR_TMP_TTL_SECS - 5
    os.utime(fresh_tmp, (old, old))
    idx.put_sidecar({"gen": 3})
    assert idx.get_sidecar() == {"gen": 3}
    assert not os.path.exists(fresh_tmp), (
        "an aged orphan staging file must be swept by the next put"
    )


def test_lease_heartbeat_and_age_observability(spark, store, monkeypatch):
    """VERDICT r8 #7 / r10 redesign: while a mutation runs, the holder
    stamps the SEPARATE writer.hb every LEASE_HEARTBEAT_SECS — the
    lock file itself is IMMUTABLE for the lease's lifetime (rewriting
    it was a vanish window on object stores where rename is
    copy+delete: a concurrent acquirer could win a second lease under
    a live writer). A LIVE writer's heartbeat keeps advancing
    (bounded age) while a DEAD holder's freezes and its age grows —
    the evidence a break_lease decision needs. list_indexes surfaces
    both ages and ignores an hb whose writer_id mismatches the
    lock."""
    import time

    from level_mapreduce_spark import list_indexes
    from level_mapreduce_spark.engine import index as index_mod

    monkeypatch.setattr(index_mod, "LEASE_HEARTBEAT_SECS", 0.2)
    idx = kv_index(spark, store, "hb")
    idx.build(
        kv_df(spark, [{"doc_key": "d1", "k": "a", "v": 1.0}]),
        assume_unique=True,
    )
    def wait_for(pred, timeout=30.0):
        # poll with a deadline: fixed sleeps flake when a loaded box
        # starves the heartbeat thread's py4j FS calls
        deadline = time.time() + timeout
        while time.time() < deadline:
            got = pred()
            if got is not None:
                return got
            time.sleep(0.1)
        raise AssertionError("condition not reached within deadline")

    idx._acquire_lease()  # long-running mutation stand-in
    try:
        lock0 = idx._read_lock()
        assert lock0["writer_id"] == idx._writer_id

        def hb_now():
            # writer.hb is rewritten per tick; tolerate a read landing
            # inside its tmp+rename swap (None mid-swap is fine — the
            # LOCK never vanishes, only the advisory hb can)
            try:
                cur = idx.get_sidecar(name="writer.hb")
            except Exception:
                return None
            if cur is None or cur.get("writer_id") != idx._writer_id:
                return None
            return cur.get("heartbeat_unix")

        hb1 = wait_for(hb_now)
        assert hb1 >= lock0["acquired_unix"]
        # the LOCK is immutable while the lease is held: the heartbeat
        # must not have rewritten it (same acquired stamp, no hb field)
        lock_again = idx._read_lock()
        assert lock_again == lock0, "writer.lock must never be rewritten"
        ent = {d["name"]: d for d in list_indexes(spark, store)}["hb"]
        assert ent["lease_held"] is True
        assert ent["lease_age_secs"] is not None
        assert ent["lease_heartbeat_age_secs"] is not None
        assert ent["lease_heartbeat_age_secs"] <= ent["lease_age_secs"]
        # live holder: heartbeat still advancing (int-second stamp, so
        # wait for a strictly larger value)
        wait_for(lambda: True if (hb_now() or 0) > hb1 else None)
        # dead holder: heartbeat stops, wall clock moves on — age grows
        idx._lease_hb_stop.set()
        idx._lease_hb_thread.join(timeout=30)
        frozen = wait_for(hb_now)
        time.sleep(2.5)
        assert wait_for(hb_now) == frozen
    finally:
        idx._release_lease()
    cat = {d["name"]: d for d in list_indexes(spark, store)}
    assert cat["hb"]["lease_held"] is False
    assert cat["hb"]["lease_age_secs"] is None
    # release cleans the advisory hb file alongside the lock
    assert idx.get_sidecar(name="writer.hb") is None


def test_release_refuses_foreign_lock(spark, store):
    """ADVICE r8: after an operator break_lease()s a slow-but-LIVE
    writer and a second writer acquires, the first writer's release
    must NOT delete the second writer's lock (that would readmit a
    third concurrent writer) — it raises, and the successor's lease
    survives until its own clean release."""
    from level_mapreduce_spark.engine.index import ConcurrentWriterError

    a = kv_index(spark, store, "steal")
    a.build(
        kv_df(spark, [{"doc_key": "d1", "k": "a", "v": 1.0}]),
        assume_unique=True,
    )
    b = kv_index(spark, store, "steal")
    a._acquire_lease()
    # operator wrongly breaks the LIVE holder's lease; b acquires
    assert b.break_lease() is True
    b._acquire_lease()
    try:
        try:
            a._release_lease()
            raise AssertionError("release deleted a foreign lock silently")
        except ConcurrentWriterError as e:
            assert "broken and re-acquired" in str(e)
        lock = b._read_lock()
        assert lock is not None and lock["writer_id"] == b._writer_id
    finally:
        b._release_lease()
    assert b._read_lock() is None


def test_acquire_readback_detects_lost_race(spark, store):
    """On stores whose create-if-absent is NOT atomic (S3A without
    conditional put, RawLocalFileSystem), two writers can both pass
    create(); the post-create read-back then shows ONE surviving
    writer_id and the loser must back off without considering itself
    the holder (and without deleting the winner's lock)."""
    from level_mapreduce_spark.engine.index import ConcurrentWriterError

    a = kv_index(spark, store, "race")
    # local stores take the O_EXCL conditional path where this race is
    # impossible — force the best-effort fallback to exercise its
    # read-back detector
    a._create_lock_conditional = lambda *args, **kw: False
    # simulate losing the race: the read-back sees the other writer
    a._read_lock = lambda raise_errors=False: {"writer_id": "someone-else"}
    try:
        a._acquire_lease()
        raise AssertionError("lost create race not detected")
    except ConcurrentWriterError as e:
        assert "race" in str(e)
    assert a._lease_depth == 0 and a._lease_thread is None
    del a._read_lock
    del a._create_lock_conditional
    # the surviving lock belongs to "the winner" — operator clears it
    assert a.break_lease() is True


def test_lease_conditional_create_single_winner(spark, store):
    """VERDICT r9 #6: on the conditional path (POSIX O_EXCL for local
    stores) a simulated double-create — N handles racing through a
    barrier — admits EXACTLY one winner; every loser raises
    ConcurrentWriterError without damaging the winner's lock, and
    after the winner releases, a loser can acquire."""
    import threading

    from level_mapreduce_spark.engine.index import ConcurrentWriterError

    handles = [kv_index(spark, store, "cond_race") for _ in range(6)]
    results: dict[int, str] = {}
    barrier = threading.Barrier(len(handles))

    def go(i, h):
        barrier.wait()
        try:
            h._acquire_lease()
            results[i] = "won"
        except ConcurrentWriterError:
            results[i] = "lost"

    threads = [
        threading.Thread(target=go, args=(i, h))
        for i, h in enumerate(handles)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(60)
    wins = [i for i, r in results.items() if r == "won"]
    assert len(results) == len(handles)
    assert len(wins) == 1, results
    winner = handles[wins[0]]
    # the surviving lock is the winner's
    lock = winner._read_lock()
    assert lock is not None and lock["writer_id"] == winner._writer_id
    # losers backed off cleanly: no depth, no heartbeat thread
    for i, h in enumerate(handles):
        if i != wins[0]:
            assert h._lease_depth == 0 and h._lease_thread is None
    winner._release_lease()
    assert winner._read_lock() is None
    # the namespace is reusable after release
    loser = handles[(wins[0] + 1) % len(handles)]
    loser._acquire_lease()
    try:
        assert loser._read_lock()["writer_id"] == loser._writer_id
    finally:
        loser._release_lease()


def test_conditional_close_failure_spares_winner_lock(spark, store):
    """A close-time failure on the ASSERTED-conditional path (S3
    If-None-Match 412, GCS generation mismatch) is the store's normal
    lost-race signal — the object that now exists is the WINNER's
    lock, so the loser must back off with ConcurrentWriterError
    WITHOUT deleting it (a blind delete would destroy a live writer's
    lease and readmit the double-writer). Only a lock that reads back
    as our own writer_id — a failure after the object committed — may
    be cleaned up, and then the original error surfaces."""
    from level_mapreduce_spark.engine.index import ConcurrentWriterError

    a = kv_index(spark, store, "cond_close")

    class FakeUri:
        def getScheme(self):
            return "s3a"

    class FakeHPath:
        def toUri(self):
            return FakeUri()

    class FakeOut:
        def write(self, b):
            raise RuntimeError(
                "PreconditionFailed: At least one of the preconditions "
                "you specified did not hold (Status Code: 412)"
            )

        def close(self):
            pass

    deleted = []

    class FakeFs:
        def create(self, p, overwrite):
            assert overwrite is False
            return FakeOut()

        def delete(self, p, recursive):
            deleted.append(p)
            return True

    spark.conf.set("spark.lmr.lease.conditionalCreate", "true")
    a._read_lock = lambda raise_errors=False: {"writer_id": "the-winner"}
    try:
        try:
            a._create_lock_conditional(FakeFs(), FakeHPath(), b"{}")
            raise AssertionError("close-time 412 not mapped to lost race")
        except ConcurrentWriterError:
            pass
        assert deleted == [], "loser deleted the winner's live lock"
        # failure AFTER the object committed (reads back as ours):
        # clean up our own lock, surface the original error
        a._read_lock = lambda raise_errors=False: {
            "writer_id": a._writer_id
        }
        try:
            a._create_lock_conditional(FakeFs(), FakeHPath(), b"{}")
            raise AssertionError("post-commit failure swallowed")
        except RuntimeError as e:
            assert "PreconditionFailed" in str(e)
        assert len(deleted) == 1, "own committed lock not cleaned up"
    finally:
        spark.conf.unset("spark.lmr.lease.conditionalCreate")
        del a._read_lock


def _epochs(idx):
    from level_mapreduce_spark.engine.index import _list_epochs

    return _list_epochs(idx.spark, idx.segments_path)


def _tomb_epochs(idx):
    from level_mapreduce_spark.engine.index import _list_epochs

    return _list_epochs(idx.spark, idx.tombstones_path)


def _churned_index(spark, store, name, n_docs=8, n_batches=6):
    """base build + n_batches single-doc updates (one epoch each),
    compaction deferred. Returns (idx, expected_live_rows)."""
    idx = kv_index(spark, store, name)
    idx.auto_compact = False
    idx.build(
        kv_df(
            spark,
            [
                {"doc_key": f"d{i}", "k": chr(97 + i % 3), "v": float(i)}
                for i in range(n_docs)
            ],
        ),
        assume_unique=True,
    )
    expected = {
        f"d{i}": (chr(97 + i % 3), float(i)) for i in range(n_docs)
    }
    for b in range(1, n_batches + 1):
        doc = f"d{b % n_docs}"
        if b == 3:
            idx.update(
                kv_df(spark, [{"doc_key": doc, "deleted": True}]),
                assume_unique=True,
            )
            expected.pop(doc, None)
        else:
            idx.update(
                kv_df(spark, [{"doc_key": doc, "k": "z", "v": 100.0 + b}]),
                assume_unique=True,
            )
            expected[doc] = ("z", 100.0 + b)
    exp_rows = sorted((d, k, v) for d, (k, v) in expected.items())
    return idx, exp_rows


def test_partial_compact_oldest_preserves_live_view(spark, store):
    """compact(max_epochs=K, tier='oldest') folds only the oldest K
    epochs: live rows identical before/after, epoch count drops by
    K-1, tombstones at/below the fold target are reclaimed, and
    further updates + a final full compact converge to the same
    view."""
    idx, exp = _churned_index(spark, store, "pc_old")
    n0 = len(_epochs(idx))
    assert n0 >= 5  # base + update epochs (delete-only batch adds none)
    before = live_rows(idx)
    assert before == exp

    idx.compact(max_epochs=4, tier="oldest")
    assert live_rows(idx) == before
    eps = _epochs(idx)
    assert len(eps) == n0 - 3  # 4 epochs folded into 1
    # prefix fold reclaims every tombstone <= min remaining epoch
    assert all(t > min(eps) for t in _tomb_epochs(idx))

    # index remains fully operational: update, then full compact
    idx.update(
        kv_df(spark, [{"doc_key": "d0", "k": "q", "v": 7.0}]),
        assume_unique=True,
    )
    idx.compact()
    want = sorted([r for r in exp if r[0] != "d0"] + [("d0", "q", 7.0)])
    assert live_rows(idx) == want
    assert len(_epochs(idx)) == 1 and _tomb_epochs(idx) == []


def test_partial_compact_newest_minor_fold(spark, store):
    """tier='newest' (minor compaction): the big base epoch is NOT
    rewritten — only the young epochs fold; live rows identical;
    tombstones guarding the base survive; time travel below the folded
    range still reads the old snapshot."""
    idx, exp = _churned_index(spark, store, "pc_new")
    n0 = len(_epochs(idx))
    base_epoch_dir = idx.segments_path + "/epoch=0"
    import os

    base_files_before = sorted(os.listdir(base_epoch_dir))
    snap1_before = sorted(
        (r["doc_key"], r["index_key"], r["value"])
        for r in idx.read(as_of_epoch=1).collect()
    )
    before = live_rows(idx)

    idx.compact(max_epochs=3, tier="newest")
    assert live_rows(idx) == before
    assert sorted(os.listdir(base_epoch_dir)) == base_files_before
    eps = _epochs(idx)
    assert 0 in eps and len(eps) == n0 - 2  # 3 epochs folded into 1
    # snapshots below the folded range are preserved
    snap1_after = sorted(
        (r["doc_key"], r["index_key"], r["value"])
        for r in idx.read(as_of_epoch=1).collect()
    )
    assert snap1_after == snap1_before
    # tombstones still guard the unfolded base (epoch 0 rows of
    # changed docs must stay dead)
    assert live_rows(idx) == before


class _Crash(Exception):
    pass


def _fold_setup(spark, store, name, kind):
    """A churned index ready for the fold ``kind``, plus the compact()
    call that runs it: ``partial`` folds the 3 oldest epochs; ``full``
    folds everything; ``above_top`` is a full fold whose target is a
    tombstone-only epoch above the top segment epoch (delete_range
    last); ``all_dead`` is a full fold of an index whose every doc is
    tombstoned."""
    idx, _ = _churned_index(spark, store, name)
    if kind == "above_top":
        assert idx.delete_range(key="a") > 0
    elif kind == "all_dead":
        assert idx.delete_range() > 0
        assert live_rows(idx) == []
    if kind == "partial":
        return idx, lambda: idx.compact(max_epochs=3, tier="oldest")
    return idx, lambda: idx.compact()


def _expected_fold(idx, kind):
    """(fold_epochs, target) the compact() of ``kind`` must journal."""
    eps = _epochs(idx)
    if kind == "partial":
        return eps[:3], eps[2]
    return eps, max(eps + _tomb_epochs(idx))


def _after_journal(idx, monkeypatch, hook):
    """Run ``hook()`` right after the next fold's journal lands (the
    commit point), before any delete or rename."""
    orig = idx.put_sidecar

    def put_then_hook(obj, name="meta.json"):
        orig(obj, name=name)
        if name == "fold.json":
            hook()

    monkeypatch.setattr(idx, "put_sidecar", put_then_hook)


def _crash():
    raise _Crash()


def _assert_fold_committed(idx, kind, fold, target, n0):
    assert idx.get_sidecar(name="fold.json") is None
    assert not os.path.exists(idx._fold_tmp_path)
    if kind == "partial":
        assert len(_epochs(idx)) == n0 - len(fold) + 1
        assert target in _epochs(idx)
    else:
        # one epoch, numbered by the max over segment AND tombstone
        # epochs; the dead-tombstone sweep reclaimed every tombstone
        assert _epochs(idx) == [target]
        assert _tomb_epochs(idx) == []


def _check_crash_rolls_forward(spark, store, monkeypatch, kind):
    """Crash-window coverage of the journaled fold commit: after the
    journal is written (and, here, after one of the commit's deletes
    landed) a fresh reader serves the pre-crash rows from the
    post-fold view and leaves fold.json and .fold_tmp in place; the
    next write-path entry completes the fold and drops the journal."""
    name = f"crash_{kind}"
    idx, fold_call = _fold_setup(spark, store, name, kind)
    before = live_rows(idx)
    n0 = len(_epochs(idx))
    fold, target = _expected_fold(idx, kind)
    _after_journal(idx, monkeypatch, _crash)
    with pytest.raises(_Crash):
        fold_call()
    assert idx.get_sidecar(name="fold.json") == {
        "type": "fold-intent",
        "fold_epochs": fold,
        "fold_max": target,
    }
    # the crash also landed one of the commit's deletes
    import shutil

    shutil.rmtree(os.path.join(idx.segments_path, f"epoch={fold[0]}"))

    # a FRESH handle (the post-crash process) reads the post-fold view
    # and changes nothing
    fresh = kv_index(spark, store, name)
    assert live_rows(fresh) == before
    assert fresh.get_sidecar(name="fold.json") is not None
    assert os.path.exists(fresh._fold_tmp_path)

    # the next write-path entry (a no-op range delete) rolls it forward
    assert fresh.delete_range(key="no-such-key") == 0
    _assert_fold_committed(fresh, kind, fold, target, n0)
    assert live_rows(fresh) == before

    # a crash AFTER the deletes/rename (journal left behind, tmp gone)
    # reads normally and is recognized as completed by the next writer
    fresh.put_sidecar(
        {"type": "fold-intent", "fold_epochs": fold, "fold_max": target},
        name="fold.json",
    )
    again = kv_index(spark, store, name)
    assert live_rows(again) == before
    assert again.delete_range(key="no-such-key") == 0
    assert again.get_sidecar(name="fold.json") is None
    assert live_rows(again) == before

    # and the index keeps working end-to-end
    again.update(kv_df(spark, [{"doc_key": "n1", "k": "q", "v": 1.0}]))
    assert live_rows(again) == sorted(before + [("n1", "q", 1.0)])
    assert max(_epochs(again)) > target


def test_partial_compact_crash_rolls_forward(spark, store, monkeypatch):
    _check_crash_rolls_forward(spark, store, monkeypatch, "partial")


_PROBE_KEYS = ["a", "b", "c", "z", "no-such-key"]


def _point_reads(idx):
    return {k: (idx.get(k), idx.count(k)) for k in _PROBE_KEYS}


@pytest.mark.parametrize("kind", ["partial", "full"])
def test_probe_serves_fold_in_flight(spark, store, monkeypatch, kind):
    """A compact() crashed right after its journal landed (and after
    one of its deletes): a fresh handle's get()/count(key) answer from
    the driver-side probe over the post-fold view with the pre-crash
    values, and leave fold.json and .fold_tmp in place."""
    name = f"probe_crash_{kind}"
    idx, fold_call = _fold_setup(spark, store, name, kind)
    before = _point_reads(idx)
    assert before["z"][1] > 0
    fold, _ = _expected_fold(idx, kind)
    _after_journal(idx, monkeypatch, _crash)
    with pytest.raises(_Crash):
        fold_call()
    import shutil

    shutil.rmtree(os.path.join(idx.segments_path, f"epoch={fold[0]}"))

    fresh = kv_index(spark, store, name)
    monkeypatch.setattr(
        fresh, "scan", lambda *a, **k: pytest.fail("Spark path used")
    )
    assert _point_reads(fresh) == before
    assert fresh.get_sidecar(name="fold.json") is not None
    assert os.path.exists(fresh._fold_tmp_path)


def test_probe_file_vanished_falls_back_to_spark(spark, store, monkeypatch):
    """A file that disappears under the probe (another process's fold
    commit) sends get()/count(key) to the Spark path once — no retry
    loop — with the same answer; the next call probes again."""
    import pyarrow.dataset as ds

    idx, _ = _churned_index(spark, store, "probe_vanish")
    want = _point_reads(idx)
    real_dataset, real_scan, real_lookup_df = ds.dataset, idx.scan, idx._lookup_df
    vanished, scans = [], []

    def dataset_vanishing_once(*a, **k):
        if not vanished:
            vanished.append(a)
            raise FileNotFoundError(a[0])
        return real_dataset(*a, **k)

    def spy_scan(*a, **k):
        scans.append(k)
        return real_scan(*a, **k)

    def spy_lookup_df(keys, hi=None):
        scans.append(keys)
        return real_lookup_df(keys, hi)

    monkeypatch.setattr(ds, "dataset", dataset_vanishing_once)
    monkeypatch.setattr(idx, "scan", spy_scan)
    monkeypatch.setattr(idx, "_lookup_df", spy_lookup_df)
    assert idx.get("z") == want["z"][0]
    assert len(vanished) == 1 and scans == [["z"]]
    assert _point_reads(idx) == want
    assert len(scans) == 1


def test_probe_racing_fold_commit_never_resurrects(spark, store, monkeypatch):
    """Another handle's full compact() commits — folded epochs deleted,
    the copy renamed in, every tombstone swept — after the probe has
    read the segment rows and before it reads the tombstones. Pairing
    the pre-fold rows with the post-sweep tombstone root would bring
    the overwritten and deleted docs back; the probe listed the swept
    markers with the segments, so their read fails and get() answers
    from the Spark path with the pre-fold values."""
    import pyarrow.dataset as ds

    idx, _ = _churned_index(spark, store, "probe_race")
    want = _point_reads(idx)
    assert want["a"][0] == [0.0]
    n_segs = len(_epochs(idx))
    real_dataset = ds.dataset
    seg_reads, folds = [], []

    class FoldAfterLastSegmentRead:
        def __init__(self, inner):
            self.inner = inner

        def __getattr__(self, attr):
            return getattr(self.inner, attr)

        def to_table(self, *a, **k):
            table = self.inner.to_table(*a, **k)
            seg_reads.append(1)
            if len(seg_reads) == n_segs and not folds:
                other = kv_index(spark, store, "probe_race")
                other.compact()
                folds.append(_epochs(other))
            return table

    def racing_dataset(path, *a, **k):
        got = real_dataset(path, *a, **k)
        if f"{os.sep}segments{os.sep}" in str(path):
            return FoldAfterLastSegmentRead(got)
        return got

    monkeypatch.setattr(ds, "dataset", racing_dataset)
    # "a": d3 was deleted and d6 overwritten; both would come back
    assert idx.get("a") == want["a"][0]
    assert folds == [_epochs(idx)] and len(folds[0]) == 1
    assert _tomb_epochs(idx) == []


@pytest.mark.parametrize("kind", ["full", "above_top", "all_dead"])
def test_full_compact_crash_rolls_forward(spark, store, monkeypatch, kind):
    _check_crash_rolls_forward(spark, store, monkeypatch, kind)


@pytest.mark.parametrize("kind", ["partial", "full"])
def test_fold_commit_survives_racing_reader(spark, store, monkeypatch, kind):
    """Race regression: a second handle calling read() right after the
    fold's journal lands must neither change storage nor break the
    writer's commit. (When readers rolled the fold forward themselves,
    the writer then deleted the freshly renamed epoch={hi} — live rows
    were lost and the commit died on a raw rename error.)"""
    name = f"race_{kind}"
    idx, fold_call = _fold_setup(spark, store, name, kind)
    before = live_rows(idx)
    n0 = len(_epochs(idx))
    fold, target = _expected_fold(idx, kind)
    reader = kv_index(spark, store, name)
    seen = []
    _after_journal(idx, monkeypatch, lambda: seen.append(live_rows(reader)))
    fold_call()
    assert seen == [before]
    _assert_fold_committed(idx, kind, fold, target, n0)
    assert live_rows(idx) == before
    assert live_rows(reader) == before


def test_partial_compact_full_equivalence_under_churn(spark, store):
    """Incremental maintenance + any interleaving of partial folds
    converges to the same live view as never compacting at all."""
    idx_a, exp = _churned_index(spark, store, "pc_eq_a", n_batches=10)
    idx_b, _ = _churned_index(spark, store, "pc_eq_b", n_batches=10)
    # interleave folds on b only
    idx_b.compact(max_epochs=3, tier="newest")
    idx_b.compact(max_epochs=2, tier="oldest")
    idx_b.compact(max_epochs=4, tier="newest")
    assert live_rows(idx_b) == live_rows(idx_a) == exp


def test_auto_compact_is_tiered_and_counter_bug_fixed(spark, store, monkeypatch):
    """auto_compact=True maintenance is tiered (r9): crossing the
    epoch threshold minor-folds the DELTA epochs (base untouched),
    the due flag derives from live storage state — NOT the monotonic
    epoch counter, which in the r8 form stayed past the threshold
    forever and forced a full O(index) rewrite on EVERY subsequent
    batch — and tombstone pressure escalates to the full fold."""
    import os

    from level_mapreduce_spark.engine import index as index_mod

    monkeypatch.setattr(index_mod, "AUTO_COMPACT_EPOCHS", 6)
    idx = kv_index(spark, store, "tiered")
    idx.build(
        kv_df(
            spark,
            [{"doc_key": f"d{i}", "k": "a", "v": float(i)} for i in range(6)],
        ),
        assume_unique=True,
    )
    expected = {f"d{i}": ("a", float(i)) for i in range(6)}
    base_dir = idx.segments_path + "/epoch=0"
    base_files = sorted(os.listdir(base_dir))

    epoch_counts = []
    for b in range(1, 13):
        idx.update(
            kv_df(spark, [{"doc_key": f"d{b % 6}", "k": "b", "v": 100.0 + b}]),
            assume_unique=True,
        )
        expected[f"d{b % 6}"] = ("b", 100.0 + b)
        epoch_counts.append(len(_epochs(idx)))

    # bounded read amplification: never grows past the threshold + 1
    assert max(epoch_counts) <= 7
    # r8 counter bug regression: after the first fold the count must
    # GROW again across batches (a fold is NOT happening every batch)
    post_fold = epoch_counts[6:]
    assert any(b > a for a, b in zip(post_fold, post_fold[1:]))
    # minor folds never rewrote the base epoch
    assert sorted(os.listdir(base_dir)) == base_files
    # tombstones are retained by minor folds (they guard the base)
    assert _tomb_epochs(idx)
    assert live_rows(idx) == sorted(
        (d, k, v) for d, (k, v) in expected.items()
    )

    # tombstone pressure escalates to the FULL fold: everything
    # reclaimed, single epoch, view preserved
    monkeypatch.setattr(index_mod, "TOMBSTONE_BROADCAST_BYTES", 1)
    idx.update(
        kv_df(spark, [{"doc_key": "d0", "k": "c", "v": 999.0}]),
        assume_unique=True,
    )
    expected["d0"] = ("c", 999.0)
    assert len(_epochs(idx)) == 1 and _tomb_epochs(idx) == []
    assert live_rows(idx) == sorted(
        (d, k, v) for d, (k, v) in expected.items()
    )


def test_auto_compact_bytes_ratio_trigger(spark, store, monkeypatch):
    """r10 (VERDICT #7): epoch COUNT alone misses skewed-size epoch
    sequences — a few base-sized deltas multiply read bytes long
    before 24 epochs. The bytes-ratio trigger full-folds when delta
    bytes exceed COMPACT_SIZE_RATIO x base with >= 2 deltas, and
    stays quiet for single-delta / sub-floor states (no gratuitous
    refold cascade)."""
    from level_mapreduce_spark.engine import index as index_mod

    monkeypatch.setattr(index_mod, "COMPACT_SIZE_MIN_DELTA_BYTES", 1)
    idx = kv_index(spark, store, "ratio")
    idx.build(
        kv_df(
            spark,
            [
                {"doc_key": f"d{i:03d}", "k": "a", "v": float(i)}
                for i in range(100)
            ],
        ),
        assume_unique=True,
    )
    expected = {f"d{i:03d}": ("a", float(i)) for i in range(100)}

    def grow(lo, hi):
        batch = [
            {"doc_key": f"n{i:03d}", "k": "b", "v": float(i)}
            for i in range(lo, hi)
        ]
        idx.update(kv_df(spark, batch), assume_unique=True)
        expected.update({b["doc_key"]: ("b", b["v"]) for b in batch})

    # one base-sized delta: ratio exceeded but only ONE delta epoch —
    # a fold would rewrite the base for nothing, so none happens
    grow(0, 60)
    assert len(_epochs(idx)) == 2
    # second delta: >= 2 deltas over the ratio -> FULL fold, read
    # amplification re-bounded, view preserved
    grow(60, 120)
    assert len(_epochs(idx)) == 1
    assert _tomb_epochs(idx) == []
    assert live_rows(idx) == sorted(
        (d, k, v) for d, (k, v) in expected.items()
    )
    # after the fold the trigger is quiet again: a small delta does
    # not refold (delta bytes reset to zero by the full fold)
    grow(120, 121)
    assert len(_epochs(idx)) == 2
    assert live_rows(idx) == sorted(
        (d, k, v) for d, (k, v) in expected.items()
    )

    # the byte floor guards tiny indexes: with the default 64 MB
    # floor, the same skewed sequence only accumulates epochs
    monkeypatch.setattr(
        index_mod,
        "COMPACT_SIZE_MIN_DELTA_BYTES",
        64 * 1024 * 1024,
    )
    idx2 = kv_index(spark, store, "ratio_floor")
    idx2.build(
        kv_df(spark, [{"doc_key": "d0", "k": "a", "v": 0.0}]),
        assume_unique=True,
    )
    for b in range(1, 4):
        idx2.update(
            kv_df(
                spark, [{"doc_key": f"d{b}", "k": "a", "v": float(b)}]
            ),
            assume_unique=True,
        )
    assert len(_epochs(idx2)) == 4


def test_seg_bytes_cache_cleared_when_epochs_rewrite(spark, store, monkeypatch):
    """The bytes-ratio trigger caches per-epoch sizes on the premise
    that epoch dirs are immutable — which build()-rebuild (epoch
    counter restarts at 0) and compact() (full: new base; partial:
    fold rewritten in place at epoch hi) violate. Those paths must
    drop the cache, or the trigger decides from the PREVIOUS corpus's
    bytes: a spurious inline O(index) fold, or a missed one."""
    from level_mapreduce_spark.engine import index as index_mod

    # byte floor high enough that the trigger never actually folds —
    # this test watches only the cache lifecycle
    monkeypatch.setattr(
        index_mod, "COMPACT_SIZE_MIN_DELTA_BYTES", 10**12
    )
    idx = kv_index(spark, store, "segcache")
    idx.auto_compact = True
    idx.build(
        kv_df(
            spark,
            [{"doc_key": f"d{i}", "k": "a", "v": float(i)} for i in range(50)],
        ),
        assume_unique=True,
    )
    for b in range(2):
        idx.update(
            kv_df(spark, [{"doc_key": f"n{b}", "k": "b", "v": 1.0}]),
            assume_unique=True,
        )
    # 3 epochs -> the pressure check populated the per-epoch cache
    assert set(idx._seg_bytes_by_epoch) == set(_epochs(idx))
    idx.compact(max_epochs=2, tier="newest")  # rewrites epoch hi in place
    assert idx._seg_bytes_by_epoch == {}
    for b in range(2, 4):
        idx.update(
            kv_df(spark, [{"doc_key": f"n{b}", "k": "b", "v": 1.0}]),
            assume_unique=True,
        )
    assert idx._seg_bytes_by_epoch != {}
    idx.compact()  # full fold: brand-new base epoch
    assert idx._seg_bytes_by_epoch == {}
    for b in range(4, 6):
        idx.update(
            kv_df(spark, [{"doc_key": f"n{b}", "k": "b", "v": 1.0}]),
            assume_unique=True,
        )
    assert idx._seg_bytes_by_epoch != {}
    # rebuild over existing: epoch numbering restarts with a different
    # corpus — stale bytes keyed by the same epoch ints must not survive
    idx.build(
        kv_df(spark, [{"doc_key": "r0", "k": "a", "v": 0.0}]),
        assume_unique=True,
    )
    assert idx._seg_bytes_by_epoch == {}


def test_partial_fold_precommit_abort_is_invisible(spark, store):
    """A .fold_tmp staged WITHOUT the fold.json journal is a
    pre-commit abort: readers must serve the intact index (the dot
    dir is hidden from partition discovery) and must NOT delete the
    leftover (they hold no lease); the next WRITE-path entry cleans
    it."""
    import os

    idx, exp = _churned_index(spark, store, "pf_abort", n_batches=4)
    before = live_rows(idx)
    os.makedirs(idx._fold_tmp_path, exist_ok=True)
    with open(os.path.join(idx._fold_tmp_path, "part-junk.parquet"), "wb") as f:
        f.write(b"not parquet")

    fresh = kv_index(spark, store, "pf_abort")
    assert live_rows(fresh) == before          # read path: unaffected
    assert os.path.exists(fresh._fold_tmp_path)  # ...and not deleted
    fresh.update(
        kv_df(spark, [{"doc_key": "d0", "k": "w", "v": 1.0}]),
        assume_unique=True,
    )
    assert not os.path.exists(fresh._fold_tmp_path)  # writer cleaned


def test_partial_fold_random_interleaving_property(spark, tmp_path_factory):
    """Property (hypothesis): ANY interleaving of churn chunks with
    minor/major/full folds converges to the same live view as never
    compacting — the bounded fold is invisible to reads wherever it
    lands in the write history."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(
        max_examples=4,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(data=st.data())
    def run(data):
        store = str(tmp_path_factory.mktemp("pfold"))
        idx = kv_index(spark, store, "pf")
        idx.auto_compact = False
        twin = kv_index(spark, store, "pf_twin")
        twin.auto_compact = False
        docs0 = [
            {"doc_key": f"d{i}", "k": "a", "v": float(i)} for i in range(5)
        ]
        idx.build(kv_df(spark, docs0), assume_unique=True)
        twin.build(kv_df(spark, docs0), assume_unique=True)
        n_steps = data.draw(st.integers(2, 5))
        for s in range(n_steps):
            doc = data.draw(st.integers(0, 4))
            deleted = data.draw(st.booleans())
            row = (
                {"doc_key": f"d{doc}", "deleted": True}
                if deleted
                else {"doc_key": f"d{doc}", "k": "m", "v": float(100 + s)}
            )
            idx.update(kv_df(spark, [row]), assume_unique=True)
            twin.update(kv_df(spark, [row]), assume_unique=True)
            action = data.draw(
                st.sampled_from(["none", "minor", "major", "full"])
            )
            from level_mapreduce_spark.engine.index import _list_epochs

            n_seg = len(_list_epochs(spark, idx.segments_path))
            if action == "minor" and n_seg > 2:
                idx.compact(max_epochs=2, tier="newest")
            elif action == "major" and n_seg > 2:
                idx.compact(max_epochs=2, tier="oldest")
            elif action == "full":
                idx.compact()
        assert live_rows(idx) == live_rows(twin)

    run()


def test_compact_tombstones_drops_superseded_markers(spark, store):
    """compact_tombstones: only a doc's max-epoch marker matters, so
    superseded rows are reclaimed and emptied epoch dirs deleted —
    with NO segment IO and the live view unchanged. Duplicate live
    markers (the protocol's worst crash residue) are harmless and
    cleaned by the next run."""
    import glob
    import os
    import shutil

    idx = kv_index(spark, store, "tombc")
    idx.auto_compact = False
    idx.build(
        kv_df(
            spark,
            [{"doc_key": f"d{i}", "k": "a", "v": float(i)} for i in range(4)],
        ),
        assume_unique=True,
    )
    # churn the SAME doc three times -> two superseded markers; churn
    # another doc once -> its marker is live and must survive
    for v in (10.0, 11.0, 12.0):
        idx.update(
            kv_df(spark, [{"doc_key": "d0", "k": "a", "v": v}]),
            assume_unique=True,
        )
    idx.update(
        kv_df(spark, [{"doc_key": "d1", "k": "a", "v": 99.0}]),
        assume_unique=True,
    )
    before = live_rows(idx)
    tomb_rows_before = spark.read.parquet(idx.tombstones_path).count()
    assert tomb_rows_before == 4  # d0 x3 + d1 x1
    n_epochs_before = len(_tomb_epochs(idx))

    emptied = idx.compact_tombstones()
    assert emptied == 2  # d0's two superseded epochs held only d0
    assert live_rows(idx) == before
    tombs_after = spark.read.parquet(idx.tombstones_path)
    assert tombs_after.count() == 2  # one live marker per doc
    assert len(_tomb_epochs(idx)) == n_epochs_before - 2
    # segments untouched throughout (no segment IO)
    assert ("d0", "a", 12.0) in live_rows(idx)

    # crash residue: duplicate a live marker file -> read unchanged
    # (per-doc max absorbs duplicates); the next consolidation is a
    # no-op on duplicates of the SAME epoch (no higher marker) but
    # must not corrupt anything
    live_epoch = _tomb_epochs(idx)[-1]
    d = f"{idx.tombstones_path}/epoch={live_epoch}"
    f = glob.glob(d + "/part-*")[0]
    shutil.copy(f, d + "/part-dup-copy.parquet")
    assert live_rows(idx) == before
    idx.compact_tombstones()
    assert live_rows(idx) == before

    # leftover staging dir from a crashed run is cleaned by the next
    # write-path entry
    os.makedirs(idx.tombstones_path + ".consolidating", exist_ok=True)
    idx.update(
        kv_df(spark, [{"doc_key": "d2", "k": "a", "v": 7.0}]),
        assume_unique=True,
    )
    assert not os.path.exists(idx.tombstones_path + ".consolidating")


def test_rebuild_crash_window_stale_tombstones_harmless(spark, store):
    """r9 review finding: build() over an existing index used to write
    at epoch 0, so a crash between the segment overwrite and the
    tombstone cleanup left stale higher-epoch tombstones silently
    killing rebuilt rows (and a later compact() made the loss
    permanent). The rebuild now lands above every tombstone: restore
    the tombstone dir post-build (the crash state) and the view must
    be exactly the rebuilt corpus, before and after compact()."""
    import shutil

    idx = kv_index(spark, store, "rebuild_crash")
    idx.build(
        kv_df(
            spark,
            [{"doc_key": f"d{i}", "k": "a", "v": float(i)} for i in range(4)],
        ),
        assume_unique=True,
    )
    idx.update(
        kv_df(spark, [{"doc_key": "d0", "k": "a", "v": 50.0}]),
        assume_unique=True,
    )
    idx.update(
        kv_df(spark, [{"doc_key": "d1", "deleted": True}]),
        assume_unique=True,
    )
    tomb_bak = store + "/rebuild_tomb_bak"
    shutil.copytree(idx.tombstones_path, tomb_bak)

    rebuilt_docs = [
        {"doc_key": f"d{i}", "k": "b", "v": float(10 + i)} for i in range(3)
    ]
    idx.build(kv_df(spark, rebuilt_docs), assume_unique=True)
    # crash state: the old tombstones survived the rebuild
    shutil.copytree(tomb_bak, idx.tombstones_path)
    idx._tomb_bytes_cache = None

    want = sorted((f"d{i}", "b", float(10 + i)) for i in range(3))
    assert live_rows(idx) == want          # d0/d1 tombstones inert
    idx.compact()                          # must not bake in a loss
    assert live_rows(idx) == want
    # and the index keeps accepting updates with sane epoch numbering
    idx.update(
        kv_df(spark, [{"doc_key": "d2", "k": "c", "v": 3.0}]),
        assume_unique=True,
    )
    assert ("d2", "c", 3.0) in live_rows(idx)


def test_acquire_readback_transient_error_leaves_no_orphan(spark, store):
    """r9 review: a transient store error during the post-create
    read-back must surface as ITSELF (after retries) with this
    writer's own fresh lock deleted — not masquerade as a lost race
    that strands an orphan lock blocking every future writer."""
    a = kv_index(spark, store, "rerr")
    # the read-back only runs on the best-effort fallback; the local
    # O_EXCL conditional path never needs it
    a._create_lock_conditional = lambda *args, **kw: False
    orig = a.get_sidecar

    def flaky(name="meta.json"):
        if name == "writer.lock":
            raise RuntimeError("store hiccup")
        return orig(name=name)

    a.get_sidecar = flaky
    try:
        try:
            a._acquire_lease()
            raise AssertionError("read error was swallowed")
        except RuntimeError as e:
            assert "hiccup" in str(e)
    finally:
        a.get_sidecar = orig
    assert a._lease_depth == 0
    # no orphan: a fresh writer acquires and releases cleanly
    b = kv_index(spark, store, "rerr")
    b._acquire_lease()
    b._release_lease()


def test_seg_bytes_cache_invalidated_by_cross_handle_fold(
    spark, store, monkeypatch
):
    """r10 review: the per-epoch byte cache is keyed by epoch number,
    but a fold by ANOTHER handle rewrites one surviving epoch IN
    PLACE (full: max; partial: hi) while removing the rest — the
    folding handle clears its own cache, not this one's. The dead
    cached keys are the detector: observing any epoch in the cache
    that is no longer live must drop the WHOLE cache (the survivor's
    entry is the stale one), so the bytes-ratio trigger decides from
    current reality, not the pre-fold corpus."""
    from level_mapreduce_spark.engine import index as index_mod
    from level_mapreduce_spark.engine.index import _path_bytes

    monkeypatch.setattr(index_mod, "COMPACT_SIZE_MIN_DELTA_BYTES", 1)
    from pyspark.sql import functions as SF
    from pyspark.sql import types as ST

    mapper = ExprMapper.of(
        (SF.col("k"), SF.col("v")), value_type=ST.DoubleType()
    )
    # auto_compact=False: the test drives the pressure check by hand;
    # an inline auto fold would clear the cache through the fold site
    # and hide the cross-handle path under test
    a = MapIndex(spark, "xh", mapper, store, auto_compact=False)
    a.build(
        kv_df(
            spark,
            [{"doc_key": f"d{i:02d}", "k": "a", "v": 1.0} for i in range(40)],
        ),
        assume_unique=True,
    )
    a.update(
        kv_df(spark, [{"doc_key": "e00", "k": "b", "v": 2.0}]),
        assume_unique=True,
    )
    a.update(
        kv_df(spark, [{"doc_key": "e01", "k": "b", "v": 2.0}]),
        assume_unique=True,
    )
    a._seg_size_pressure()  # populate A's cache over the live epochs
    pre = dict(a._seg_bytes_by_epoch)
    assert pre, "cache should be populated after a pressure check"

    b = MapIndex(spark, "xh", mapper, store, auto_compact=False)
    b.compact()  # full fold: keeps epoch=max, rewrites it in place

    a._seg_size_pressure()  # A lists live epochs, sees dead cache keys
    assert not (
        set(a._seg_bytes_by_epoch) - {max(pre)}
    ) and a._seg_bytes_by_epoch != pre, (
        "dead cached epochs must clear the whole cache, including the "
        "in-place-rewritten survivor"
    )

    # drive A forward: the repopulated entries (especially the folded
    # survivor epoch, which now holds the ENTIRE index) must match the
    # real on-disk sizes, not the pre-fold deltas
    a.update(
        kv_df(spark, [{"doc_key": "e02", "k": "b", "v": 2.0}]),
        assume_unique=True,
    )
    a.update(
        kv_df(spark, [{"doc_key": "e03", "k": "b", "v": 2.0}]),
        assume_unique=True,
    )
    a._seg_size_pressure()
    cache = a._seg_bytes_by_epoch
    import posixpath

    assert max(pre) in cache, "survivor epoch must be re-measured"
    for e, got in cache.items():
        want = _path_bytes(
            spark, posixpath.join(a.segments_path, f"epoch={e}")
        )
        assert got == want, (
            f"epoch {e}: cached {got} != live {want} — stale "
            f"pre-fold bytes survived the cross-handle fold"
        )
    assert cache[max(pre)] > pre[max(pre)], (
        "the folded survivor holds the whole index now; its fresh "
        "measurement must exceed its pre-fold delta size"
    )


class _FakeUri:
    def __init__(self, scheme, path="/fake/writer.lock"):
        self._scheme, self._path = scheme, path

    def getScheme(self):
        return self._scheme

    def getPath(self):
        return self._path


class _FakePath:
    def __init__(self, scheme="s3a"):
        self._uri = _FakeUri(scheme)

    def toUri(self):
        return self._uri


class _FakeStream:
    """Conditional-store output stream whose close() behavior is the
    variable under test (S3/GCS check preconditions AT CLOSE)."""

    def __init__(self, close_exc=None):
        self.close_exc = close_exc
        self.closed = 0

    def write(self, b):
        pass

    def close(self):
        self.closed += 1
        if self.close_exc is not None and self.closed == 1:
            raise self.close_exc


class _FakeFs:
    def __init__(self, stream, deletes_fail=False):
        self.stream = stream
        self.deleted = []
        self.deletes_fail = deletes_fail

    def getUri(self):
        return _FakeUri("s3a", "/")

    def create(self, hpath, overwrite):
        return self.stream

    def delete(self, hpath, recursive):
        if self.deletes_fail:
            raise RuntimeError("store outage")
        self.deleted.append(hpath)


def _cond_idx(spark, store, monkeypatch, lock_reads):
    """Index handle with conditionalCreate asserted and _read_lock
    stubbed to pop from ``lock_reads`` — each entry a value, an
    Exception (raised when raise_errors else mapped to None), or a
    callable receiving the handle (for self-referential payloads like
    the handle's own writer_id)."""
    idx = kv_index(spark, store, "condclose")
    spark.conf.set("spark.lmr.lease.conditionalCreate", "true")

    def read(raise_errors=False):
        nxt = lock_reads.pop(0) if lock_reads else None
        if isinstance(nxt, Exception):
            if raise_errors:
                raise nxt
            return None
        if callable(nxt):
            return nxt(idx)
        return nxt

    monkeypatch.setattr(idx, "_read_lock", read)
    return idx


def test_conditional_close_branches(spark, store, monkeypatch):
    """Exhaustive branch coverage for the asserted-conditional lease
    create's close-failure handler (r10 review closed two gaps here;
    the JVM stream/fs objects are faked so every branch is reachable
    without a real conditional store):

    1. close() raises with a precondition marker -> lost race ->
       ConcurrentWriterError, NO delete (the object is the winner's).
    2. close() raises a transport error, read-back shows OUR OWN
       writer id (the create committed) -> own lock deleted, original
       error surfaces.
    3. same, but the cleanup delete ALSO fails -> RuntimeError naming
       the lock path and break_lease (never a silent orphan).
    4. close() raises, lock unreadable even with retries -> the
       undecidable RuntimeError with break_lease guidance, NO delete.
    5. create() itself raises FileAlreadyExistsException (classified
       by the shared helper even with no 'already exists' phrase in
       the message) -> ConcurrentWriterError.
    """
    from level_mapreduce_spark.engine.index import ConcurrentWriterError

    try:
        # 1: precondition at close = lost race
        fs = _FakeFs(_FakeStream(RuntimeError("412 precondition failed")))
        idx = _cond_idx(spark, store, monkeypatch, [None])
        try:
            idx._create_lock_conditional(fs, _FakePath(), b"{}")
            raise AssertionError("expected ConcurrentWriterError")
        except ConcurrentWriterError:
            pass
        assert fs.deleted == [], "winner's lock must never be deleted"

        # 2: post-commit transport error, readable own lock -> cleanup
        fs = _FakeFs(_FakeStream(RuntimeError("connection reset")))
        idx = _cond_idx(
            spark, store, monkeypatch,
            [lambda i: {"writer_id": i._writer_id}],
        )
        try:
            idx._create_lock_conditional(fs, _FakePath(), b"{}")
            raise AssertionError("expected the transport error")
        except RuntimeError as e:
            assert "connection reset" in str(e)
        assert len(fs.deleted) == 1, "own committed lock must be cleaned"

        # 3: cleanup delete fails -> guidance, not silence
        fs = _FakeFs(
            _FakeStream(RuntimeError("connection reset")), deletes_fail=True
        )
        idx = _cond_idx(
            spark, store, monkeypatch,
            [lambda i: {"writer_id": i._writer_id}],
        )
        try:
            idx._create_lock_conditional(fs, _FakePath(), b"{}")
            raise AssertionError("expected guidance RuntimeError")
        except RuntimeError as e:
            assert "break_lease" in str(e) and "DID commit" in str(e)

        # 4: unreadable lock -> undecidable guidance, no delete
        fs = _FakeFs(_FakeStream(RuntimeError("connection reset")))
        idx = _cond_idx(
            spark, store, monkeypatch, [RuntimeError("read outage")]
        )
        try:
            idx._create_lock_conditional(fs, _FakePath(), b"{}")
            raise AssertionError("expected undecidable RuntimeError")
        except RuntimeError as e:
            assert "break_lease" in str(e) and "unreadable" in str(e)
        assert fs.deleted == []

        # 5: create-time FileAlreadyExistsException with a bare-path
        # message (no 'already exists' phrase) still classifies — the
        # shared helper matches on the exception CLASS NAME embedded
        # in the py4j-rendered message text
        class _FsRaises(_FakeFs):
            def create(self, hpath, overwrite):
                raise RuntimeError(
                    "org.apache.hadoop.fs.FileAlreadyExistsException: "
                    "s3a://bkt/idx/writer.lock"
                )

        fs = _FsRaises(_FakeStream())
        idx = _cond_idx(spark, store, monkeypatch, [None])
        try:
            idx._create_lock_conditional(fs, _FakePath(), b"{}")
            raise AssertionError("expected ConcurrentWriterError")
        except ConcurrentWriterError:
            pass
    finally:
        spark.conf.set("spark.lmr.lease.conditionalCreate", "false")


def test_acquire_refreshes_stale_heartbeat_and_catalog_clamps(
    spark, store, monkeypatch
):
    """r10 hardening: the same handle reuses its writer_id across
    leases, so a writer.hb left by a PREVIOUS lease would read as a
    matching-but-ancient heartbeat and make list_indexes report a
    live writer as dead. Two defenses, both pinned: acquire stamps a
    fresh hb, and even if that stamp were lost the catalog clamps the
    reported heartbeat to the lease's acquisition time."""
    import time as _t

    from level_mapreduce_spark import list_indexes

    idx = kv_index(spark, store, "stalehb")
    idx.build(
        kv_df(spark, [{"doc_key": "d1", "k": "a", "v": 1.0}]),
        assume_unique=True,
    )
    # plant an hours-old hb naming THIS handle's writer id
    idx.put_sidecar(
        {"writer_id": idx._writer_id, "heartbeat_unix": int(_t.time()) - 9999},
        name="writer.hb",
    )
    t0 = int(_t.time())
    idx._acquire_lease()
    try:
        hb = idx.get_sidecar(name="writer.hb")
        assert hb["heartbeat_unix"] >= t0, (
            "acquire must overwrite a stale prior-lease heartbeat"
        )
        # independent clamp: re-plant the stale hb (simulating a lost
        # acquire-time stamp) — the catalog must still bound the age
        idx.put_sidecar(
            {
                "writer_id": idx._writer_id,
                "heartbeat_unix": int(_t.time()) - 9999,
            },
            name="writer.hb",
        )
        ent = {d["name"]: d for d in list_indexes(spark, store)}["stalehb"]
        assert ent["lease_heartbeat_age_secs"] <= ent["lease_age_secs"], (
            "catalog must clamp a pre-acquisition heartbeat stamp"
        )
    finally:
        idx._release_lease()


def test_heartbeat_survives_transient_read_errors(spark, store, monkeypatch):
    """r10 hardening: one transient store error on the heartbeat's
    lock read must skip that tick, not kill the thread / declare the
    lease stolen (pre-fix: a single S3 throttle froze the heartbeat
    for the rest of a long mutation and made a clean release raise a
    spurious ConcurrentWriterError)."""
    import time as _t

    from level_mapreduce_spark.engine import index as index_mod

    monkeypatch.setattr(index_mod, "LEASE_HEARTBEAT_SECS", 0.2)
    idx = kv_index(spark, store, "hbflaky")
    idx.build(
        kv_df(spark, [{"doc_key": "d1", "k": "a", "v": 1.0}]),
        assume_unique=True,
    )
    real_read = idx._read_lock
    fails = {"left": 2}

    def flaky(raise_errors=False):
        if fails["left"] > 0:
            fails["left"] -= 1
            # mirror the REAL _read_lock contract: with
            # raise_errors=False a store error maps to None. Pre-fix
            # code called the default (False) form from the heartbeat,
            # received None, and falsely classified the error as theft
            # — this stub must reproduce that so the test FAILS against
            # the buggy policy rather than bypassing it by raising.
            if not raise_errors:
                return None
            raise RuntimeError("503 slow down")
        return real_read(raise_errors=raise_errors)

    monkeypatch.setattr(idx, "_read_lock", flaky)
    idx._acquire_lease()
    # the acquire-time stamp exists before any tick: the resumed
    # heartbeat must advance STRICTLY past it, proving a post-error
    # tick ran (not just that the acquire stamp is visible)
    hb0 = (idx.get_sidecar(name="writer.hb") or {}).get("heartbeat_unix", 0)
    try:
        deadline = _t.time() + 30
        hb = None
        while _t.time() < deadline:
            got = idx.get_sidecar(name="writer.hb") or {}
            if fails["left"] == 0 and got.get("heartbeat_unix", 0) > hb0:
                hb = got
                break
            _t.sleep(0.1)
        assert hb is not None, "heartbeat never resumed after the errors"
        assert idx._lease_lost is False, (
            "a transient read error must not be classified as theft"
        )
    finally:
        monkeypatch.setattr(idx, "_read_lock", real_read)
        idx._release_lease()  # must NOT raise ConcurrentWriterError


def test_break_lease_min_dead_secs_guard(spark, store, monkeypatch):
    """VERDICT r10 #6: break_lease(min_dead_secs=...) is the
    fat-finger guard — it must REFUSE against a holder whose
    heartbeat is fresh (it is ticking RIGHT NOW), succeed once the
    heartbeat is provably stale, refuse when liveness is unreadable,
    and leave the unguarded operator override unchanged."""
    import time as _t

    import pytest as _pytest

    from level_mapreduce_spark.engine import index as index_mod
    from level_mapreduce_spark.engine.index import ConcurrentWriterError

    monkeypatch.setattr(index_mod, "LEASE_HEARTBEAT_SECS", 0.2)
    idx = kv_index(spark, store, "guardbrk")
    idx.build(
        kv_df(spark, [{"doc_key": "d1", "k": "a", "v": 1.0}]),
        assume_unique=True,
    )
    other = kv_index(spark, store, "guardbrk")
    idx._acquire_lease()
    try:
        # ticking heartbeat -> guarded break refuses, lock survives
        _t.sleep(0.5)  # let at least one tick land
        with _pytest.raises(ConcurrentWriterError, match="ALIVE"):
            other.break_lease(min_dead_secs=30.0)
        assert other.get_sidecar(name="writer.lock") is not None
    finally:
        idx._release_lease()

    # dead holder: acquire, kill the hb thread without releasing
    # (simulates a crash between acquire and release)
    idx._acquire_lease()
    stop = idx._lease_hb_stop
    stop.set()
    idx._lease_hb_thread.join(timeout=30)
    idx._lease_hb_stop = None
    idx._lease_hb_thread = None
    _t.sleep(1.2)
    # still too fresh for a 30s guard -> refuses...
    with _pytest.raises(ConcurrentWriterError, match="ALIVE"):
        other.break_lease(min_dead_secs=30.0)
    # ...but stale for a 1s guard -> breaks
    assert other.break_lease(min_dead_secs=1.0) is True
    assert other.get_sidecar(name="writer.lock") is None
    idx._lease_lost = False  # handle state: lease gone by design here

    # unreadable liveness refuses under the guard
    idx2 = kv_index(spark, store, "guardbrk2")
    idx2.build(
        kv_df(spark, [{"doc_key": "d1", "k": "a", "v": 1.0}]),
        assume_unique=True,
    )
    idx2._acquire_lease()
    try:
        def boom(name="meta.json"):
            raise IOError("store down")

        monkeypatch.setattr(idx2, "get_sidecar", boom)
        # the refusal is the DOCUMENTED type even when the lock read
        # itself dies — operator tooling catches ConcurrentWriterError
        with _pytest.raises(ConcurrentWriterError, match="could not be read"):
            idx2.break_lease(min_dead_secs=1.0)
    finally:
        monkeypatch.undo()
        # re-apply the heartbeat shrink wiped by undo()
        idx2._release_lease()

    # unguarded break: unchanged unconditional behavior
    idx2._acquire_lease()
    assert idx2.break_lease() is True
    idx2._lease_lost = False


def test_sidecar_read_survives_concurrent_rewrites(spark, store):
    """r11 hardening (VERDICT r10 #1): put_sidecar's rename-over swaps
    the data file atomically, but ChecksumFileSystem moves the .crc
    shadow in a separate step — a reader racing a rewrite can see new
    data + stale crc (ChecksumException). get_sidecar must absorb that
    torn window with bounded retries so EVERY caller (the catalog, the
    heartbeat poll in test_heartbeat_survives_transient_read_errors,
    future product code) reads through rewrites without guards.

    Stress shape: one thread rewrites the sidecar as fast as it can
    (mimicking the every-tick writer.hb) while the main thread reads
    it >=100 times. Pre-fix this hit ChecksumException within a few
    hundred iterations on local FS."""
    import threading

    idx = kv_index(spark, store, "tornread")
    idx.build(
        kv_df(spark, [{"doc_key": "d1", "k": "a", "v": 1.0}]),
        assume_unique=True,
    )
    idx.put_sidecar({"tick": -1}, name="writer.hb")
    stop = threading.Event()
    writer_err: list[Exception] = []

    def rewriter():
        i = 0
        while not stop.is_set():
            try:
                idx.put_sidecar({"tick": i}, name="writer.hb")
            except Exception as e:  # noqa: BLE001 — surfaced below
                writer_err.append(e)
                return
            i += 1

    t = threading.Thread(target=rewriter, daemon=True)
    t.start()
    try:
        for _ in range(150):
            doc = idx.get_sidecar(name="writer.hb")
            # the file exists for the whole loop (rename-over never
            # leaves a gap) and every observed state is a complete doc
            assert doc is not None and "tick" in doc
    finally:
        stop.set()
        t.join(timeout=30)
    assert not writer_err, f"rewriter died: {writer_err[0]!r}"


def test_sidecar_persistent_corruption_still_raises(spark, store):
    """The torn-read retry must NOT paper over at-rest corruption: a
    sidecar that is genuinely bad on every attempt (truncated JSON
    written directly, no concurrent writer) exhausts the bounded
    retries and raises loudly instead of spinning or returning None."""
    import pytest as _pytest

    idx = kv_index(spark, store, "atrest")
    idx.build(
        kv_df(spark, [{"doc_key": "d1", "k": "a", "v": 1.0}]),
        assume_unique=True,
    )
    bad = os.path.join(store, "atrest", "broken.json")
    with open(bad, "w", encoding="utf-8") as f:
        f.write('{"half":')  # truncated — invalid on every read
    with _pytest.raises(IOError, match="torn-read"):
        idx.get_sidecar(name="broken.json")


def test_zombie_heartbeat_does_not_poison_next_lease(spark, store):
    """r10 hardening: a heartbeat tick whose lock read unblocks AFTER
    release already began (its stop event set) must not flag theft —
    the handle may be holding a NEW lease by then, and the stale flag
    would make that lease's clean release raise spuriously."""
    import threading

    idx = kv_index(spark, store, "zombie")
    idx.build(
        kv_df(spark, [{"doc_key": "d1", "k": "a", "v": 1.0}]),
        assume_unique=True,
    )
    stop = threading.Event()

    def read_unblocked_after_release(raise_errors=False):
        # models: read hung, release set stop + moved on, read now
        # returns "lock missing"
        stop.set()
        return None

    idx._read_lock = read_unblocked_after_release
    idx._lease_lost = False
    try:
        idx._lease_heartbeat_loop(stop, 0.01)
        assert idx._lease_lost is False, (
            "a post-release zombie tick must not set _lease_lost"
        )
    finally:
        del idx._read_lock


def test_release_refuses_to_delete_unreadable_lock(spark, store):
    """r10 hardening: if the store errors on every ownership read at
    release, the lock might be a successor's (after a break_lease) —
    release must refuse to delete and point at break_lease, never
    classify 'unreadable' as 'unowned and safe to remove'."""
    idx = kv_index(spark, store, "unreadable")
    idx.build(
        kv_df(spark, [{"doc_key": "d1", "k": "a", "v": 1.0}]),
        assume_unique=True,
    )
    idx._acquire_lease()

    def always_fails(raise_errors=False):
        raise RuntimeError("store outage")

    idx._read_lock = always_fails
    try:
        try:
            idx._release_lease()
            raise AssertionError("expected IOError")
        except IOError as e:
            assert "break_lease" in str(e)
    finally:
        del idx._read_lock
    # the lock survived the refused release; a recovered store clears it
    assert idx._read_lock() is not None
    assert idx.break_lease() is True


def _rekey_downstream(spark, store, name):
    """Piped downstream that re-keys every upstream emit by_<key> —
    the replication shape (reference index.js:250-253)."""
    mapper = ExprMapper(
        F.transform(
            F.col("value"),
            lambda p: F.struct(
                F.concat(F.lit("by_"), p["index_key"]).alias("index_key"),
                p["value"].alias("value"),
            ),
        ),
        value_type=T.DoubleType(),
    )
    return MapIndex(spark, name, mapper, store)


def test_delete_range_survives_reentrant_auto_fold(spark, store, monkeypatch):
    """ADVICE r11 (high): delete_range with auto_compact=True (the
    default) can trip _set_compaction_due and reentrantly run
    compact() via _auto_fold. The downstream must still receive the
    deletion feed afterwards: once tombstoned, a doomed doc has no
    live emits, so the feed is the same before and after the fold
    (it once read a scratch file the reentrant fold had swept, and
    chained downstreams permanently missed the deletions)."""
    from level_mapreduce_spark.engine import index as index_mod

    idx = kv_index(spark, store, "drf_up")  # auto_compact defaults True
    down = _rekey_downstream(spark, store, "drf_down")
    idx.pipe(down)
    rows = [
        {"doc_key": f"d{i}", "k": f"k{i}", "v": float(i)} for i in range(6)
    ]
    idx.build(kv_df(spark, rows), assume_unique=True)
    assert live_rows(down) == sorted(
        (f"d{i}", f"by_k{i}", float(i)) for i in range(6)
    )

    # force tombstone byte pressure so delete_range's _set_compaction_due
    # fires and _auto_fold escalates to the FULL reentrant compact()
    monkeypatch.setattr(index_mod, "TOMBSTONE_BROADCAST_BYTES", 1)
    assert idx.delete_range(start="k0", end="k3") == 3

    # upstream dropped d0-d2 (and the reentrant fold actually ran:
    # everything reclaimed into one epoch, tombstones gone)
    assert live_rows(idx) == sorted(
        (f"d{i}", f"k{i}", float(i)) for i in range(3, 6)
    )
    assert len(_epochs(idx)) == 1
    assert not _tomb_epochs(idx)
    # THE regression: the downstream received the deletion feed
    assert live_rows(down) == sorted(
        (f"d{i}", f"by_k{i}", float(i)) for i in range(3, 6)
    )
    # nothing under root that a reader listing the index could ingest
    import os

    leftovers = [
        p
        for p in os.listdir(idx.root)
        if not p.startswith(("_", "."))
        and p not in ("segments", "tombstones")
    ]
    assert leftovers == [], leftovers


_RACE_CHILD = r'''
"""Second-OS-process writer for the cross-process lease race test:
own SparkSession, same store. Protocol via marker files:
writes <m>/acquired once the lease is held, waits for <m>/go_release,
then updates (reentrant under the held lease), releases, exits 0."""
import os
import sys
import time

sys.path.insert(0, sys.argv[4])
from pyspark.sql import functions as F
from pyspark.sql import types as T

from level_mapreduce_spark import ExprMapper, MapIndex, get_spark

store, name, markers, repo = sys.argv[1:5]
spark = get_spark(app_name="lease-race-child", master="local[2]")
mapper = ExprMapper.of((F.col("k"), F.col("v")), value_type=T.DoubleType())
idx = MapIndex(spark, name, mapper, store)
idx._acquire_lease()
try:
    with open(os.path.join(markers, "acquired"), "w") as f:
        f.write(idx._writer_id)
    deadline = time.time() + 120
    while not os.path.exists(os.path.join(markers, "go_release")):
        if time.time() > deadline:
            raise TimeoutError("parent never signaled go_release")
        time.sleep(0.2)
    # mutate while holding (reentrant acquire inside update)
    idx.update(
        spark.createDataFrame(
            [("d_child", "child", 777.0, False, 0)],
            "doc_key string, k string, v double, deleted boolean, seq long",
        ),
        assume_unique=True,
    )
finally:
    idx._release_lease()
spark.stop()
'''


def test_multiprocess_lease_race(spark, store, tmp_path):
    """VERDICT r11 #3: the single-writer lease enforced ACROSS OS
    processes through the real store — not faked store objects. A
    second process (own SparkSession, same store) acquires, and while
    its heartbeat is live this session's handle must lose with the
    typed ConcurrentWriterError on BOTH a writer op and a guarded
    break_lease; after the child releases, this session wins the
    lease and observes the child's committed update. (Reference
    anchor: the in-process mutex this replaces, index.js:114.)"""
    import subprocess
    import sys
    import time

    from level_mapreduce_spark.engine.index import ConcurrentWriterError

    idx = kv_index(spark, store, "race")
    idx.build(
        kv_df(spark, [{"doc_key": "d1", "k": "a", "v": 1.0}]),
        assume_unique=True,
    )

    markers = str(tmp_path / "markers")
    os.makedirs(markers)
    script = str(tmp_path / "race_child.py")
    with open(script, "w") as f:
        f.write(_RACE_CHILD)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(
        os.environ,
        SPARK_DRIVER_MEMORY="2g",
        SPARK_SHUFFLE_PARTITIONS="4",
    )
    env.pop("SPARK_GRAFT_CPUS", None)
    env.pop("SPARK_GRAFT_UI", None)
    child = subprocess.Popen(
        [sys.executable, script, store, "race", markers, repo],
        env=env,
        stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT,
    )
    try:
        deadline = time.time() + 180  # child pays full JVM start-up
        while not os.path.exists(os.path.join(markers, "acquired")):
            assert child.poll() is None, (
                "child died before acquiring:\n"
                + child.stdout.read().decode(errors="replace")[-3000:]
            )
            assert time.time() < deadline, "child never acquired"
            time.sleep(0.2)

        # loser semantics while the other PROCESS holds the lease
        try:
            idx.update(
                kv_df(spark, [{"doc_key": "d2", "k": "b", "v": 2.0}])
            )
            raise AssertionError("expected ConcurrentWriterError")
        except ConcurrentWriterError as e:
            assert "race" in str(e)
        # its heartbeat is fresh, so a guarded break refuses too
        try:
            idx.break_lease(min_dead_secs=3600.0)
            raise AssertionError("expected ConcurrentWriterError")
        except ConcurrentWriterError:
            pass

        with open(os.path.join(markers, "go_release"), "w") as f:
            f.write("go")
        out, _ = child.communicate(timeout=180)
        assert child.returncode == 0, out.decode(errors="replace")[-3000:]
    finally:
        if child.poll() is None:
            child.kill()
            child.communicate()

    # lease is free again: this session wins and sees the child's write
    idx.update(kv_df(spark, [{"doc_key": "d2", "k": "b", "v": 2.0}]))
    assert live_rows(idx) == [
        ("d1", "a", 1.0),
        ("d2", "b", 2.0),
        ("d_child", "child", 777.0),
    ]
