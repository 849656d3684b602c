"""Bench harness — headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
``{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}``

Covers BASELINE.md's four planned engine measurements (build
throughput, pruned-scan latency, incremental-vs-rebuild, chained
propagation) plus the flagship read/aggregate queries and the
LLM-pipeline operators. Every timed query materializes fully through
the JVM noop sink (or a driver collect for point lookups, matching the
reference's callback-collect API).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from level_mapreduce_spark import get_spark
from level_mapreduce_spark import queries as q
from level_mapreduce_spark.engine.index import MapIndex
from level_mapreduce_spark.sources.tables import load_table


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _cpu_probe_ms(light: bool = False) -> float:
    """Fixed single-thread Python kernel (~0.2 s on an idle core),
    min-of-2 to damp interpreter/GC hiccups. Timed before AND after
    the run so a wave-inflated artifact carries its own interference
    evidence (VERDICT r14 #1: three same-code sf1.0 shots spread
    179-279 s under a co-tenant load wave, and only hand-run probes
    could arbitrate): under CPU contention the probe min rises while
    the code is unchanged; on a quiet box it is flat run-to-run.
    ``light``: one iteration (mid-run window brackets trade a little
    jitter for ~4x less overhead per snapshot)."""
    best = None
    x = 0
    for _ in range(1 if light else 2):
        t0 = time.perf_counter()
        x = 0
        for i in range(2_000_000):
            x = (x ^ (i * 2654435761)) & 0xFFFFFFFFFFFF
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    assert x >= 0  # keep the loop un-eliminable
    return round(best * 1000.0, 1)


def _spark_probe_ms(spark, light: bool = False) -> float:
    """Fixed ALL-CORES Spark kernel (range-sum over one task per
    core), min-of-2. The single-thread probe misses the r15 failure
    mode — a co-tenant stealing PARALLEL throughput while any one
    core stays fast (probe flat, loadavg low, every multi-core bench
    key 1.5-4x over its quiet ref). This kernel IS a multi-core bench
    key, minus the code under test, so its before/after ratio and its
    level vs the quiet window arbitrate that mode from the artifact
    alone."""
    n_part = spark.sparkContext.defaultParallelism
    best = None
    # 3 runs, FIRST discarded: at session start the first collect
    # pays codegen + executor spin-up (~1.3 s vs the 0.14 s steady
    # state measured r15) and would read as a phantom wave. Mid-run
    # (``light``) the session is warm, so min-of-2 with no discard.
    runs = (0, 1) if light else (-1, 0, 1)
    for i in runs:
        t0 = time.perf_counter()
        spark.range(0, 2_000_000 * n_part, 1, n_part).selectExpr(
            "sum(id * 3 % 7)"
        ).collect()
        dt = time.perf_counter() - t0
        if i < 0:
            continue
        best = dt if best is None else min(best, dt)
    return round(best * 1000.0, 1)


def _blas_probe_ms(light: bool = False) -> float:
    """Fixed memory-bandwidth-bound BLAS kernel (4000x64 gram matrix
    -> 128 MB output), min-of-2. Third interference mode, found r15:
    co-tenant MEMORY-BANDWIDTH steal collapses dense-kernel keys
    (neardup_blocked ran 25x over its ref while loadavg, the
    single-thread integer probe — which lives in L1 — and the Spark
    range-sum probe all read healthy; raw single-process numpy on the
    same box spread 10.7-40.9 s on an identical matmul). This probe
    IS that substrate, minus Spark."""
    import numpy as np

    x = np.random.default_rng(7).normal(size=(4000, 64))
    best = None
    for _ in range(1 if light else 2):
        t0 = time.perf_counter()
        (x @ x.T).sum()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return round(best * 1000.0, 1)


def _interference_snapshot(spark=None, light: bool = False) -> dict:
    """One (probe, loadavg) reading. ``loadavg_1m`` taken BEFORE the
    run is the clean co-tenant signal (we have generated no load
    yet); taken after, it includes our own executors — recorded
    anyway for completeness. ``light`` snapshots (~0.6 s) bracket
    mid-run wave windows every ~10 keys."""
    try:
        load = os.getloadavg()
    except OSError:  # platforms without getloadavg
        load = (float("nan"),) * 3
    out = {
        "probe_ms": _cpu_probe_ms(light=light),
        "blas_probe_ms": _blas_probe_ms(light=light),
        "loadavg_1m": round(load[0], 2),
        "loadavg_5m": round(load[1], 2),
    }
    if spark is not None:
        out["spark_probe_ms"] = _spark_probe_ms(spark, light=light)
    return out


# healthy probe levels for wave detection: the quiet refs pin the
# levels measured in a quiet window; until a field is pinned there,
# these measured fallbacks apply (cpu probe ~225 ms is flat even
# DURING waves — it lives in L1; spark ~105 ms, blas ~100-150 ms on
# the quiet box, r15 lab notes)
_HEALTHY_FALLBACK = {"probe_ms": 230.0, "spark_probe_ms": 110.0,
                     "blas_probe_ms": 150.0}
_WAVE_RATIO = 1.5


def _healthy_levels() -> dict:
    """Per-probe healthy levels: quiet-ref pinned where available,
    fallback estimates otherwise. The blas ref is a documented wave-
    era UPPER BOUND (QUIET_REFS notes) — take min(ref, fallback) so
    an inflated ref cannot mask a wave."""
    try:
        refs = json.load(
            open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                              "QUIET_REFS.json"))
        )
    except Exception:  # noqa: BLE001 — refs are optional
        refs = {}
    out = {}
    for field, fb in _HEALTHY_FALLBACK.items():
        ref = refs.get(field)
        out[field] = min(ref, fb) if ref else fb
    return out


def _snap_wavy(snap: dict, healthy: dict) -> list[str]:
    """Which probes in this snapshot exceed their healthy level by
    >_WAVE_RATIO — empty list = quiet reading."""
    hits = []
    for field, lvl in healthy.items():
        v = snap.get(field)
        if v and lvl and v / lvl > _WAVE_RATIO:
            hits.append(f"{field} {v:.0f}ms={v / lvl:.1f}x")
    return hits


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    # SPARK_GRAFT_UI=true adds whole-run spill totals to the JSON (the
    # r12 sf1.0 scale pass); retention must exceed the run's stage
    # count or the REST sums silently undercount
    ui = os.environ.get("SPARK_GRAFT_UI", "").lower() == "true"
    spark = get_spark(
        app_name="lmr-bench",
        extra_conf={"spark.ui.retainedStages": "100000"} if ui else None,
    )
    store = tempfile.mkdtemp(prefix="lmr_bench_")
    before = _interference_snapshot(spark)
    times: dict[str, float] = {}

    errors: dict[str, str] = {}
    # wave-resilience bookkeeping (VERDICT r15 #1): the key order, each
    # key's callable (for the post-run re-time pass), and light probe
    # snapshots every ~10 keys so the JSON can bracket WHICH keys
    # overlapped a co-tenant wave instead of one before/after banner
    key_log: list[str] = []
    fns: dict[str, tuple] = {}
    mid_snaps: list[dict] = []
    in_retime = [False]
    # per-key executed-shot counts (VERDICT r16 #2): the re-time pass
    # gives damaged keys extra min-merge shots that a previous round's
    # run may not have had; recording min-of-N vs min-of-M makes that
    # protocol asymmetry visible in the artifact instead of silent
    n_shots: dict[str, int] = {}

    def timed(name: str, fn, repeat: int = 2) -> None:
        # min-of-N: drops first-run codegen/JIT-compile noise so
        # round-over-round comparisons track real plan cost.
        # Per-query isolation: one failing query must never abort the
        # run before the JSON line prints (the r4 bench died on the
        # LAST query and lost every completed measurement).
        # Sub-second keys get one EXTRA repeat (VERDICT r11 #4):
        # min-of-2 on a <1 s key is inside this box's run-to-run noise
        # band (BASELINE.md's 5-run spread evidence: 31-37 of 48 keys
        # move >±10 % between consecutive runs), which made untouched
        # keys flag phantom 1.5-1.8× regressions round over round;
        # min-of-3 costs ~15 s across the whole set and damps it.
        # stderr marker: Spark WARNs (large task binaries, spill, ...)
        # land on stderr with stage ids but no job context; this line
        # lets any stderr capture be correlated to the key that was
        # running (r12 shipped an unattributable 1 MB-task-binary WARN)
        print(f"[bench-key] {name}", file=sys.stderr, flush=True)
        if not in_retime[0]:
            key_log.append(name)
            fns[name] = (fn, repeat)
        best = None
        try:
            for _ in range(repeat):
                t0 = time.time()
                fn()
                dt = time.time() - t0
                n_shots[name] = n_shots.get(name, 0) + 1
                best = dt if best is None else min(best, dt)
            if repeat > 1 and best is not None and best < 1.0:
                t0 = time.time()
                fn()
                n_shots[name] = n_shots.get(name, 0) + 1
                best = min(best, time.time() - t0)
        except Exception as e:  # noqa: BLE001 — record and continue
            errors[name] = f"{type(e).__name__}: {e}"[:300]
            if best is None:
                return
        # min-merge so a re-time pass can only improve a key
        best = round(best, 3)
        times[name] = min(times.get(name, best), best)
        if not in_retime[0] and len(key_log) % 10 == 0:
            snap = _interference_snapshot(spark, light=True)
            snap["after_n_keys"] = len(key_log)
            mid_snaps.append(snap)

    try:
        _run(spark, sf_dir, store, timed)
    except Exception as e:  # noqa: BLE001 — setup outside timed()
        errors["__setup__"] = f"{type(e).__name__}: {e}"[:300]

    after = _interference_snapshot(spark)

    # ---- per-key wave windows + re-time pass (VERDICT r15 #1) ----
    # Bracket the run into windows bounded by consecutive probe
    # snapshots; a window is wavy when either bound shows a probe
    # >1.5x its healthy level. Keys inside wavy windows were measured
    # against a co-tenant and get ONE re-time pass at run end (min-
    # merged), but only if the run-end probes read quiet — re-timing
    # into the same wave would just burn wall-clock.
    healthy = _healthy_levels()
    bounds = (
        [dict(before, after_n_keys=0)]
        + mid_snaps
        + [dict(after, after_n_keys=len(key_log))]
    )
    windows: list[dict] = []
    for i in range(len(bounds) - 1):
        lo, hi = bounds[i]["after_n_keys"], bounds[i + 1]["after_n_keys"]
        w_hits = _snap_wavy(bounds[i], healthy) + _snap_wavy(
            bounds[i + 1], healthy
        )
        windows.append(
            {
                "keys": key_log[lo:hi],
                "wavy": bool(w_hits),
                "evidence": sorted(set(w_hits)),
            }
        )
    burned = [k for w in windows if w["wavy"] for k in w["keys"]]
    retimed: list[str] = []
    retime_note = None
    # bounded quiet-wait (VERDICT r16 #2): when keys were burned and
    # the run-end probes still read wavy, re-timing immediately would
    # re-measure the wave. Poll the light probes for up to ~2 min; if
    # two consecutive readings come back quiet, the re-time pass runs
    # against a quiet box. Capped so a persistent wave costs at most
    # 2 min of wall-clock, and the wait itself is recorded.
    quiet_wait_s = 0.0
    after_pre_wait = None
    if burned and _snap_wavy(after, healthy):
        wait_t0 = time.time()
        quiet_streak = 0
        while time.time() - wait_t0 < 120.0:
            time.sleep(10.0)
            snap = _interference_snapshot(spark, light=True)
            if _snap_wavy(snap, healthy):
                quiet_streak = 0
            else:
                quiet_streak += 1
                if quiet_streak >= 2:
                    after_pre_wait = after
                    after = dict(
                        snap, after_n_keys=len(key_log), quiet_waited=True
                    )
                    break
        quiet_wait_s = round(time.time() - wait_t0, 1)
    if burned and not _snap_wavy(after, healthy):
        targets, mode = burned, "all wave-window keys"
    elif burned:
        # wave still raging: a full re-pass would re-measure the wave,
        # but the probes oscillate trough-to-crest within a run, so
        # give the keys that actually LOOK damaged (over their quiet
        # ref x1.5) one more min-merge shot — bounded extra wall-clock,
        # can only improve
        try:
            ref_keys = json.load(
                open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                  "QUIET_REFS.json"))
            ).get("keys", {})
        except Exception:  # noqa: BLE001
            ref_keys = {}
        targets = [
            k
            for k in burned
            if k in ref_keys and times.get(k, 0) > ref_keys[k] * 1.5
        ]
        mode = "wave ongoing at run end; damaged-looking keys only"
    else:
        targets, mode = [], ""
    if targets:
        in_retime[0] = True
        for name in targets:
            if name in errors or name not in fns:
                continue
            fn, repeat = fns[name]
            pre = times.get(name)
            timed(name, fn, repeat=repeat)
            if pre is not None and times.get(name, pre) < pre:
                retimed.append(name)
        retime_note = (
            f"re-timed {len(targets)} keys ({mode}); "
            f"{len(retimed)} improved"
        )
    elif burned:
        retime_note = (
            f"{len(burned)} keys measured inside wavy windows; none "
            "exceeded quiet ref x1.5, no re-time needed"
        )

    shutil.rmtree(store, ignore_errors=True)
    total = round(sum(times.values()), 3)
    summary = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        # key count rides the artifact so round-over-round totals are
        # traceable to "N keys" without recounting the queries dict
        # (BASELINE.md quotes this field)
        "n_keys": len(times),
        "queries": times,
        "sf": sf,
        # self-arbitration block: compare_quiet prints a
        # "wave suspected" banner from these alone — no lab-notes
        # cross-reference needed to discount a co-tenant-inflated shot
        "interference": {
            "before": before,
            "after": after,
            # the run-end snapshot a successful quiet-wait replaced
            **(
                {"after_pre_wait": after_pre_wait} if after_pre_wait else {}
            ),
            "mid": mid_snaps,
            "windows": windows,
            "healthy": healthy,
            "retimed": retimed,
            **({"retime_note": retime_note} if retime_note else {}),
            **(
                {"quiet_wait_s": quiet_wait_s} if quiet_wait_s else {}
            ),
            # min-of-N transparency: how many executed shots each
            # key's min was taken over (re-time shots included)
            "n_shots": n_shots,
            "ncpu": os.cpu_count(),
        },
    }
    if ui:
        try:
            import urllib.request

            base = spark.sparkContext.uiWebUrl
            # THIS run's app id, not applications[0] (ADVICE r12): the
            # list index mis-attributes stages if the REST endpoint
            # ever serves more than one application
            app_id = spark.sparkContext.applicationId
            with urllib.request.urlopen(
                f"{base}/api/v1/applications/{app_id}/stages"
            ) as r:
                stages = json.load(r)
            summary["spill_mem_mb"] = round(
                sum(s.get("memoryBytesSpilled", 0) for s in stages) / 1e6, 1
            )
            summary["spill_disk_mb"] = round(
                sum(s.get("diskBytesSpilled", 0) for s in stages) / 1e6, 1
            )
            summary["n_stages"] = len(stages)
        except Exception as e:  # noqa: BLE001 — spill is best-effort
            errors["__spill__"] = f"{type(e).__name__}: {e}"[:200]
    if errors:
        summary["errors"] = errors
    print(json.dumps(summary))


def _warmup(spark, sf_dir: str, store: str) -> None:
    """Deterministic pre-bench warmup (VERDICT r10 #5): compile and
    JIT the plan families the first timed keys hit, UNTIMED, so
    single-shot driver runs stop charging whole-session start-up to
    whichever key runs first. build_orders (the first key) measured
    4.1 s cold vs 0.76 s steady on an idle box — none of that delta
    is plan cost. A ~1k-row build + scan + agg + explode warms the
    parquet write path, the LSM read stack, whole-stage codegen, and
    the Python<->JVM bridge; per-key min-of-N still covers the rest
    (Spark's ~100-entry codegen class cache can evict warm classes
    mid-set, so a one-shot global warmup cannot replace it)."""
    small = load_table(spark, sf_dir, "orders").limit(1000)
    idx = MapIndex(
        spark, "bench_warmup", q._orders_mapper(), store,
        doc_key="o_orderkey",
    )
    idx.build(small, assume_unique=True)
    materialize(idx.scan(start="1", end="3"))
    materialize(
        idx.read().groupBy("index_key").agg(F.count("*").alias("n"))
    )
    idx.get("1-URGENT")
    idx.drop()


def _run(spark, sf_dir: str, store: str, timed) -> None:
    orders = load_table(spark, sf_dir, "orders")
    orders.count()  # warm the session + file listing before timing
    _warmup(spark, sf_dir, store)

    # state guards: if a one-time build key was skipped (scale_probe /
    # key_probe run _run with a key filter) or FAILED, dependent keys
    # and the cleanup must not abort the rest of the run. A failed
    # build still surfaces its dependents loudly: the raiser routes a
    # clear "dependency did not complete" through timed() into errors
    # — a silently-absent key would be indistinguishable from a
    # removed one — while a probe-filtered dependent stays silent
    # (timed() filters it before the raiser runs). Defined FIRST:
    # the postings else-branch is its earliest caller, and a filtered
    # probe run reached it before the old definition site
    # (UnboundLocalError — r16 probe session).
    def dep_failed(name: str, dep: str) -> None:
        def raiser():
            raise RuntimeError(f"skipped: dependency {dep} did not complete")

        timed(name, raiser, repeat=1)

    # --- engine measurements (BASELINE.md) ---------------------------------
    idx = MapIndex(
        spark, "bench_orders", q._orders_mapper(), store, doc_key="o_orderkey"
    )
    timed("build_orders", lambda: idx.build(orders, assume_unique=True))

    timed("point_get", lambda: idx.get("1-URGENT"))
    timed(
        "range_scan",
        lambda: materialize(idx.scan(start="2", end="4")),
    )

    # incremental update (1% churn) vs the full rebuild above
    churn = orders.where(F.col("o_orderkey") % 100 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 1.5
    )
    timed("update_1pct", lambda: idx.update(churn, assume_unique=True))

    # snapshot read of the pre-churn epoch: a partition-pruned filter
    # over the same segments — time travel must price like a read, not
    # a reconstruction
    timed(
        "time_travel_read",
        lambda: materialize(idx.read(as_of_epoch=0)),
    )

    # chained propagation (2-stage pipe, reference replication scenario)
    from pyspark.sql import types as T

    from level_mapreduce_spark.engine.mapper import ExprMapper

    def chained_build():
        a = MapIndex(
            spark, "bench_chain_a", q._orders_mapper(), store, doc_key="o_orderkey"
        )
        b_mapper = ExprMapper(
            F.transform(
                F.col("value"),
                lambda p: F.struct(
                    F.concat(F.lit("by_"), p["index_key"]).alias("index_key"),
                    p["value"].alias("value"),
                ),
            ),
            value_type=T.DoubleType(),
        )
        b = MapIndex(spark, "bench_chain_b", b_mapper, store)
        a.pipe(b)
        a.build(orders, assume_unique=True)

    timed("chained_build", chained_build)

    # --- flagship read/aggregate queries -----------------------------------
    timed("count_by_key", lambda: materialize(idx.count_by_key()))
    timed(
        "group_finish",
        lambda: materialize(
            idx.query().group(finish=lambda r: F.array_min(r)).df
        ),
    )
    timed(
        "query_map",
        lambda: materialize(
            idx.query().map(value=F.col("value") * 2).df
        ),
    )

    # --- LLM-pipeline operators ---------------------------------------------
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    from level_mapreduce_spark.operators import (
        brute_topk,
        exact_dedup,
        minhash_lsh_pairs,
        text_stats,
        tfidf,
    )
    from level_mapreduce_spark.operators.similarity import probe_vector

    timed("dedup_exact", lambda: materialize(exact_dedup(docs)))

    from level_mapreduce_spark.operators.text import hashed_features

    timed("hashed_features", lambda: materialize(hashed_features(docs)))
    def minhash_cold():
        # drop the operator's persisted staging first so every repeat
        # measures the full recompute (warm JIT, cold cache)
        spark.catalog.clearCache()
        materialize(minhash_lsh_pairs(docs, threshold=0.7))

    timed("dedup_minhash", minhash_cold)
    spark.catalog.clearCache()
    timed("text_stats", lambda: materialize(text_stats(docs)))
    timed("tfidf", lambda: materialize(tfidf(docs)))

    from level_mapreduce_spark.operators.bpe import bpe_encode, train_bpe

    def bpe_train_encode():
        # full pipeline: distributed word-count pass -> bounded-head
        # driver merge loop -> Arrow-batched corpus encode (r12 key)
        merges = train_bpe(docs, num_merges=200, max_words=20_000)
        materialize(bpe_encode(docs, merges))

    timed("bpe_train_encode", bpe_train_encode)

    from level_mapreduce_spark.operators.text import bm25_topk

    timed(
        "bm25_topk",
        lambda: materialize(bm25_topk(docs, q._BM25_QUERY, k=10)),
    )

    # r14: the stored postings index — build + 1% churn maintenance +
    # both served retrieval paths. The headline comparison is
    # tfidf (corpus rescan) vs tfidf_from_index (stored postings) and
    # bm25_topk vs bm25_from_index (O(query-terms) pruned scan).
    from level_mapreduce_spark.operators.text import (
        bm25_batch_from_index,
        bm25_topk_from_index,
        build_postings_index,
        tfidf_from_index,
    )

    post_idx: dict = {}

    def postings_build(_n=[0]):
        _n[0] += 1
        post_idx["idx"] = build_postings_index(
            spark, docs, store, name=f"bench_postings_{_n[0]}"
        )

    timed("postings_index_build", postings_build)

    if "idx" in post_idx:

        def postings_update():
            churn_docs = docs.where(F.col("doc_id") % 100 == 0).withColumn(
                "text", F.concat(F.lit("changed "), F.col("text"))
            )
            post_idx["idx"].update(churn_docs, assume_unique=True)

        timed("postings_index_update_1pct", postings_update)
        timed(
            "tfidf_from_index",
            lambda: materialize(tfidf_from_index(post_idx["idx"])),
        )
        timed(
            "bm25_from_index",
            lambda: materialize(
                bm25_topk_from_index(post_idx["idx"], q._BM25_QUERY, k=10)
            ),
        )

        # r16 (VERDICT r15 #4): the bulk-retrieval shape — 100 probe
        # queries in ONE batched plan. Each probe is 8 real tokens
        # from a distinct document (RAG context-fetch shape); the
        # union of distinct terms lands under terms_in_max, so this
        # times the pushed literal-In regime (the semi-join regime
        # is probed separately: scripts/bm25_batch_regime_probe.py)
        probe_queries = (
            docs.where(F.col("text").isNotNull())
            .limit(100)
            .select(
                F.col("doc_id").cast("long").alias("query_id"),
                F.concat_ws(
                    " ", F.slice(F.split(F.lower("text"), "\\s+"), 1, 8)
                ).alias("text"),
            )
            .localCheckpoint(eager=True)
        )

        timed(
            "bm25_batch",
            lambda: materialize(
                bm25_batch_from_index(post_idx["idx"], probe_queries, k=10)
            ),
        )
    else:
        dep_failed("postings_index_update_1pct", "postings_index_build")
        dep_failed("tfidf_from_index", "postings_index_build")
        dep_failed("bm25_from_index", "postings_index_build")
        dep_failed("bm25_batch", "postings_index_build")

    from level_mapreduce_spark.operators.text import inverted_index_mapper

    def inverted():
        iidx = MapIndex(
            spark, "bench_inverted", inverted_index_mapper(), store, doc_key="doc_id"
        )
        iidx.build(docs, assume_unique=True)
        materialize(iidx.count_by_key())

    timed("inverted_index", inverted)

    probe = probe_vector(emb, 0)
    timed("ann_topk", lambda: materialize(brute_topk(emb, probe, k=10)))

    # PQ: one-time train+encode (32x compression), then ADC search
    from level_mapreduce_spark.operators.pq import pq_encode, pq_topk, train_pq

    pq_state = {}

    def pq_build():
        books = train_pq(emb)
        pq_state["books"] = books
        pq_state["codes"] = pq_encode(emb, books).persist()
        pq_state["codes"].count()

    timed("pq_train_encode", pq_build, repeat=1)

    if "codes" in pq_state:
        timed(
            "pq_topk",
            lambda: materialize(
                pq_topk(pq_state["codes"], pq_state["books"], probe, k=10)
            ),
        )
        pq_state["codes"].unpersist()
    else:
        dep_failed("pq_topk", "pq_train_encode")

    # stored IVFPQ: one-time build (train + Column-encode into the
    # MapIndex), then a whole 20-probe workload as ONE batched join —
    # the serve shape for probe tables, vs a per-probe driver loop
    from level_mapreduce_spark.operators.indexed import (
        build_ivfpq_index,
        ivfpq_knn_join,
    )

    ivfpq_state = {}

    # min-of-2 with a fresh index name per run: the one-time builds
    # used to run repeat=1, which measured first-run codegen/JIT
    # compile instead of plan cost — the r7 driver bench showed
    # band_index_build at 5.45 s where the steady-state quiet-box
    # number is 0.92 s, purely because the IVFPQ plans in between
    # evicted the codegen cache the earlier minhash key had warmed.
    # Every other key already drops first-run noise via min-of-N;
    # these now follow the same methodology.
    def ivfpq_build(_n=[0]):
        _n[0] += 1
        ivfpq_state["triple"] = build_ivfpq_index(
            spark, emb, store, name=f"bench_ivfpq_{_n[0]}", n_centroids=8
        )

    timed("ivfpq_index_build", ivfpq_build)

    def ivfpq_batch():
        sidx, cents, books = ivfpq_state["triple"]
        probes = emb.where(F.col("vec_id") < 20).select(
            F.col("vec_id").cast("long").alias("probe_id"), "embedding"
        )
        materialize(ivfpq_knn_join(sidx, cents, books, probes, k=10))

    if "triple" in ivfpq_state:
        timed("ivfpq_knn_join_20", ivfpq_batch)
    else:
        dep_failed("ivfpq_knn_join_20", "ivfpq_index_build")

    from level_mapreduce_spark.operators.indexed import build_band_index
    from level_mapreduce_spark.operators.joins import asof_join

    band_idx = {}

    def band_build(_n=[0]):
        _n[0] += 1
        band_idx["idx"] = build_band_index(
            spark, docs, store, name=f"bench_bands_{_n[0]}"
        )

    timed("band_index_build", band_build)

    def band_update():
        # 1% churn: re-shingle + re-band ONLY the changed docs; each
        # repeat stacks one more O(changed-docs) epoch — same work
        churn_docs = docs.where(F.col("doc_id") % 100 == 0).withColumn(
            "text", F.concat(F.lit("changed "), F.col("text"))
        )
        band_idx["idx"].update(churn_docs, assume_unique=True)

    if "idx" in band_idx:
        timed("band_index_update_1pct", band_update)
    else:
        dep_failed("band_index_update_1pct", "band_index_build")
    # embedding near-dup headlines are the two SCALE paths (LSH-bucketed
    # and blocked-BLAS); the exact O(n²) pair join stays out of the bench
    # — it is the sf0.01 correctness oracle twin, not a 100 TB plan
    from level_mapreduce_spark.operators.similarity import (
        cosine_neardup_pairs_blocked,
        cosine_neardup_pairs_lsh,
    )

    # LSH runs in its design regime: 10% planted exact duplicates,
    # detected at threshold 0.95 (sign-LSH recall collapses at the
    # low thresholds the exact twin demos; near-dup proper is >=0.9)
    emb_aug = emb.unionByName(
        emb.where(F.col("vec_id") % 10 == 0).withColumn(
            "vec_id", F.col("vec_id") + F.lit(10_000_000)
        )
    )
    timed(
        "neardup_lsh",
        lambda: materialize(cosine_neardup_pairs_lsh(emb_aug, threshold=0.95)),
    )
    timed(
        "neardup_blocked",
        lambda: materialize(cosine_neardup_pairs_blocked(emb, threshold=0.42)),
    )
    # r13: SemDeDup — trained k-means codebook + within-cluster
    # greedy leader dedup (the real path; the gate variant uses the
    # literal codebook)
    from level_mapreduce_spark.operators.similarity import semantic_dedup

    timed(
        "semantic_dedup",
        lambda: materialize(semantic_dedup(emb, n_clusters=16, threshold=0.95)),
    )
    # r14: the stored semdedup index — build (batch decisions +
    # embeddings frozen under cluster keys), 1% frozen-leader churn,
    # and the stored-decisions serve
    from level_mapreduce_spark.operators.similarity import (
        build_semdedup_index,
        semdedup_from_index,
        semdedup_update,
    )

    sd_idx: dict = {}

    def semdedup_build(_n=[0]):
        _n[0] += 1
        sd_idx["idx"] = build_semdedup_index(
            spark,
            emb,
            store,
            name=f"bench_semdedup_{_n[0]}",
            n_clusters=16,
            threshold=0.95,
        )

    timed("semdedup_index_build", semdedup_build)

    if "idx" in sd_idx:

        def semdedup_churn():
            new_vecs = emb.where(F.col("vec_id") % 100 == 0).withColumn(
                "vec_id", F.col("vec_id") + F.lit(20_000_000)
            )
            materialize(semdedup_update(sd_idx["idx"], new_vecs))

        timed("semdedup_index_update_1pct", semdedup_churn)
        timed(
            "semdedup_index_serve",
            lambda: materialize(semdedup_from_index(sd_idx["idx"])),
        )
    else:
        dep_failed("semdedup_index_update_1pct", "semdedup_index_build")
        dep_failed("semdedup_index_serve", "semdedup_index_build")

    # r4/r5 LLM-pipeline additions: sub-document chunk dedup, batch
    # k-NN join, Gopher repetition signals
    from level_mapreduce_spark.operators.dedup import chunk_dedup
    from level_mapreduce_spark.operators.similarity import knn_join
    from level_mapreduce_spark.operators.text import text_repetition

    timed("chunk_dedup", lambda: materialize(chunk_dedup(docs, chunk_tokens=20)))
    # r13: Lee et al. exact-substring dedup — sliding 10-token window,
    # corpus-wide duplicate windows merged to maximal per-doc spans
    from level_mapreduce_spark.operators.dedup import repeated_spans

    timed("repeated_spans", lambda: materialize(repeated_spans(docs, ngram=10)))
    # r14: the cut — duplicated spans removed from the text
    from level_mapreduce_spark.operators.dedup import remove_repeated_spans

    timed(
        "span_remove",
        lambda: materialize(remove_repeated_spans(docs, ngram=10)),
    )
    # r13: the stored span index — build + 1% churn maintenance + the
    # index-served stats (the incremental sub-document-dedup path)
    from level_mapreduce_spark.operators.dedup import (
        build_span_index,
        repeated_spans_from_index,
    )

    span_idx: dict = {}

    def span_build(_n=[0]):
        _n[0] += 1
        span_idx["idx"] = build_span_index(
            spark, docs, store, name=f"bench_span_{_n[0]}", ngram=10
        )

    timed("span_index_build", span_build)

    if "idx" in span_idx:

        def span_update():
            churn_docs = docs.where(F.col("doc_id") % 100 == 0).withColumn(
                "text", F.concat(F.lit("changed "), F.col("text"))
            )
            span_idx["idx"].update(churn_docs, assume_unique=True)

        timed("span_index_update_1pct", span_update)
        timed(
            "span_index_serve",
            lambda: materialize(repeated_spans_from_index(span_idx["idx"])),
        )
    else:
        dep_failed("span_index_update_1pct", "span_index_build")
        dep_failed("span_index_serve", "span_index_build")
    # r9: PassJoin-blocked edit-distance pairs over 40-char prefixes —
    # the operator whose q-gram form was the documented out-of-envelope
    # regime on this corpus (338 s at sf0.1); the segment-blocked form
    # is a headline key now that it runs in-envelope here
    from level_mapreduce_spark.operators.dedup import edit_distance_pairs

    titles = docs.select(
        "doc_id", F.substring(F.lower(F.col("text")), 1, 40).alias("text")
    )
    timed(
        "fuzzy_pairs",
        lambda: materialize(edit_distance_pairs(titles, max_dist=3)),
    )
    probes = emb.where(F.col("vec_id") < 5)
    timed("knn_join", lambda: materialize(knn_join(emb, probes, k=10)))
    # grouped mode: the shuffle-based scale plan. The default expr plan
    # is oracle-gated in the registry; its giant nested-HOF codegen is
    # also an order of magnitude slower to compile inside a session
    # already carrying many plans — not the headline you want timed.
    timed(
        "text_repetition",
        lambda: materialize(text_repetition(docs, mode="grouped")),
    )

    events_tbl = load_table(spark, sf_dir, "events")

    def asof():
        clicks = events_tbl.where(F.col("event_type") == "click")
        purchases = events_tbl.where(F.col("event_type") == "purchase").select(
            "user_id", "ts", "event_id", "value"
        )
        materialize(asof_join(clicks, purchases, on="user_id", ts="ts"))

    timed("asof_join", asof)

    def interval():
        from level_mapreduce_spark.operators.joins import interval_join

        clicks = events_tbl.where(F.col("event_type") == "click")
        purchases = events_tbl.where(F.col("event_type") == "purchase").select(
            "user_id", "ts", "event_id", "value"
        )
        materialize(
            interval_join(clicks, purchases, on="user_id", ts="ts")
        )

    timed("interval_join", interval)

    from level_mapreduce_spark.operators.events import (
        funnel_stages,
        rolling_user_value,
        session_aggregates,
        sessionize,
        sliding_counts,
        windowed_counts,
    )

    events = load_table(spark, sf_dir, "events")
    timed("events_window", lambda: materialize(windowed_counts(events)))
    timed("events_sessionize", lambda: materialize(sessionize(events)))
    timed(
        "events_session_native",
        lambda: materialize(session_aggregates(events)),
    )
    timed(
        "events_rolling",
        lambda: materialize(rolling_user_value(events)),
    )
    timed("events_funnel", lambda: materialize(funnel_stages(events)))
    timed("events_sliding", lambda: materialize(sliding_counts(events)))

    # corpus cleaning + governance (narrow transforms — the per-doc
    # cost IS the number; zero shuffle by design)
    from level_mapreduce_spark.operators.text import (
        c4_line_filter,
        dedup_lines,
        sample_by_key,
        scrub_pii,
        split_dataset,
    )

    timed("scrub_pii", lambda: materialize(scrub_pii(docs)))
    timed("c4_line_filter", lambda: materialize(c4_line_filter(docs)))
    timed("dedup_lines", lambda: materialize(dedup_lines(docs)))
    timed(
        "split_sample",
        lambda: materialize(
            sample_by_key(split_dataset(docs), rates={"en": 0.35})
        ),
    )

    # continuous-aggregate sketch store: one-time build + O(affected
    # buckets) fold of a 10% tail batch
    from level_mapreduce_spark.operators.sketches import (
        build_sketch_index,
        update_sketch_index,
    )

    sk = {}

    def sk_build():
        sk["idx"] = build_sketch_index(
            spark, events, store, name="bench_sketches"
        )

    timed("sketch_index_build", sk_build, repeat=1)
    if "idx" in sk:
        tail = events.where(F.col("event_id") % 10 == 0)
        timed(
            "sketch_index_update_10pct",
            lambda: update_sketch_index(sk["idx"], tail),
            repeat=1,
        )
    else:
        dep_failed("sketch_index_update_10pct", "sketch_index_build")

    # KLL quantile + theta set-algebra rollups: one pass to sketch,
    # then any-range answers off KB-sized merges (no raw re-scan)
    from level_mapreduce_spark.operators.sketches import (
        quantiles_between,
        theta_user_sketches,
        user_overlap,
        value_quantile_sketches,
    )

    kll_hours = value_quantile_sketches(events).persist()
    theta_hours = theta_user_sketches(events).persist()
    tb = events.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).first()
    mid = tb["lo"] + (tb["hi"] - tb["lo"]) / 2
    timed(
        "kll_quantile_rollup",
        lambda: materialize(
            quantiles_between(kll_hours, "1900-01-01", "9999-01-01")
        ),
    )
    timed(
        "theta_retention",
        lambda: materialize(
            user_overlap(theta_hours, "1900-01-01", mid, mid, "9999-01-01")
        ),
    )
    kll_hours.unpersist()
    theta_hours.unpersist()

    # multi-column layout: one z-order relayout of events (write cost
    # is the price of every later multi-dimension pruned scan)
    import os as _os

    from level_mapreduce_spark.functions.zorder import zorder_write

    timed(
        "zorder_write",
        lambda: zorder_write(
            events.select("event_id", "user_id", "value"),
            ["user_id", "value"],
            _os.path.join(store, "z_events"),
        ),
        repeat=1,
    )

    # shuffled training export: seeded permutation + balanced shard
    # write + integrity manifest — the pipeline's terminal step
    from level_mapreduce_spark.operators.export import write_shuffled

    import os as _os2

    timed(
        "export_shuffled",
        lambda: write_shuffled(
            docs, _os2.path.join(store, "export_docs"), n_shards=16
        ),
    )

    # range tombstone (retention/TTL primitive): one key-pruned scan
    # for the doomed keys + one tombstone epoch, no segment rewrite.
    # LAST: it mutates bench_orders, and every earlier key must see
    # the same data round over round.
    timed("delete_range", lambda: idx.delete_range(start="4", end="6"),
          repeat=1)


if __name__ == "__main__":
    main()
