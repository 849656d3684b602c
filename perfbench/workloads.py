"""The benchmark's workloads, driven through the public API of
``level_mapreduce_spark``.

Each workload is a closed loop with one client: an op starts when the
previous one returns. A run makes its inputs from the seed, warms up
untimed on small indexes of its own (every build, kv_mixed's update and
reads, one BM25 query; the other kinds pay their one-time cost in
their first timed op), then times a fixed sequence: the build, then
whole rounds of the workload's op mix until ``seconds`` have passed
(at least one round). Every answer is checked against
:mod:`perfbench.oracle`.

The end-to-end metrics every workload reports:

- ``build_s``: the timed from-scratch build of the workload's indexes;
- ``read_p50_ms``: median latency of the workload's read ops;
- ``update_p50_s``: median latency of one change batch;
- ``store_bytes_per_doc``: bytes on disk after the workload's first
  round of writes, divided by the live documents.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from level_mapreduce_spark import ExprMapper, MapIndex, PythonMapper, emit
from level_mapreduce_spark.operators.similarity import (
    build_semdedup_index,
    semdedup_from_index,
    semdedup_update,
)
from level_mapreduce_spark.operators.text import (
    bm25_batch_from_index,
    bm25_topk_from_index,
    build_postings_index,
)
from perfbench import inputs, mapfn, oracle
from perfbench.trace import Recorder

KV_SCHEMA = "doc_key string, date string, cat int, amount long"
KV_CHANGE_SCHEMA = KV_SCHEMA + ", deleted boolean"
DOC_SCHEMA = "doc_id long, text string"
DOC_CHANGE_SCHEMA = DOC_SCHEMA + ", deleted boolean"
VEC_SCHEMA = "vec_id long, embedding array<double>"
QUERY_SCHEMA = "query_id long, text string"
SEMDEDUP_THRESHOLD = 0.95
SEMDEDUP_CLUSTERS = 16
TOP_K = 10
KV_WARM_DOCS = 2_000
LLM_WARM_DOCS = 500


@dataclass
class Run:
    """One run: its session, store, recorder and verdicts."""

    spark: object
    store: str
    seed: int
    seconds: float
    rec: Recorder
    errors: list = field(default_factory=list)
    digest: str = ""
    setup_end: float = 0.0

    def frame(self, pdf: pd.DataFrame, schema: str):
        return self.spark.createDataFrame(pdf, schema=schema)

    def rounds(self, limit: int):
        """Round indexes until ``seconds`` have passed (at least one)."""
        stop = time.perf_counter() + self.seconds
        r = 0
        while r < limit and (r == 0 or time.perf_counter() < stop):
            yield r
            r += 1

    def check(self, errs: list[str]) -> None:
        self.errors.extend(errs)

    def mark(self, what: str) -> None:
        """Progress line on stderr: where a run spends its time."""
        print(f"[{time.strftime('%H:%M:%S')}] {what}", file=sys.stderr, flush=True)


# ------------------------------------------------------------ helpers


def kv_mapper() -> ExprMapper:
    """Two emits per doc: a sortable date key for range scans and a
    skewed category key for point lookups, both carrying the amount."""
    return ExprMapper(
        F.array(
            emit(F.concat(F.lit("D#"), F.col("date")), F.col("amount")),
            emit(F.format_string("C#%04d", F.col("cat")), F.col("amount")),
        ),
        value_type=T.LongType(),
    )


def sum_finish(values):
    return F.aggregate(values, F.lit(0).cast("long"), lambda acc, x: acc + x)


def store_bytes(idx: MapIndex) -> int:
    """Bytes under the index's segment and tombstone dirs, from the
    file system. The local Hadoop file system's hidden ``.crc``
    checksum files are left out: they are not index data."""
    total = 0
    for top in (idx.segments_path, idx.tombstones_path):
        for root, _, files in os.walk(top):
            total += sum(
                os.path.getsize(os.path.join(root, f))
                for f in files
                if not (f.startswith(".") and f.endswith(".crc"))
            )
    return total


def check_store_bytes(run: Run, idx: MapIndex) -> int:
    """File-system bytes must equal ``stats()`` segment + tombstone
    bytes; returns the bytes."""
    on_disk = store_bytes(idx)
    # called through the class: PostingsIndex shadows stats() with
    # its stats-index attribute
    st = MapIndex.stats(idx)
    listed = st["segment_bytes"] + st["tombstone_bytes"]
    run.check(oracle.check_equal(f"{idx.name} store bytes (listing vs stats)", on_disk, listed))
    return on_disk


def table_digest(df) -> tuple:
    """Order-free digest of index rows: count and sum of row hashes."""
    row = df.select(
        F.count("*").alias("n"),
        F.sum(
            F.xxhash64("index_key", "emit_pos", "value", "doc_key").cast("decimal(38,0)")
        ).alias("h"),
    ).collect()[0]
    return (row["n"], row["h"])


def counts(df) -> dict:
    return {r["index_key"]: r["n"] for r in df.collect()}


# ----------------------------------------------------------- kv_mixed


def _kv_read(rec: Recorder, idx: MapIndex, op: tuple):
    if op[0] == "get":
        return rec.run("engine.index.get", idx.get, op[1])
    if op[0] == "scan":
        return rec.run("engine.index.scan", lambda: idx.scan(start=op[1], end=op[2]).count())
    rows = rec.run(
        "engine.query.group",
        lambda: idx.query(start=op[1], end=op[2]).group(finish=sum_finish).end(),
    )
    return None if rows is None else [(r["key"], r["result"]) for r in rows]


def _kv_expect(state: oracle.KvState, op: tuple):
    if op[0] == "get":
        return state.get(op[1])
    if op[0] == "scan":
        return state.scan_count(op[1], op[2])
    return state.group_sum(op[1], op[2])


def _fresh_key(batch: pd.DataFrame) -> str:
    """The category key of the batch's upsert in the rarest category:
    a small answer that must show the new value."""
    live = batch[~batch["deleted"]]
    return "C#%04d" % live["cat"].max()


READ_KINDS = ("engine.index.get", "engine.index.scan", "engine.query.group")
KV_BATCHES_PER_ROUND = 2
KV_COMPACT_EPOCHS = 2


def _kv_pair(run: Run, name: str) -> tuple[MapIndex, MapIndex]:
    """The kv index piped into a downstream index whose map fn is
    arbitrary Python (the reference's map-function model)."""
    up = MapIndex(run.spark, name, kv_mapper(), run.store, auto_compact=False)
    down = MapIndex(
        run.spark,
        name + "_down",
        PythonMapper(mapfn.replicate, value_type=T.LongType()),
        run.store,
        auto_compact=False,
    )
    up.pipe(down)
    return up, down


def kv_mixed(run: Run) -> dict:
    """Serving reads between write batches on a chained index pair.

    A round applies change batches (each followed by a freshness get
    of a changed key), serves a seeded get/scan/group mix while the
    batches' tombstones are live, deletes one day's date range, and
    minor-compacts both indexes."""
    seed, rec = run.seed, run.rec
    n = inputs.KV_MAX_ROUNDS
    docs = inputs.kv_docs(seed)
    batches = [inputs.kv_batch(seed, b) for b in range(n * KV_BATCHES_PER_ROUND)]
    reads = [inputs.kv_read_round(seed, r) for r in range(n)]
    ranges = [inputs.kv_delete_range(seed, r) for r in range(n)]
    run.digest = inputs.digest([docs, *batches, reads, ranges])

    # warm-up on a small pair of its own: build, update and each read
    warm = _kv_pair(run, "warm")[0]
    warm.build(run.frame(docs.head(KV_WARM_DOCS), KV_SCHEMA), assume_unique=True)
    warm.update(run.frame(batches[0].head(20), KV_CHANGE_SCHEMA))
    for kind in ("get", "scan", "group"):
        _kv_read(Recorder(run.spark, trace=False), warm, next(o for o in reads[0] if o[0] == kind))
    run.setup_end = time.time()
    run.mark("warm-up done")

    rec.start_timed_phase()
    up, down = _kv_pair(run, "kv")
    rec.run("engine.index.build", up.build, run.frame(docs, KV_SCHEMA), assume_unique=True)
    state = oracle.KvState(docs)
    size = None
    for r in run.rounds(n):
        for b in range(r * KV_BATCHES_PER_ROUND, (r + 1) * KV_BATCHES_PER_ROUND):
            rec.run("engine.index.update", up.update, run.frame(batches[b], KV_CHANGE_SCHEMA))
            state.apply(batches[b])
            key = _fresh_key(batches[b])
            got = rec.run("engine.index.get", up.get, key)
            run.check(oracle.check_equal(f"batch {b} fresh get {key}", got, state.get(key)))
        for op in reads[r]:
            got = _kv_read(rec, up, op)
            run.check(oracle.check_equal(f"round {r} {op}", got, _kv_expect(state, op)))
        lo, hi = ranges[r]
        got = rec.run("engine.index.delete_range", up.delete_range, start=lo, end=hi)
        run.check(oracle.check_equal(f"delete_range {lo}", got, state.delete_range(lo, hi)))
        got = rec.run("engine.index.get", up.get, lo)
        run.check(oracle.check_equal(f"get {lo} after delete_range", got, []))
        for idx in (up, down):
            rec.run("engine.index.compact", idx.compact, max_epochs=KV_COMPACT_EPOCHS, tier="newest")
        if size is None:
            size = (store_bytes(up) + store_bytes(down)) / len(state.docs)
    run.check(rec.end_timed_phase())
    run.mark("timed phase done")

    want = state.count_by_key()
    got_up, got_down = counts(up.count_by_key()), counts(down.count_by_key())
    run.check(oracle.check_equal("count_by_key", got_up, want))
    run.check(
        oracle.check_equal(
            "downstream count_by_key", got_down, {"R#" + k: c for k, c in want.items()}
        )
    )
    run.check(
        oracle.check_equal("downstream rows", sum(got_down.values()), sum(got_up.values()))
    )
    fresh = MapIndex(run.spark, "kv_rebuild", kv_mapper(), run.store)
    fresh.build(run.frame(state.docs.reset_index(), KV_SCHEMA), assume_unique=True)
    run.check(
        oracle.check_equal(
            "incremental == rebuild", table_digest(up.read()), table_digest(fresh.read())
        )
    )
    for idx in (up, down):
        check_store_bytes(run, idx)
    return {
        "build_s": rec.walls["engine.index.build"][0],
        "read_p50_ms": statistics.median([w for k in READ_KINDS for w in rec.walls[k]]) * 1000.0,
        "update_p50_s": statistics.median(rec.walls["engine.index.update"]),
        "store_bytes_per_doc": size,
    }


# --------------------------------------------------------- llm_corpus

BM25_SINGLE_PER_ROUND = 3


def _check_bm25(run: Run, what: str, got, corpus: oracle.Corpus, query: str) -> None:
    if got is None:
        return
    run.check(oracle.check_topk(what, got, corpus.bm25(query), TOP_K))


def llm_corpus(run: Run) -> dict:
    """The stored postings and SemDeDup index families: builds, 1%
    ingest batches, and BM25 serving between them."""
    seed, spark, rec = run.seed, run.spark, run.rec
    docs = inputs.llm_docs(seed)
    vecs = inputs.llm_vectors(seed)
    n = inputs.LLM_MAX_ROUNDS
    doc_batches = [inputs.llm_doc_batch(seed, b) for b in range(n)]
    vec_batches = [inputs.llm_vector_batch(seed, b, vecs.emb) for b in range(n)]
    singles = [inputs.bm25_queries(seed, r, BM25_SINGLE_PER_ROUND) for r in range(n)]
    batch_qs = [inputs.bm25_queries(seed, r, inputs.BM25_BATCH_QUERIES) for r in range(n)]
    run.digest = inputs.digest(
        [docs, vecs.emb, *doc_batches, *(v.emb for v in vec_batches), singles, batch_qs]
    )

    def query_frame(qs):
        return run.frame(pd.DataFrame({"query_id": range(len(qs)), "text": qs}), QUERY_SCHEMA)

    # warm-up on small indexes of their own: both builds and a query
    warm_post = build_postings_index(
        spark, run.frame(docs.head(LLM_WARM_DOCS), DOC_SCHEMA), run.store, "warm_postings"
    )
    build_semdedup_index(
        spark,
        run.frame(vecs.frame().head(LLM_WARM_DOCS), VEC_SCHEMA),
        run.store,
        "warm_semdedup",
        n_clusters=SEMDEDUP_CLUSTERS,
        threshold=SEMDEDUP_THRESHOLD,
    )
    bm25_topk_from_index(warm_post, singles[0][0], k=TOP_K).collect()
    run.setup_end = time.time()
    run.mark("warm-up done")

    rec.start_timed_phase()
    post = rec.run(
        "operators.text.postings_build",
        build_postings_index,
        spark,
        run.frame(docs, DOC_SCHEMA),
        run.store,
        "postings",
    )
    sem = rec.run(
        "operators.similarity.semdedup_build",
        build_semdedup_index,
        spark,
        run.frame(vecs.frame(), VEC_SCHEMA),
        run.store,
        "semdedup",
        n_clusters=SEMDEDUP_CLUSTERS,
        threshold=SEMDEDUP_THRESHOLD,
    )
    build_s = (
        rec.walls["operators.text.postings_build"][0]
        + rec.walls["operators.similarity.semdedup_build"][0]
    )
    corpus = oracle.Corpus(docs)
    emb = dict(zip(vecs.ids.tolist(), vecs.emb))
    exact = dict(vecs.exact_dup_of)
    returned = []
    size = None
    for r in run.rounds(n):
        rec.run("operators.text.postings_update", post.update, run.frame(doc_batches[r], DOC_CHANGE_SCHEMA))
        corpus.apply(doc_batches[r])
        vb = vec_batches[r]
        new = run.frame(vb.frame(), VEC_SCHEMA)
        rows = rec.run(
            "operators.similarity.semdedup_update", lambda: semdedup_update(sem, new).collect()
        )
        returned.extend(rows or [])
        emb.update(zip(vb.ids.tolist(), vb.emb))
        exact.update(vb.exact_dup_of)
        for i, q in enumerate(singles[r]):
            got = rec.run(
                "operators.text.bm25", lambda: bm25_topk_from_index(post, q, k=TOP_K).collect()
            )
            got = None if got is None else [(x["doc_id"], x["score"]) for x in got]
            _check_bm25(run, f"bm25 round {r} query {i} {q!r}", got, corpus, q)
        qs = batch_qs[r]
        got = rec.run(
            "operators.text.bm25_batch",
            lambda: bm25_batch_from_index(post, query_frame(qs), k=TOP_K).collect(),
        )
        if got is not None:
            by_query = {i: [] for i in range(len(qs))}
            for x in sorted(got, key=lambda x: (x["query_id"], -x["score"], x["doc_id"])):
                by_query[x["query_id"]].append((x["doc_id"], x["score"]))
            for i, q in enumerate(qs):
                _check_bm25(run, f"bm25_batch round {r} query {i} {q!r}", by_query[i], corpus, q)
        if size is None:
            n_docs = len(corpus.text) + len(emb)
            size = sum(store_bytes(i) for i in (post, post.stats, sem)) / n_docs
    run.check(rec.end_timed_phase())
    run.mark("timed phase done")

    run.check(oracle.check_equal("postings N#", post.stats.get("N#"), [len(corpus.text)]))
    stored = [
        (x["vec_id"], x["cluster"], x["keep"], x["leader_id"], x["leader_sim"])
        for x in semdedup_from_index(sem).collect()
    ]
    run.check(oracle.check_semdedup(stored, emb, exact, SEMDEDUP_THRESHOLD))
    by_id = {s[0]: s for s in stored}
    for x in returned:
        got = (x["vec_id"], x["cluster"], x["keep"], x["leader_id"], x["leader_sim"])
        run.check(oracle.check_equal(f"semdedup_update answer {x['vec_id']}", got, by_id.get(x["vec_id"])))
    for idx in (post, post.stats, sem):
        check_store_bytes(run, idx)
    updates = [
        a + b
        for a, b in zip(
            rec.walls["operators.text.postings_update"],
            rec.walls["operators.similarity.semdedup_update"],
        )
    ]
    return {
        "build_s": build_s,
        "read_p50_ms": statistics.median(rec.walls["operators.text.bm25"]) * 1000.0,
        "update_p50_s": statistics.median(updates),
        "store_bytes_per_doc": size,
    }


WORKLOADS = {"kv_mixed": kv_mixed, "llm_corpus": llm_corpus}
