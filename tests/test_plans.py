"""Physical-plan audits — the 100 TB design assertions (VERDICT r2
items: no Python UDF in any registry query outside the three
intentionally-Python record-path operators; key predicates pushed to
the Parquet scan; tombstone anti-join broadcasts).
"""

import re

import pytest
from pyspark.sql import functions as F

from level_mapreduce_spark import queries as q

PYTHON_PATH_QUERIES = {
    "query_map_variants",
    "query_filter_variants",
    "group_collect",  # carries the arbitrary-Python finish_fn variant
    "text_profile",  # bpe variant: Arrow-batched merge-loop encode
}
SF_DIR = "/root/testdata/sf0.001"

# How Spark 4.x renders a localCheckpoint read in the physical plan.
# Centralized (ADVICE r16): the pin-polarity tests below assert BOTH
# directions on this literal — if a Spark upgrade renames the node,
# the positive assertion fails loudly and this one constant is the
# whole fix; scattering the string would leave the negative ("not
# in") assertions passing vacuously under the new name.
CHECKPOINT_SCAN_NODE = "ExistingRDD"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "name", [n for n in q.QUERIES if n not in PYTHON_PATH_QUERIES]
)
def test_no_python_udf_in_plan(spark, name):
    """Every registry query except the explicit record-path trio stays
    JVM-side end to end (whole-stage codegen eligible)."""
    df = q.QUERIES[name](spark, SF_DIR)
    plan = plan_of(df)
    assert "EvalPython" not in plan, f"{name} fell off the JVM fast path"


def test_python_path_queries_do_use_arrow(spark):
    """The record-path trio runs as Arrow-batched pandas UDFs (never
    row-at-a-time BatchEvalPython)."""
    for name in PYTHON_PATH_QUERIES:
        plan = plan_of(q.QUERIES[name](spark, SF_DIR))
        assert "ArrowEvalPython" in plan, name
        assert "BatchEvalPython" not in plan, name


def test_scan_pushes_key_predicates(spark):
    """get/scan key bounds reach the Parquet reader (PushedFilters) —
    the LevelDB iterator-seek equivalent (reference index.js:127-134)."""
    idx = q._orders_index(spark, SF_DIR)
    plan = plan_of(idx.scan(start="2", end="4"))
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(index_key,2" in plan
    assert "LessThan(index_key,4" in plan
    plan_get = plan_of(idx.get_df("1-URGENT"))
    assert "EqualTo(index_key,1-URGENT)" in plan_get


def test_tombstone_antijoin_broadcasts(spark):
    """read() over an updated index anti-joins segments against a
    BROADCAST tombstone map — the index side never shuffles."""
    idx = q._tombstone_index(spark, SF_DIR)
    plan = plan_of(idx.read())
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    # the anti-join reads the raw tombstone rows: no per-doc max
    # aggregate (and no shuffle job for it) on the read path
    assert "HashAggregate" not in plan


def test_point_reads_run_no_spark_job(spark):
    """get()/count(key) on a local store answer from the driver-side
    key probe: no Spark job starts, and the answers equal the Spark
    DataFrame form — for a live key, one whose docs were partly
    tombstoned, and a range-deleted key."""
    idx = q._tombstone_index(spark, SF_DIR)
    keys = ["1-URGENT", "2-HIGH", "4-NOT SPECIFIED"]
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    got = {k: (idx.get(k), idx.count(k)) for k in keys}
    assert set(tracker.getJobIdsForGroup()) == before
    want = {
        k: ([r["value"] for r in idx.get_df(k).collect()], idx.get_df(k).count())
        for k in keys
    }
    # the tracker does see the Spark form's jobs
    assert set(tracker.getJobIdsForGroup()) - before
    assert got == want
    assert want["1-URGENT"][1] > 0 and want["4-NOT SPECIFIED"] == ([], 0)


def test_scan_limit_plans_topk(spark):
    """scan(limit=) plans as distributed top-k, not a global sort."""
    idx = q._orders_index(spark, SF_DIR)
    plan = plan_of(idx.scan(limit=5))
    assert "TakeOrderedAndProject" in plan


def test_repeated_spans_partial_agg_no_cartesian(spark):
    """repeated_spans' duplicate-window detector must keep its
    map-side combine (a boilerplate window repeated 10⁹ times reduces
    to one candidate per input partition before the shuffle) and must
    never plan a cartesian/nested-loop pair generator."""
    from level_mapreduce_spark.operators.dedup import repeated_spans

    docs = q._docs(spark, SF_DIR)
    plan = plan_of(repeated_spans(docs, ngram=10))
    assert "partial_count" in plan, "shingle count lost map-side combine"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan
    # the live-tokenize path must NOT checkpoint its occurrence frame:
    # recomputing the in-memory window-md5 explode is cheaper than an
    # eager localCheckpoint round-trip (r16 quiet A/B: the pinned form
    # measured 1.54x slower with a matched noise yardstick)
    assert (
        CHECKPOINT_SCAN_NODE not in plan
    ), "live span path gained a checkpoint"


def test_merged_spans_pins_only_when_asked(spark):
    """_merged_spans(pin=True) — the stored-index serve path — must
    read its occurrence input from a materialized checkpoint (the
    persisted W# slice is scanned once, not once per consumer);
    pin=False must leave the lineage in place."""
    from level_mapreduce_spark.operators.dedup import _merged_spans

    # range-based source: createDataFrame(local rows) itself plans as
    # a Scan ExistingRDD and would mask the assertion
    occ = spark.range(6).selectExpr(
        "id % 2 as doc_id", "id as pos", "string(id % 3) as _h"
    )
    assert CHECKPOINT_SCAN_NODE in plan_of(_merged_spans(occ, 3, pin=True))
    assert CHECKPOINT_SCAN_NODE not in plan_of(
        _merged_spans(occ, 3, pin=False)
    )


def test_dim_join_broadcasts(spark):
    """The broadcast variant of the merged join-strategies entry must
    plan the orders x customer dim join as a broadcast hash join (no
    shuffle of the fact side on the join key); the fact-fact variants
    legitimately shuffle, so only the dim-join branch is inspected."""
    full = q.QUERIES["join_strategies"](spark, SF_DIR)
    bcast = full.where(F.col("variant") == "broadcast")
    plan = plan_of(bcast)
    assert "BroadcastHashJoin" in plan


def test_bm25_served_pushes_query_term_keys(spark, monkeypatch):
    """The stored-postings BM25 serve must be O(query-terms'
    postings) END TO END (v2): on the Spark path of a single query
    (a store that is not local) the literal Ins over the query's T#
    keys and over the DF#/DL#/N# stats keys reach the Parquet scans
    as pushed filters — and NOTHING reads the corpus-sized L# slice
    or aggregates a full postings slice (the r14 gap: every serve
    paid a full L# scan for N/avgdl)."""
    from level_mapreduce_spark import MapIndex
    from level_mapreduce_spark.operators.text import (
        bm25_batch_from_index,
        bm25_topk_from_index,
        tfidf_from_index,
    )

    idx = q._postings_index(spark, SF_DIR)
    lookups = []
    lookup_df = MapIndex._lookup_df

    def recorded(self, keys, hi=None):
        lookups.append(lookup_df(self, keys, hi))
        return lookups[-1]

    with monkeypatch.context() as m:
        m.setattr(MapIndex, "_local_root", lambda self: None)
        m.setattr(MapIndex, "_lookup_df", recorded)
        bm25_topk_from_index(idx, q._BM25_QUERY, k=10).collect()
    stats_plan, post_plan = (plan_of(df) for df in lookups)
    assert "In(index_key, [T#merge,T#spark,T#window])" in post_plan
    assert (
        "In(index_key, [DF#merge,DF#spark,DF#window,DL#,N#])" in stats_plan
    )
    # no corpus-sized read anywhere in the serve's lookups: the L#
    # slice is never touched (dl rides each posting; df/N/avgdl are
    # stats point-lookups). Boundary-aware: "DL#" contains "L#".
    for plan in (post_plan, stats_plan):
        assert not re.search(r"[\[,(]L#", plan), "serve reads L# slice"
        assert "EvalPython" not in plan
        assert "HashAggregate" not in plan

    # batch serve (small regime) keeps the stats reads IN the plan —
    # both the DF# keys and the two scalar stats rows arrive as
    # pushed literal Ins over the stats index, never as aggregates
    queries = idx.spark.createDataFrame(
        [(0, q._BM25_QUERY)], "query_id long, text string"
    )
    bplan = plan_of(bm25_batch_from_index(idx, queries, k=10))
    assert "In(index_key, [T#merge,T#spark,T#window])" in bplan
    assert "In(index_key, [DF#merge,DF#spark,DF#window])" in bplan
    assert "In(index_key, [DL#,N#])" in bplan
    assert not re.search(r"[\[,(]L#", bplan), "batch serve reads L# slice"

    # tfidf serve: the full T# read is the output itself, but df must
    # come from the maintained DF# rows — no groupBy over the
    # postings slice (the other r14 full-slice aggregate)
    tplan = plan_of(tfidf_from_index(idx))
    assert "StringStartsWith(index_key,T#)" in tplan
    assert "StringStartsWith(index_key,DF#)" in tplan
    assert not re.search(r"[\[,(]L#", tplan), "tfidf serve reads L# slice"
    assert "partial_count" not in tplan


def test_bm25_served_runs_no_spark_job(spark):
    """A served single BM25 query on a local store answers from the
    driver-side key probes and returns a local relation: building and
    collecting it starts no Spark job."""
    from level_mapreduce_spark.operators.text import bm25_topk_from_index

    idx = q._postings_index(spark, SF_DIR)
    bm25_topk_from_index(idx, "window", k=10).collect()  # imports
    rows, n_jobs = _jobs_during(
        spark, lambda: bm25_topk_from_index(idx, q._BM25_QUERY, k=10).collect()
    )
    assert rows and n_jobs == 0, n_jobs


def _jobs_during(spark, fn):
    """(result, Spark jobs started while ``fn`` ran) — a numTotalJobs
    window, which also sees jobs submitted from helper threads."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.numTotalJobs()
    out = fn()
    return out, dag.numTotalJobs() - before


def _piped_pair(spark, store):
    """An expression-mapped index piped into a Python-mapped one (the
    kv_mixed shape), built over 1000 docs."""
    from pyspark.sql import types as T

    from level_mapreduce_spark import ExprMapper, MapIndex, PythonMapper, emit

    up = MapIndex(
        spark, "up",
        ExprMapper(
            F.array(
                emit(F.col("k"), F.col("v")),
                emit(F.concat(F.lit("x"), F.col("k")), F.col("v")),
            ),
            value_type=T.DoubleType(),
        ),
        store, doc_key="doc_key", auto_compact=False,
    )
    down = MapIndex(
        spark, "down",
        PythonMapper(lambda d: [(p["index_key"], 1) for p in d["value"]]),
        store, auto_compact=False,
    )
    up.pipe(down)
    up.build(
        spark.createDataFrame(
            [(f"d{i}", f"k{i % 50}", float(i)) for i in range(1000)],
            "doc_key string, k string, v double",
        ),
        assume_unique=True,
    )
    return up, down


def test_piped_write_job_budget(spark, store):
    """A piped update stages its batch once — segment, tombstones and
    the downstream feed come from one pinned (doc_key, pairs) frame,
    with no read-back of the index — and a chained delete_range feeds
    the downstream from its pinned key set: a 200-doc piped update
    runs at most 14 Spark jobs (19 with the read-back feed) and a
    chained delete_range at most 12 (16 with scratch staging)."""
    up, down = _piped_pair(spark, store)
    changes = spark.createDataFrame(
        [(f"d{i}", f"k{i % 7}", -float(i), i % 5 == 0) for i in range(0, 400, 2)],
        "doc_key string, k string, v double, deleted boolean",
    )
    up.update(changes)  # first call pays one-time class loading
    _, n_update = _jobs_during(spark, lambda: up.update(changes))
    n_doomed, n_delete = _jobs_during(
        spark, lambda: up.delete_range(start="k1", end="k2")
    )
    assert n_doomed > 0 and down.count() == up.count()
    assert n_update <= 14, n_update
    assert n_delete <= 12, n_delete


def test_update_evaluates_changes_once(spark, store):
    """``changes`` is evaluated once per update, chained included: a
    Python UDF in the caller's plan counts its row evaluations (the
    read-back design evaluated it for the segment, the tombstones and
    the feed)."""
    up, down = _piped_pair(spark, store)
    calls = spark.sparkContext.accumulator(0)

    def counted(k):
        calls.add(1)
        return k

    counted_udf = F.udf(counted, "string")
    base = spark.createDataFrame(
        [(f"d{i}", f"k{i % 7}", float(i), i % 4 == 0) for i in range(0, 60, 3)],
        "doc_key string, k string, v double, deleted boolean",
    )
    changes = base.withColumn("doc_key", counted_udf("doc_key"))
    for assume_unique in (False, True):
        calls.value = 0
        up.update(changes, assume_unique=assume_unique)
        assert calls.value == base.count(), (assume_unique, calls.value)
    assert down.count() == up.count()
