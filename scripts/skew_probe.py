"""Skew probe — stresses the index key path with a zipfian key load.

Every bench corpus is near-uniform; this probe builds the orders index
with a DELIBERATELY skewed mapper (one hot key holding ~30% of all
emits, the rest spread over 1k keys) at Rx replication and measures
where that load actually lands:

- **write path** (``repartitionByRange(index_key, doc_key)``): the
  range key is COMPOUND, so a hot index_key spreads across the
  doc_key range — per-partition row balance is reported from
  ``spark_partition_id()`` after the exact repartition the write uses.
- **count_by_key** (hash shuffle on index_key): partial (map-side)
  aggregation reduces each map task's hot-key contribution to one
  row, so the reducer receives O(distinct keys), not O(rows). The
  probe reports both the RAW row load per hash bucket (what a
  non-partial agg would suffer) and the distinct-key load (what the
  final agg actually sees), plus wall clock.
- **group() to arrays**: collect_list partial buffers are NOT
  reduced map-side, so the hot key's reducer genuinely receives its
  whole value list — inherent to the reference's group-to-array
  output (the VALUE is O(group size)). The engine's guard is
  ``limit_per_key``: WindowGroupLimit pre-truncates map-side, so the
  reducer receives <= N x map_tasks rows however hot the key. The
  probe times both forms.

Balance metric: max/median rows per partition (the "no single task
> ~4x median" criterion translated to the measurable quantity with
the UI disabled — task time tracks partition rows for these
shuffle-bound stages).

Usage::

    python scripts/skew_probe.py [sf_dir] [replication]

Defaults: $SPARK_GRAFT_SF_DIR or /root/testdata/sf0.1, 20x.

HISTORICAL (r9): answered "does a zipfian key load break group()/
count_by_key()?" (verdict: partial agg absorbs it; limit_per_key
guards the collect form). Re-run only if the group/agg plans change.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F
from pyspark.sql import types as T

from level_mapreduce_spark import ExprMapper, MapIndex, get_spark
from level_mapreduce_spark.engine.mapper import DOC_KEY


def balance(df, cols):
    """(max, median, n_partitions, ratio) of rows per partition for the
    CURRENT partitioning of df."""
    counts = sorted(
        r["count"]
        for r in df.select(F.spark_partition_id().alias("pid"))
        .groupBy("pid")
        .count()
        .collect()
    )
    if not counts:
        return {"max": 0, "median": 0, "parts": 0, "ratio": None}
    med = counts[len(counts) // 2]
    return {
        "max": counts[-1],
        "median": med,
        "parts": len(counts),
        "ratio": round(counts[-1] / med, 2) if med else None,
    }


def bucket_balance(df, key, n_buckets):
    """Hash-shuffle reducer load if ``df`` were shuffled on ``key`` into
    ``n_buckets``: raw rows per bucket AND distinct keys per bucket."""
    b = df.select(
        F.pmod(F.hash(F.col(key)), F.lit(n_buckets)).alias("bucket"),
        F.col(key).alias("_k"),
    )
    rows = {
        r["bucket"]: r["rows"]
        for r in b.groupBy("bucket").agg(F.count(F.lit(1)).alias("rows")).collect()
    }
    keys = {
        r["bucket"]: r["keys"]
        for r in b.groupBy("bucket")
        .agg(F.count_distinct("_k").alias("keys"))
        .collect()
    }

    def stats(d):
        vs = sorted(d.values())
        med = vs[len(vs) // 2] if vs else 0
        return {
            "max": vs[-1] if vs else 0,
            "median": med,
            "ratio": round(vs[-1] / med, 2) if med else None,
        }

    return {"raw_rows": stats(rows), "distinct_keys": stats(keys)}


def run_scenario(spark, docs, store, name, skewed: bool) -> dict:
    # skewed: ~30% of docs emit the single key 'HOT'; uniform: 1k keys
    key = (
        F.when(
            F.col("o_orderkey") % 10 < 3, F.lit("HOT")
        ).otherwise(
            F.concat(
                F.lit("k"),
                F.pmod(F.hash("o_orderkey"), F.lit(1000)).cast("string"),
            )
        )
        if skewed
        else F.concat(
            F.lit("k"),
            F.pmod(F.hash("o_orderkey"), F.lit(1000)).cast("string"),
        )
    )
    mapper = ExprMapper.of(
        (key, F.col("o_totalprice").cast("double")),
        value_type=T.DoubleType(),
    )
    idx = MapIndex(
        spark, name, mapper, store, doc_key="o_orderkey", auto_compact=False
    )
    t0 = time.time()
    idx.build(docs, assume_unique=True)
    build_s = time.time() - t0

    # the write path's exact partitioning
    emits = idx._explode(
        idx.mapper.pairs(
            idx._normalize_changes(docs, assume_unique=True).where(
                ~F.col("deleted")
            )
        )
    )
    write_bal = balance(
        emits.repartitionByRange("index_key", DOC_KEY), None
    )

    stored = idx.read()
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    agg_bal = bucket_balance(stored, "index_key", n_shuffle)

    t0 = time.time()
    idx.count_by_key().write.format("noop").mode("overwrite").save()
    count_s = time.time() - t0

    t0 = time.time()
    idx.query().group(limit_per_key=8).df.write.format("noop").mode(
        "overwrite"
    ).save()
    group_limited_s = time.time() - t0

    t0 = time.time()
    idx.query().group().df.write.format("noop").mode("overwrite").save()
    group_full_s = time.time() - t0

    return {
        "scenario": "zipf_hot30" if skewed else "uniform_1k",
        "rows": docs.count(),
        "build_s": round(build_s, 3),
        "write_partition_balance": write_bal,
        "groupby_bucket_balance": agg_bal,
        "count_by_key_s": round(count_s, 3),
        "group_limit8_s": round(group_limited_s, 3),
        "group_full_s": round(group_full_s, 3),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    repl = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    spark = get_spark(app_name="lmr-skew-probe")
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    reps = spark.range(repl).select(F.col("id").alias("_r"))
    docs = (
        orders.crossJoin(F.broadcast(reps))
        .withColumn(
            "o_orderkey", F.col("o_orderkey") * repl + F.col("_r")
        )
        .drop("_r")
    )
    docs = docs.persist()
    docs.count()
    for skewed in (False, True):
        store = tempfile.mkdtemp(prefix="lmr_skew_")
        try:
            out = run_scenario(
                spark, docs, store, f"skew_{int(skewed)}", skewed
            )
            out["sf_dir"] = sf_dir
            out["replication"] = repl
            print(json.dumps(out))
        finally:
            shutil.rmtree(store, ignore_errors=True)
    docs.unpersist()


if __name__ == "__main__":
    main()
