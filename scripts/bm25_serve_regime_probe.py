"""bm25_topk_from_index regime crossover probe.

A served single BM25 query has two regimes around
``_BM25_SERVE_POSTINGS_MAX`` (operators/text.py): at or below, the
query's ``T#`` postings are fetched to the driver (the key probe on a
local store) and scored in Python; above, the query is scored on the executors by the batch
serve over a one-row query frame and only the top k rows reach the
driver. Results are identical either side. The driver regime costs
time and memory linear in the query's total postings (the sum of its
terms' df); the executor regime pays a fixed cost of several Spark
jobs. This probe measures where the two cost curves cross, so the
default threshold is a measured choice.

Method: a synthetic corpus of ``n_docs`` docs where term ``t<j>``
occurs in every ``2**j``-th doc (df = n_docs / 2**j), so one corpus
holds one-term queries of every power-of-two posting count. For each
term, time the serve with each regime FORCED (the bound set huge
-> driver; -1 -> executors), min of 3 ``collect()`` calls, and the
driver regime's peak Python heap (tracemalloc, a separate call).
Prints one JSON line per term and a summary with the crossover.

Usage:
    python scripts/bm25_serve_regime_probe.py [n_docs]   # default 262144
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
import tracemalloc

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from level_mapreduce_spark import get_spark

TERMS = 12


def _timed(fn) -> float:
    best = None
    for _ in range(3):
        t0 = time.time()
        fn()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 4)


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 1 << 18
    spark = get_spark(app_name="bm25-serve-regime-probe")
    spark.sparkContext.setLogLevel("ERROR")

    from level_mapreduce_spark.operators import text
    from level_mapreduce_spark.operators.text import (
        bm25_topk_from_index,
        build_postings_index,
    )

    store = tempfile.mkdtemp(prefix="lmr_bm25_serve_regime_")
    try:
        # t<j> in doc i iff i % 2**j == 0, plus one filler token so
        # doc lengths vary
        toks = [
            F.when(F.col("id") % (1 << j) == 0, F.lit(f"t{j}"))
            for j in range(TERMS)
        ]
        docs = spark.range(n_docs).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ", *toks, F.concat(F.lit("u"), (F.col("id") % 997).cast("string"))
            ).alias("text"),
        )
        idx = build_postings_index(spark, docs, store, name="serve_regime")
        print(json.dumps({"n_docs": n_docs}), flush=True)

        results = []
        for j in reversed(range(TERMS)):
            term = f"t{j}"

            def serve(cap):
                text._BM25_SERVE_POSTINGS_MAX = cap
                return bm25_topk_from_index(idx, term, k=10).collect()

            assert serve(1 << 62) == serve(-1), term
            tracemalloc.start()
            serve(1 << 62)
            _, peak = tracemalloc.get_traced_memory()
            tracemalloc.stop()
            rec = {
                "postings": -(-n_docs >> j),
                "driver_s": _timed(lambda: serve(1 << 62)),
                "executor_s": _timed(lambda: serve(-1)),
                "driver_peak_py_mb": round(peak / 2**20, 1),
            }
            results.append(rec)
            print(json.dumps(rec), flush=True)

        # crossover: fewest postings where the executors beat the driver
        crossover = next(
            (r["postings"] for r in results if r["executor_s"] < r["driver_s"]),
            None,
        )
        print(
            json.dumps(
                {"summary": "bm25_serve_regime", "crossover_postings": crossover}
            ),
            flush=True,
        )
    finally:
        shutil.rmtree(store, ignore_errors=True)


if __name__ == "__main__":
    main()
