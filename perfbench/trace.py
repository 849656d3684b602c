"""Op timing, and the traced mode's spans and Spark counts.

:class:`Recorder` times every op of the timed phase and counts ops
attempted and failed. With tracing on it also

- scopes each op's Spark work by its job-id window: the jobs the
  scheduler numbered between the op's start and end. One client runs
  one op at a time, so the window holds every job the op caused,
  including jobs its helper threads ran outside the caller's job
  group;
- sums those jobs' stages from the application status store: tasks,
  executor CPU time, input, shuffle-write and output bytes, and the
  union of the jobs' run intervals;
- wraps public engine methods (``MapIndex.read/build/update/
  delete_range`` and ``PostingsIndex.build``) in spans with a parent,
  so nested work such as a piped downstream ``update()`` or the
  postings stats read-back shows apart from its caller.

Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import functools
import json
import statistics
import sys
import threading
import time
import traceback

# op kinds, named after the layer whose public call they time
OP_KINDS = (
    "engine.index.build",
    "engine.index.get",
    "engine.index.scan",
    "engine.index.update",
    "engine.index.delete_range",
    "engine.index.compact",
    "engine.query.group",
    "operators.text.postings_build",
    "operators.text.postings_update",
    "operators.text.bm25",
    "operators.text.bm25_batch",
    "operators.similarity.semdedup_build",
    "operators.similarity.semdedup_update",
)
READ_ONLY_KINDS = {
    "engine.index.get",
    "engine.index.scan",
    "engine.query.group",
    "operators.text.bm25",
    "operators.text.bm25_batch",
}
SPARK_MEASURES = (
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("job_ms", "ms"),
    ("driver_ms", "ms"),
    ("cpu_ms", "ms"),
    ("shuffle_bytes", "B"),
    ("input_bytes", "B"),
    ("written_bytes", "B"),
)
SPAN_METRICS = (
    ("engine.index.read.calls", "count"),
    ("engine.index.read.plan_ms", "ms"),
    ("engine.index.epochs_at_read", "count"),
    ("engine.index.pipe.downstream_ms", "ms"),
    ("operators.text.postings_build.stats_ms", "ms"),
)


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric ``(name, unit)`` a traced run reports."""
    out = []
    for kind in OP_KINDS:
        for measure, unit in SPARK_MEASURES:
            if measure == "written_bytes" and kind in READ_ONLY_KINDS:
                continue
            out.append((f"{kind}.{measure}", unit))
    return out + list(SPAN_METRICS)


class Recorder:
    """Times the ops of one run; traces them when ``trace`` is set."""

    def __init__(self, spark, trace: bool):
        self.spark = spark
        self.trace = trace
        self.walls: dict[str, list[float]] = {k: [] for k in OP_KINDS}
        self.attempted = 0
        self.failed = 0
        self.spans: list[dict] = []
        self.op_counts: dict[str, list[dict]] = {k: [] for k in OP_KINDS}
        self._local = threading.local()
        self._lock = threading.Lock()
        self._op: dict | None = None
        self._patched: list[tuple[type, str, object]] = []
        self._jobs_at_start = 0
        if trace:
            sc = spark.sparkContext._jsc.sc()
            self._dag = sc.dagScheduler()
            self._bus = sc.listenerBus()
            self._store = sc.statusStore()
            self._conv = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters

    # ------------------------------------------------------------ ops

    def run(self, kind: str, fn, *args, **kwargs):
        """Run one timed op; return its result, or None if it raised
        (counted in ``failed``, traceback on stderr)."""
        self.attempted += 1
        job0 = self._dag.numTotalJobs() if self.trace else 0
        op = {"name": kind, "id": len(self.spans), "parent": None, "children": []}
        self._op = op
        start = time.time()
        t0 = time.perf_counter()
        try:
            result = fn(*args, **kwargs)
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            result = None
        wall = time.perf_counter() - t0
        self._op = None
        self.walls[kind].append(wall)
        if self.trace:
            op.update(start=start, end=start + wall)
            self._count_jobs(kind, op, job0, wall)
            self.spans.append(op)
        return result

    # ---------------------------------------------------- spark counts

    def start_timed_phase(self) -> None:
        if self.trace:
            self._bus.waitUntilEmpty()
            self._jobs_at_start = self._dag.numTotalJobs()
            self._install()

    def end_timed_phase(self) -> list[str]:
        """Stop tracing; return errors if the per-op job counts do not
        add up to the application's jobs over the timed phase."""
        if not self.trace:
            return []
        self._uninstall()
        self._bus.waitUntilEmpty()
        total = self._dag.numTotalJobs() - self._jobs_at_start
        per_op = sum(c["jobs"] for cs in self.op_counts.values() for c in cs)
        if total != per_op:
            return [f"trace: per-op jobs sum to {per_op}, application ran {total}"]
        return []

    def _count_jobs(self, kind: str, op: dict, job0: int, wall: float) -> None:
        self._bus.waitUntilEmpty()
        job1 = self._dag.numTotalJobs()
        intervals = []
        stage_ids = set()
        for jid in range(job0, job1):
            job = self._store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
            stage_ids.update(self._conv.asJava(job.stageIds()))
        c = dict.fromkeys((m for m, _ in SPARK_MEASURES), 0)
        c["jobs"] = job1 - job0
        cpu_ns = 0
        for sid in stage_ids:
            st = self._store.lastStageAttempt(sid)
            if st.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            c["stages"] += 1
            c["tasks"] += st.numCompleteTasks()
            cpu_ns += st.executorCpuTime()
            c["shuffle_bytes"] += st.shuffleWriteBytes()
            c["input_bytes"] += st.inputBytes()
            c["written_bytes"] += st.outputBytes()
        c["cpu_ms"] = cpu_ns / 1e6
        c["job_ms"] = _union_ms(intervals)
        c["driver_ms"] = max(wall * 1000.0 - c["job_ms"], 0.0)
        op["spark"] = {k: c[k] for k, _ in SPARK_MEASURES}
        self.op_counts[kind].append(c)

    # ------------------------------------------------ method spans

    def _install(self) -> None:
        from level_mapreduce_spark.engine.index import MapIndex, _list_epochs
        from level_mapreduce_spark.operators.text import PostingsIndex

        def epochs(idx):
            return len(_list_epochs(idx.spark, idx.segments_path))

        targets = [
            (MapIndex, "read", epochs),
            (MapIndex, "build", None),
            (MapIndex, "update", None),
            (MapIndex, "delete_range", None),
            (PostingsIndex, "build", None),
        ]
        for cls, name, probe in targets:
            orig = cls.__dict__[name]
            setattr(cls, name, self._wrap(f"{cls.__name__}.{name}", orig, probe))
            self._patched.append((cls, name, orig))

    def _uninstall(self) -> None:
        for cls, name, orig in reversed(self._patched):
            setattr(cls, name, orig)
        self._patched.clear()

    def _wrap(self, name: str, fn, probe):
        rec = self

        @functools.wraps(fn)
        def traced(obj, *args, **kwargs):
            op = rec._op
            if op is None:
                return fn(obj, *args, **kwargs)
            stack = rec._stack()
            span = {
                "name": name,
                "index": obj.name,
                "obj": id(obj),
                "parent": stack[-1]["id"] if stack else op["id"],
                "thread": threading.get_ident(),
            }
            if probe is not None:
                span["epochs"] = probe(obj)
            with rec._lock:
                span["id"] = f"{op['id']}.{len(op['children'])}"
                op["children"].append(span)
            span["outer"] = [(s["name"], s["obj"]) for s in stack]
            stack.append(span)
            span["start"] = time.time()
            try:
                return fn(obj, *args, **kwargs)
            finally:
                span["end"] = time.time()
                stack.pop()

        return traced

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    # ------------------------------------------------------ metrics

    def per_layer(self) -> dict[str, float]:
        """Median per op of each Spark measure per op kind (0 where
        the workload runs no op of that kind), plus the span metrics."""
        out = {}
        for kind in OP_KINDS:
            for measure, _ in SPARK_MEASURES:
                if measure == "written_bytes" and kind in READ_ONLY_KINDS:
                    continue
                vals = [c[measure] for c in self.op_counts[kind]]
                out[f"{kind}.{measure}"] = statistics.median(vals) if vals else 0
        reads = [s for op in self.spans for s in op["children"] if s["name"] == "MapIndex.read"]
        n_ops = max(len(self.spans), 1)
        out["engine.index.read.calls"] = len(reads) / n_ops
        out["engine.index.read.plan_ms"] = sum(_ms(s) for s in reads) / n_ops
        out["engine.index.epochs_at_read"] = (
            statistics.mean(s["epochs"] for s in reads) if reads else 0
        )
        down = [
            sum(_ms(s) for s in op["children"] if _is_downstream(s))
            for op in self.spans
            if op["name"] == "engine.index.update"
        ]
        out["engine.index.pipe.downstream_ms"] = statistics.median(down) if down else 0
        stats = [_stats_ms(op) for op in self.spans if op["name"] == "operators.text.postings_build"]
        out["operators.text.postings_build.stats_ms"] = statistics.median(stats) if stats else 0
        return out

    def write_spans(self, path: str) -> None:
        with open(path, "w") as f:
            for op in self.spans:
                children = op["children"]
                flat = {k: v for k, v in op.items() if k != "children"}
                f.write(json.dumps(flat) + "\n")
                for s in children:
                    f.write(json.dumps({k: v for k, v in s.items() if k not in ("obj", "outer")}) + "\n")


def _ms(span: dict) -> float:
    return (span["end"] - span["start"]) * 1000.0


def _is_downstream(span: dict) -> bool:
    """A ``MapIndex.update`` run by a mutation of another index on the
    same thread: the piped downstream's share of an upstream write."""
    if span["name"] != "MapIndex.update":
        return False
    return any(
        name in ("MapIndex.update", "MapIndex.delete_range") and obj != span["obj"]
        for name, obj in span["outer"]
    )


def _stats_ms(op: dict) -> float:
    """``PostingsIndex.build`` minus its own nested ``MapIndex.build``:
    the stats read-back and fold."""
    outer = [s for s in op["children"] if s["name"] == "PostingsIndex.build"]
    if not outer:
        return 0.0
    p = outer[0]
    inner = [
        s for s in op["children"]
        if s["name"] == "MapIndex.build" and s["obj"] == p["obj"]
    ]
    return _ms(p) - sum(_ms(s) for s in inner)


def _union_ms(intervals: list[tuple[int, int]]) -> float:
    total = 0
    end = None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return float(total)
