"""Bench-side tracing: spans around calls into the program's layers, each
tagged with a Spark job group, and the Spark metrics of the jobs each span
ran, read from the application status store over py4j.

A span records a name, start, end, its parent and the operation (root span)
it belongs to. Opening a span sets the Spark job group *on the opening
thread*, because job groups are thread-local: a span opened inside the
program's own worker threads (the segment-build pool, the HTTP handler
threads) tags the jobs those threads submit. A span opened on a thread with
no open span of its own takes as parent the innermost open span of the
thread running the operation — the call that fanned the work out.

Spans stay in memory; `harvest` reads the status stores once, at the end.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import re
import sys
import threading
import time
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"
GROUP_PREFIX = "perfbench-"  # job group of span n: GROUP_PREFIX + str(n)

# per-job Spark counters summed into each span (own jobs, then inclusive)
SPARK_FIELDS = (
    "jobs", "stages", "tasks", "failed_tasks", "executor_run_s", "executor_cpu_s",
    "jvm_gc_s", "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "python_run_s", "bytes_to_python", "bytes_from_python",
)

# SQL metric name -> our field (the Python-worker metrics of Arrow/pandas UDF
# operators; "time to run" excludes worker start-up)
_SQL_PY_METRICS = {
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
}

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "min": 60.0,
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
}
_METRIC_VALUE_RE = re.compile(r"([0-9][0-9.,]*)\s*([A-Za-z]+)")


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric such as
    'total (min, med, max ...)\\n6.4 s (1.6 s, ...)' or '807.9 KiB', in
    seconds or bytes."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _METRIC_VALUE_RE.search(line)
    if m is None or m.group(2) not in _UNITS:
        raise ValueError(f"unparsable SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


@dataclass
class Span:
    span_id: int
    name: str
    parent_id: int | None
    op_id: int
    start: float  # perf_counter seconds
    wall_start: float  # epoch seconds, to match job submission times
    end: float = 0.0
    wall_end: float = 0.0
    spark: dict = field(default_factory=dict)  # own jobs' counters

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of `intervals` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its children cover. Children
    on other threads may overlap each other; the overlap counts once."""
    return span.duration - union_length(
        [(c.start, c.end) for c in children], span.start, span.end
    )


class Tracer:
    """Collects spans; `wrap` patches a function or method so every call opens
    one. `restore` undoes every patch."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._root_stack: list[Span] = []  # span stack of the thread running the operation
        self._patches: list[tuple[object, str, object]] = []

    # -- spans --------------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _set_group(self, span: Span | None) -> None:
        self.sc.setLocalProperty(GROUP_KEY, None if span is None else f"{GROUP_PREFIX}{span.span_id}")

    @contextlib.contextmanager
    def span(self, name: str, root: bool = False):
        """Open a span. A `root` span starts an operation; any other span
        opened while no operation is open is not recorded (calls the
        benchmark makes for set-up or checks are not part of the trace)."""
        stack = self._stack()
        with self._lock:
            if root:
                parent = None
                self._root_stack = stack
            elif stack:
                parent = stack[-1]
            else:  # a thread the program started: inherit the operation's
                top = self._root_stack[-1:]  # one atomic read; the owner may pop
                parent = top[0] if top else None
            if parent is None and not root:
                sp = None
            else:
                sid = next(self._ids)
                sp = Span(sid, name, parent.span_id if parent else None,
                          parent.op_id if parent else sid, 0.0, 0.0)
                self.spans.append(sp)
        if sp is None:
            yield None
            return
        stack.append(sp)
        self._set_group(sp)
        sp.wall_start, sp.start = time.time(), time.perf_counter()
        try:
            yield sp
        finally:
            sp.end, sp.wall_end = time.perf_counter(), time.time()
            stack.pop()
            self._set_group(stack[-1] if stack else None)

    # -- patching -----------------------------------------------------------
    def wrap(self, owner, attr: str, name: str) -> None:
        """Open a span named `name` around every call of `owner.attr`. For a
        module-level function, every ``pysearch`` module that imported the
        same function object is patched too, so calls through any import
        path are traced."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return original(*args, **kwargs)

        targets = [owner]
        if not isinstance(owner, type):
            targets += [
                m for n, m in list(sys.modules.items())
                if n.startswith("pysearch") and m is not owner
                and any(v is original for v in vars(m).values())
            ]
        for target in targets:
            for key, value in list(vars(target).items()):
                if value is original:
                    self._patches.append((target, key, original))
                    setattr(target, key, traced)

    def patch(self, owner, attr: str, replacement) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # -- structure ----------------------------------------------------------
    def children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent_id is not None:
                kids.setdefault(s.parent_id, []).append(s)
        return kids

    def ops(self) -> list[Span]:
        return [s for s in self.spans if s.parent_id is None]

    def coverage(self) -> dict[int, float]:
        """Per operation: the share of its wall time covered by child spans."""
        kids = self.children()
        return {
            op.span_id: (1.0 - self_time(op, kids.get(op.span_id, [])) / op.duration)
            if op.duration > 0 else 1.0
            for op in self.ops()
        }

    def inclusive(self, span: Span, key: str, kids=None) -> float:
        """A Spark counter summed over the span and all its descendants."""
        kids = kids if kids is not None else self.children()
        total, todo = 0.0, [span]
        while todo:
            s = todo.pop()
            total += s.spark.get(key, 0.0)
            todo.extend(kids.get(s.span_id, ()))
        return total

    # -- Spark status stores --------------------------------------------------
    def harvest(self, spark) -> dict:
        """Attach each job's stage and SQL metrics to the span whose group ran
        it. Returns the job census: jobs submitted inside an operation's
        window, and how many of them carry no span's group.

        The status stores' records are Jackson-serializable (Spark's disk
        store keeps them as JSON), so each list crosses py4j as one JSON
        string rather than one call per field."""
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        jvm = sc._jvm
        jsc.listenerBus().waitUntilEmpty(30_000)  # raises on timeout
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())

        def fetch(records):
            return json.loads(mapper.writeValueAsString(records))

        store = jsc.statusStore()
        by_id = {s.span_id: s for s in self.spans}
        for s in self.spans:
            s.spark = dict.fromkeys(SPARK_FIELDS, 0.0)

        stages: dict[int, list] = {}
        empty = sc._gateway.new_array(jvm.double, 0)
        for st in fetch(store.stageList(None, False, False, empty, None)):
            stages.setdefault(st["stageId"], []).append(st)

        windows = [(op.wall_start, op.wall_end) for op in self.ops()]
        job_span: dict[int, Span] = {}
        in_window = unattributed = 0
        seen_stages: set[int] = set()
        for job in sorted(fetch(store.jobsList(None)), key=lambda j: j["jobId"]):
            group = job.get("jobGroup")
            submitted = job.get("submissionTime")  # epoch milliseconds
            t = submitted / 1000.0 if submitted is not None else None
            inside = t is not None and any(a - 0.005 <= t <= b + 0.005 for a, b in windows)
            sp = None
            if group and group.startswith(GROUP_PREFIX):
                sp = by_id.get(int(group[len(GROUP_PREFIX):]))
            if inside:
                in_window += 1
                unattributed += sp is None
            if sp is None:
                continue
            job_span[job["jobId"]] = sp
            sp.spark["jobs"] += 1
            for sid in job["stageIds"]:
                if sid in seen_stages:  # a stage reused by a later job counts once
                    continue
                seen_stages.add(sid)
                for st in stages.get(sid, []):
                    if st["status"] == "SKIPPED":
                        continue
                    m = sp.spark
                    m["stages"] += 1
                    m["tasks"] += st["numCompleteTasks"]
                    m["failed_tasks"] += st["numFailedTasks"]
                    m["executor_run_s"] += st["executorRunTime"] / 1e3
                    m["executor_cpu_s"] += st["executorCpuTime"] / 1e9
                    m["jvm_gc_s"] += st["jvmGcTime"] / 1e3
                    m["input_bytes"] += st["inputBytes"]
                    m["shuffle_read_bytes"] += st["shuffleReadBytes"]
                    m["shuffle_write_bytes"] += st["shuffleWriteBytes"]
                    m["spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]

        sql_store = spark._jsparkSession.sharedState().statusStore()
        for ex in fetch(sql_store.executionsList()):
            owners = [job_span[int(j)] for j in ex["jobs"] if int(j) in job_span]
            names = {m["accumulatorId"]: _SQL_PY_METRICS[m["name"]]
                     for m in ex["metrics"] if m["name"] in _SQL_PY_METRICS}
            if not owners or not names:
                continue
            values = ex.get("metricValues")
            if values is None:  # not aggregated yet: the store aggregates on request
                values = fetch(sql_store.executionMetrics(ex["executionId"]))
            for acc, key in names.items():
                if str(acc) in values:
                    owners[0].spark[key] += parse_sql_metric(values[str(acc)])
        return {"jobs_in_ops": in_window, "unattributed_jobs": unattributed}
