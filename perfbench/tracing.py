"""Outside-in tracing for the benchmark's traced run.

Nothing here edits the engine. ``Tracer.install`` replaces public
functions of ``noaa_etl_spark`` with timing wrappers *before*
``noaa_etl_spark.queries`` is imported, so the query modules'
``from ... import`` bindings pick the wrappers up. Each wrapper records
one span per call: name, start, end, parent and the id of the operation
it belongs to. Spans stay in memory and are written out at exit.

After a traced pass, ``collect_layers`` joins the spans with Spark's own
metric surfaces, attributing each Spark job, stage, SQL execution and
streaming trigger to the operation whose time window contains it (one
client runs one operation at a time):

- REST ``/jobs``, ``/stages`` and ``/sql?details=true`` of the Spark UI;
- the Catalyst phase tracker of every collected DataFrame;
- ``StreamingQueryListener`` progress events.

An operation's wall time is attributed to the layers that cover it:
``io.load``, ``streaming.stage``, ``streaming.drain`` and ``collect``
spans, Catalyst phases, Spark job and SQL execution intervals,
streaming triggers and the driver's calls into the JVM (py4j), which
hold Column and plan construction, reads, writes and query starts. ``queries.build`` and ``pipelines.run`` wrap whole
calls, so their bare self time (Python glue, eager analysis) counts as
unattributed. A traced run whose operations leave more than
``1 - MIN_ATTRIBUTED_SHARE`` of their wall time unattributed fails.
"""

from __future__ import annotations

import json
import re
import threading
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from datetime import datetime

# Span record schema, pinned by the benchmark's tests.
SPAN_FIELDS = ("span_id", "parent_id", "op_id", "name", "start", "end", "attrs")

# Span names, one per layer boundary. "op" is the root of one operation.
OP = "op"
BUILD = "queries.build"
LOAD = "io.load"
COLLECT = "collect"
PIPELINE = "pipelines.run"
STAGE = "streaming.stage"
DRAIN = "streaming.drain"
# Outermost Python-to-JVM (py4j) calls of the driver: Column and plan
# construction with Catalyst's eager analysis, reads, writes, streaming
# query start and wait, job submission. Kept as intervals, not spans.
JVM = "driver.jvm"

# Each operation's layers must cover at least this share of its wall time.
MIN_ATTRIBUTED_SHARE = 0.95

# SQL plan nodes that run Python UDFs in Python workers.
PYTHON_NODES = re.compile(r"(ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|InPandas|InArrow|PythonUDTF)")


@dataclass
class Span:
    span_id: int
    parent_id: int | None
    op_id: str | None
    name: str
    start: float  # epoch seconds
    end: float
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans around calls into the engine's layers."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.jvm_calls: list[tuple[float, float]] = []
        self.enabled = False
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[Span] = []
        self._next_id = 1
        self.op_id: str | None = None
        # perf_counter gives the durations, the epoch anchor lines spans
        # up with the wall-clock times Spark reports.
        self._anchor = time.time() - time.perf_counter()

    def now(self) -> float:
        return time.perf_counter() + self._anchor

    def _stack(self) -> list[Span]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        """Record a span; a thread with no open span (a foreachBatch
        callback) nests under the main thread's innermost span."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            span_id = self._next_id
            self._next_id += 1
        span = Span(span_id, parent.span_id if parent else None, self.op_id, name, self.now(), 0.0, attrs)
        stack.append(span)
        try:
            yield span
        finally:
            span.end = self.now()
            stack.pop()
            with self._lock:
                self.spans.append(span)

    def wrap(self, name: str, fn, attr=None):
        def wrapper(*args, **kwargs):
            with self.span(name, **(attr(*args) if attr else {})):
                return fn(*args, **kwargs)

        wrapper.__wrapped__ = fn
        return wrapper

    def install(self) -> None:
        """Wrap the engine's public layer entry points. Must run before
        ``noaa_etl_spark.queries`` is imported."""
        from pyspark.sql.classic.dataframe import DataFrame

        from noaa_etl_spark import io
        from noaa_etl_spark.pipelines import ghcn, isd
        from noaa_etl_spark.streaming import core

        io.load_table = self.wrap(LOAD, io.load_table, lambda spark, sf_dir, name: {"table": name})
        ghcn.run_pipeline = self.wrap(PIPELINE, ghcn.run_pipeline, lambda *a: {"pipeline": "ghcn"})
        isd.run_pipeline = self.wrap(PIPELINE, isd.run_pipeline, lambda *a: {"pipeline": "isd"})
        core.run_to_memory = self.wrap(DRAIN, core.run_to_memory)
        staged = core.staged_stream_src

        def staged_stream_src(sf_dir, name, build):
            # Only a cache miss stages files; time the build itself.
            return staged(sf_dir, name, self.wrap(STAGE, build, lambda d: {"twin": name}))

        core.staged_stream_src = staged_stream_src
        self._wrap_jvm_calls()
        tracer = self
        collect = DataFrame.collect

        def traced_collect(df):
            with tracer.span(COLLECT) as span:
                rows = collect(df)
                if span is not None:
                    span.attrs["rows"] = len(rows)
                    span.attrs.update(catalyst_phases(df))
                return rows

        DataFrame.collect = traced_collect

    def _wrap_jvm_calls(self) -> None:
        """Record the interval of every outermost py4j call a thread makes."""
        from py4j import clientserver, java_gateway

        tracer, local = self, threading.local()

        def traced_call(call):
            def wrapper(obj, *args, **kwargs):
                if not tracer.enabled or getattr(local, "inside", False):
                    return call(obj, *args, **kwargs)
                local.inside = True
                start = tracer.now()
                try:
                    return call(obj, *args, **kwargs)
                finally:
                    local.inside = False
                    tracer.jvm_calls.append((start, tracer.now()))

            return wrapper

        # A method call, a constructor, or a bare round trip such as the
        # class lookups behind ``sc._jvm.<package>.<Class>``.
        for cls, method in (
            (java_gateway.JavaMember, "__call__"),
            (java_gateway.JavaClass, "__call__"),
            (java_gateway.GatewayClient, "send_command"),
            (clientserver.JavaClient, "send_command"),
        ):
            setattr(cls, method, traced_call(getattr(cls, method)))

    def wrap_queries(self, queries: dict) -> None:
        for name, fn in list(queries.items()):
            queries[name] = self.wrap(BUILD, fn)

    @contextmanager
    def operation(self, op_id: str, name: str, pass_index: int):
        self.op_id = op_id
        try:
            with self.span(OP, op=name, pass_index=pass_index) as span:
                yield span
        finally:
            self.op_id = None

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for span in self.spans:
                fh.write(json.dumps(asdict(span)) + "\n")


def catalyst_phases(df) -> dict:
    """Analysis, optimization and planning time of the DataFrame's last
    execution, from ``QueryExecution.tracker()``, and each phase's
    [start, end] in epoch seconds."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {"catalyst_intervals": []}
    for phase in ("analysis", "optimization", "planning"):
        found = phases.get(phase)
        out[f"{phase}_ms"] = 0.0
        if found.isDefined():
            summary = found.get()
            out[f"{phase}_ms"] = float(summary.durationMs())
            out["catalyst_intervals"].append((summary.startTimeMs() / 1e3, summary.endTimeMs() / 1e3))
    return out


class ProgressListener:
    """Collects ``StreamingQueryProgress`` of every trigger."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self.started = 0
        self.terminated = 0

    def attach(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                outer.started += 1

            def onQueryProgress(self, event):
                outer.progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                outer.terminated += 1

        self._listener = Listener()
        spark.streams.addListener(self._listener)

    def detach(self, spark) -> None:
        """Wait for the pending events, then stop listening."""
        self.settle()
        spark.streams.removeListener(self._listener)

    def settle(self, timeout: float = 10.0) -> None:
        """Wait until every started query's termination was delivered."""
        deadline = time.monotonic() + timeout
        while self.terminated < self.started and time.monotonic() < deadline:
            time.sleep(0.05)


# ---------------------------------------------------------------- Spark UI


class SparkRest:
    """Reads the Spark UI's REST API of the running application."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.loads(resp.read())

    def settle(self, timeout: float = 10.0) -> None:
        """Wait until the UI has seen every job end."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            if not any(j["status"] == "RUNNING" for j in self.get("/jobs")):
                return
            time.sleep(0.1)

    def snapshot(self) -> dict:
        return {
            "jobs": self.get("/jobs"),
            "stages": self.get("/stages"),
            "sql": self.get("/sql?details=true&planDescription=false&offset=0&length=100000"),
        }


def ui_time(text: str | None) -> float | None:
    """Epoch seconds of a Spark UI timestamp such as
    ``2026-01-02T03:04:05.678GMT``."""
    if not text:
        return None
    return datetime.strptime(text.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def progress_time(text: str) -> float:
    return datetime.strptime(text.replace("Z", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


_UNITS = {
    "ns": 1e-6, "ms": 1.0, "s": 1e3, "min": 60e3, "h": 3600e3,
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
}
_METRIC_VALUE = re.compile(r"(-?[\d,]*\.?\d+)\s*(ns|ms|s|min|h|B|KiB|MiB|GiB|TiB)?\b")


def sql_metric_value(text: str) -> float:
    """Total of a SQL metric as the UI prints it: a plain count
    (``1,234``), or ``total (min, med, max ...)\\n1.2 s (...)`` whose
    first figure is the total. Times come out in ms, sizes in bytes."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    match = _METRIC_VALUE.search(line)
    if not match:
        return 0.0
    return float(match.group(1).replace(",", "")) * _UNITS.get(match.group(2) or "", 1)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cursor = 0.0, lo
    for start, end in sorted(intervals):
        start, end = max(start, cursor), min(end, hi)
        if end > start:
            total += end - start
            cursor = end
    return total


def attribute(lo: float, hi: float, layers) -> dict[str, float]:
    """Seconds of [lo, hi] each layer covers, for ``layers`` given as
    (name, intervals) innermost first: time that several layers cover
    counts for the first of them."""
    out, union, before = {}, [], 0.0
    for name, intervals in layers:
        union += intervals
        now = covered(union, lo, hi)
        out[name] = now - before
        before = now
    return out


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of it that
    its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent_id is not None:
            children[s.parent_id].append((s.start, s.end))
    return {s.span_id: s.duration - covered(children[s.span_id], s.start, s.end) for s in spans}


def innermost(spans: list[Span], t: float) -> Span | None:
    """The shortest span containing time ``t``."""
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.duration < best.duration):
            best = s
    return best


# ------------------------------------------------------------ aggregation


def collect_layers(spans, snapshot, progress, cores, traced_passes, raw_bytes, jvm_calls=()):
    """Per-layer metrics of the traced passes, averaged per pass, and
    each operation's attribution: its wall time, the part of it each
    layer in ``ATTRIBUTED`` covers, and the remainder none covers."""
    n_passes = max(1, len(traced_passes))
    self_ms = {k: v * 1e3 for k, v in self_times(spans).items()}
    roots = [s for s in spans if s.name == OP and s.attrs.get("pass_index") in traced_passes]
    by_op = defaultdict(list)
    for s in spans:
        by_op[s.op_id].append(s)
    staging = [s for s in spans if s.name == STAGE]

    stages = {}
    for st in snapshot["stages"]:
        if st.get("status") != "SKIPPED":
            stages[(st["stageId"], st["attemptId"])] = st
    stage_attempts = defaultdict(list)
    for key in stages:
        stage_attempts[key[0]].append(key)

    m = defaultdict(float)
    per_op = []
    for root in roots:
        op_spans = by_op[root.op_id]
        inner = [s for s in op_spans if s is not root]
        jobs = [j for j in snapshot["jobs"] if _within(ui_time(j.get("submissionTime")), root)]
        job_intervals = [
            (ui_time(j["submissionTime"]), ui_time(j.get("completionTime")) or root.end) for j in jobs
        ]
        m["io.load_calls"] += sum(1 for s in inner if s.name == LOAD)
        for j in jobs:
            owner = innermost(op_spans, ui_time(j["submissionTime"]))
            if owner is not None and owner.name == LOAD:
                m["io.load_jobs"] += 1
            elif owner is not None and owner.name == BUILD:
                m["queries.build_jobs"] += 1
        for s in inner:
            if s.name == COLLECT:
                for phase in ("analysis", "optimization", "planning"):
                    m[f"catalyst.{phase}_ms"] += s.attrs.get(f"{phase}_ms", 0.0)
                if s.parent_id == root.span_id:
                    m["collect.result_rows"] += s.attrs.get("rows", 0)
                    m["collect.idle_ms"] += (s.duration - covered(job_intervals, s.start, s.end)) * 1e3

        seen = set()
        for j in jobs:
            for sid in j.get("stageIds", []):
                for key in stage_attempts.get(sid, []):
                    if key in seen:
                        continue
                    seen.add(key)
                    st = stages[key]
                    m["exec.stages"] += 1
                    m["exec.tasks"] += st.get("numCompleteTasks", 0) + st.get("numFailedTasks", 0)
                    m["exec.run_ms"] += st.get("executorRunTime", 0)
                    m["exec.cpu_ms"] += st.get("executorCpuTime", 0) / 1e6
                    m["exec.gc_ms"] += st.get("jvmGcTime", 0)
                    m["exec.input_bytes"] += st.get("inputBytes", 0)
                    m["exec.output_bytes"] += st.get("outputBytes", 0)
                    m["exec.shuffle_read_bytes"] += st.get("shuffleReadBytes", 0)
                    m["exec.shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
                    m["exec.spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
                    if any(s.name == PIPELINE for s in inner):
                        m["pipelines.input_bytes"] += st.get("inputBytes", 0)
        m["exec.jobs"] += len(jobs)

        sql_intervals = []
        for execution in snapshot["sql"]:
            submitted = ui_time(execution.get("submissionTime"))
            if not _within(submitted, root):
                continue
            sql_intervals.append((submitted, submitted + execution.get("duration", 0) / 1e3))
            for node in execution.get("nodes", []):
                if PYTHON_NODES.search(node.get("nodeName", "")):
                    _python_node_metrics(node, m)

        triggers = [p for p in progress if _within(progress_time(p["timestamp"]), root)]
        trigger_ms = sum(p["durationMs"].get("triggerExecution", 0) for p in triggers)
        trigger_intervals = [
            (progress_time(p["timestamp"]), progress_time(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0) / 1e3)
            for p in triggers
        ]
        if triggers:
            m["streaming.triggers"] += len(triggers)
            m["streaming.trigger_ms"] += trigger_ms
            for p in triggers:
                d = p["durationMs"]
                m["streaming.add_batch_ms"] += d.get("addBatch", 0)
                m["streaming.query_planning_ms"] += d.get("queryPlanning", 0)
                m["streaming.commit_ms"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)
                m["streaming.offset_ms"] += d.get("latestOffset", 0) + d.get("getBatch", 0)
                m["streaming.input_rows"] += p.get("numInputRows", 0)
            last = {}
            for p in triggers:
                last[p["runId"]] = p
            m["streaming.state_rows"] += sum(
                op.get("numRowsTotal", 0) for p in last.values() for op in p.get("stateOperators", [])
            )
            m["streaming.drain_overhead_ms"] += root.duration * 1e3 - trigger_ms

        def spans_named(name):
            return [(s.start, s.end) for s in inner if s.name == name]

        shares = attribute(root.start, root.end, (
            (LOAD, spans_named(LOAD)),
            (STAGE, spans_named(STAGE)),
            ("catalyst", [tuple(iv) for s in inner if s.name == COLLECT for iv in s.attrs.get("catalyst_intervals", [])]),
            ("spark.jobs", job_intervals),
            ("spark.sql", sql_intervals),
            ("streaming.triggers", trigger_intervals),
            (JVM, [iv for iv in jvm_calls if root.start <= iv[0] <= root.end]),
            (DRAIN, spans_named(DRAIN)),
            (COLLECT, spans_named(COLLECT)),
        ))
        wall_ms = root.duration * 1e3
        unattributed = wall_ms - sum(shares.values()) * 1e3
        m["wall_ms"] += wall_ms
        m["trace.unattributed_ms"] += unattributed
        per_op.append({
            "op": root.attrs["op"],
            "pass_index": root.attrs["pass_index"],
            "wall_ms": round(wall_ms, 3),
            "attributed_ms": {k: round(v * 1e3, 3) for k, v in shares.items()},
            "unattributed_ms": round(unattributed, 3),
            "attributed_share": round(1 - unattributed / wall_ms, 5) if wall_ms else 1.0,
        })

    for span_name, metric in ((LOAD, "io.load_s"), (BUILD, "queries.build_s"), (PIPELINE, "pipelines.run_s")):
        m[metric] = sum(self_ms[s.span_id] for r in roots for s in by_op[r.op_id] if s.name == span_name) / 1e3
    wall_ms = m.pop("wall_ms", 0.0)
    pipeline_bytes = m.pop("pipelines.input_bytes", 0.0)
    out = {k: v / n_passes for k, v in m.items()}
    out["exec.busy_ratio"] = m["exec.run_ms"] / (wall_ms * cores) if wall_ms else 0.0
    out["pipelines.input_read_ratio"] = pipeline_bytes / (raw_bytes * n_passes) if raw_bytes else 0.0
    out["streaming.staging_s"] = sum(s.duration for s in staging)
    out["trace.min_attributed_share"] = min((o["attributed_share"] for o in per_op), default=1.0)
    return out, per_op


def _within(t: float | None, span: Span) -> bool:
    return t is not None and span.start <= t <= span.end


# SQL metrics of Python-evaluating nodes -> layer metric.
_PYTHON_METRICS = {
    "time to run Python workers": "functions.python_run_ms",
    "time to start Python workers": "functions.python_boot_ms",
    "time to initialize Python workers": "functions.python_boot_ms",
    "data sent to Python workers": "functions.python_bytes_sent",
    "data returned from Python workers": "functions.python_bytes_received",
    "number of output rows": "functions.python_rows",
}


def _python_node_metrics(node: dict, m: dict) -> None:
    for metric in node.get("metrics", []):
        key = _PYTHON_METRICS.get(metric.get("name", ""))
        if key is not None:
            m[key] += sql_metric_value(metric.get("value", ""))
