"""Tracing from outside the package: in-memory spans around calls into its
public functions, and readers for what Spark records on its own (the event
log and the streaming checkpoint). Nothing here changes the package; the
traced run patches function references in the benchmark process only.
"""

from __future__ import annotations

import bisect
import inspect
import itertools
import json
import os
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

PACKAGE = "kafka_streams_playground_spark"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    trace: str

    @property
    def layer(self) -> str:
        """The layer is the span name up to its last dot
        (``sources.parquet.load_table`` → ``sources.parquet``); a name
        without a dot is its own layer."""
        return self.name.rsplit(".", 1)[0] if "." in self.name else self.name


class Tracer:
    """Spans kept in memory until the run ends. Each thread has its own
    stack of open spans, so spans opened in a streaming ``foreachBatch``
    callback thread nest under that thread's spans only."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = True
        self.trace = ""
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[tuple[int, str]]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def add(self, name: str, start: float, end: float, trace: str, parent: int | None = None) -> int:
        with self._lock:
            span = Span(next(self._ids), name, start, end, parent, trace)
            self.spans.append(span)
        return span.id

    @contextmanager
    def span(self, name: str, trace: str | None = None):
        """A span named ``name``, child of this thread's innermost open span.
        Its trace id is ``trace``, else its parent's, else ``self.trace``."""
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent, parent_trace = stack[-1] if stack else (None, self.trace)
        trace = trace or parent_trace
        with self._lock:
            sid = next(self._ids)
        stack.append((sid, trace))
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, trace))

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]


def innermost(spans: list[Span], trace: str, start: float, end: float) -> int | None:
    """Id of the shortest span of ``trace`` that contains [start, end]."""
    inside = [s for s in spans if s.trace == trace and s.start <= start and end <= s.end]
    return min(inside, key=lambda s: s.end - s.start).id if inside else None


class CatalystListener:
    """A Spark ``QueryExecutionListener``, implemented in Python through the
    py4j callback server, that records the optimization and planning phases
    of each query execution that runs while ``recording`` is set: the
    tracker of the very ``QueryExecution`` a write executed, so nothing is
    planned twice. Spark calls it on its listener bus after an execution
    ends; ``flush`` waits for that. It stays registered for the session's
    life: py4j hands Spark a new proxy object on every call, so it cannot be
    unregistered."""

    PHASES = ("optimization", "planning")

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self._spark = spark
        self.recording = False
        self.phases: list[tuple[str, float, float]] = []  # (phase, start s, end s)
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 - Java interface
        self._record(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 - Java interface
        self._record(qe)

    def _record(self, qe) -> None:
        if not self.recording:
            return
        phases = qe.tracker().phases()
        for phase in self.PHASES:
            found = phases.get(phase)
            if found.isDefined():
                s = found.get()
                self.phases.append((phase, s.startTimeMs() / 1000.0, s.endTimeMs() / 1000.0))

    def flush(self) -> None:
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def take(self) -> list[tuple[str, float, float]]:
        out, self.phases = self.phases, []
        return out

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def analysis_ms(df) -> float:
    """Milliseconds of the analysis phase of ``df``'s own query execution.
    It is the only phase a write does not repeat: the executed query's own
    analysis finds the plan already resolved."""
    found = df._jdf.queryExecution().tracker().phases().get("analysis")
    return float(found.get().durationMs()) if found.isDefined() else 0.0


def span_cost_s(n: int = 10_000) -> float:
    """Seconds one empty span costs, the mean over ``n``."""
    tracer = Tracer()
    t0 = time.perf_counter()
    for _ in range(n):
        with tracer.span("x"):
            pass
    return (time.perf_counter() - t0) / n


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds of self time per layer: each span's duration minus the part
    of it covered by its child spans (children clipped to the parent and
    overlapping children counted once)."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        covered, reach = 0.0, s.start
        for c in sorted(children[s.id], key=lambda c: c.start):
            lo, hi = max(c.start, reach), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                reach = hi
        out[s.layer] += (s.end - s.start) - covered
    return dict(out)


def instrument(tracer: Tracer) -> None:
    """Route every reference to the public functions of ``sources.parquet``,
    ``sources.json_serde`` and ``operators.*`` — in their own modules and
    wherever a plan module imported them by name — through ``tracer``."""
    from kafka_streams_playground_spark.operators import aggregations, joins, stateless, tables
    from kafka_streams_playground_spark.sources import json_serde, parquet

    layers = {
        parquet: "sources.parquet",
        json_serde: "sources.json_serde",
        aggregations: "operators",
        joins: "operators",
        stateless: "operators",
        tables: "operators",
    }
    wrapped = {}
    for mod, layer in layers.items():
        for name, fn in vars(mod).items():
            if inspect.isfunction(fn) and fn.__module__ == mod.__name__ and not name.startswith("_"):
                wrapped[id(fn)] = tracer.wrap(f"{layer}.{name}", fn)
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(PACKAGE):
            continue
        for attr, val in list(vars(mod).items()):
            if id(val) in wrapped:
                setattr(mod, attr, wrapped[id(val)])


# ---------------------------------------------------------------------------
# Spark event log: execution metrics attributed by job group
# ---------------------------------------------------------------------------

def job_group(props: dict, run_ids: dict[str, str]) -> str | None:
    """The trace id a job belongs to: its ``spark.jobGroup.id`` for batch
    queries, or ``<workload>/<q>/<batchId>`` for a streaming micro-batch
    (Spark sets a micro-batch's job group to its query's ``runId``, which
    ``run_ids`` maps to ``<workload>/<q>``, and tags the batch id)."""
    group = props.get("spark.jobGroup.id")
    if group in run_ids and "streaming.sql.batchId" in props:
        return f"{run_ids[group]}/{props['streaming.sql.batchId']}"
    return group


def read_event_log(path: str, run_ids: dict[str, str] | None = None, keep=None) -> dict[str, dict]:
    """Per trace id: jobs, stages, tasks, task run/wait/GC milliseconds,
    shuffle and spill bytes, and execution wall seconds (the union of its jobs' submit→complete intervals). ``keep``
    filters trace ids."""
    run_ids = run_ids or {}
    stage_group: dict[int, str] = {}
    stage_submit: dict[int, int] = {}
    jobs: dict[int, tuple[str, int]] = {}
    intervals: dict[str, list[tuple[int, int]]] = defaultdict(list)
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = job_group(ev.get("Properties") or {}, run_ids)
                if group is None or (keep and not keep(group)):
                    continue
                jobs[ev["Job ID"]] = (group, ev["Submission Time"])
                out[group]["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = group
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                group, submitted = jobs.pop(ev["Job ID"])
                intervals[group].append((submitted, ev["Completion Time"]))
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                if info["Stage ID"] in stage_group:
                    stage_submit[info["Stage ID"]] = info.get("Submission Time", 0)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                group = stage_group.get(info["Stage ID"])
                if group is None:
                    continue
                out[group]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                if group is None:
                    continue
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                rec = out[group]
                rec["tasks"] += 1
                rec["task_run_ms"] += m.get("Executor Run Time", 0)
                rec["gc_ms"] += m.get("JVM GC Time", 0)
                submitted = stage_submit.get(ev["Stage ID"], info["Launch Time"])
                rec["task_wait_ms"] += max(0, info["Launch Time"] - submitted)
                rd = m.get("Shuffle Read Metrics") or {}
                rec["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                rec["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                rec["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    for group, ivs in intervals.items():
        out[group]["exec_s"] = union_seconds(ivs) / 1000.0
    return {g: dict(v) for g, v in out.items()}


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, reach = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        lo = max(lo, reach)
        if hi > lo:
            total += hi - lo
            reach = hi
    return total


def find_event_log(log_dir: str, app_id: str) -> str:
    for name in os.listdir(log_dir):
        if name.startswith(app_id):
            return os.path.join(log_dir, name)
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")


# ---------------------------------------------------------------------------
# Streaming checkpoint: which micro-batch consumed which input file
# ---------------------------------------------------------------------------


def _log_entries(path: str) -> list[str]:
    """The JSON lines of one metadata-log file, without its version header."""
    with open(path) as f:
        return [line.strip() for line in f if line.strip() and not line.startswith("v")]


def source_files(checkpoint: str) -> dict[str, int]:
    """Map each input file (as ``topic/name``, its directory and basename)
    to the id of the micro-batch that consumed it. A file source logs its
    files under ``sources/<n>/<logOffset>`` (rolled up into ``.compact``
    files), and ``offsets/<batchId>`` records each source's log offset at
    the end of every batch; a file belongs to the first batch whose end
    offset reaches its log offset. Offsets differ from batch ids once a
    batch without new files has run. Reading the logs after the run adds
    nothing to the run itself."""
    ends: dict[int, list[tuple[int, int]]] = defaultdict(list)  # source → (end offset, batch)
    offsets_dir = os.path.join(checkpoint, "offsets")
    src_root = os.path.join(checkpoint, "sources")
    if not (os.path.isdir(offsets_dir) and os.path.isdir(src_root)):
        return {}  # no batch has started yet
    for name in os.listdir(offsets_dir):
        if not name.isdigit():
            continue
        for src, line in enumerate(_log_entries(os.path.join(offsets_dir, name))[1:]):
            if line.startswith("{"):
                ends[src].append((int(json.loads(line)["logOffset"]), int(name)))
    out: dict[str, int] = {}
    for src in os.listdir(src_root):
        bounds = sorted(ends[int(src)])
        for name in os.listdir(os.path.join(src_root, src)):
            if name.startswith(".") or name.endswith(".tmp"):
                continue
            for line in _log_entries(os.path.join(src_root, src, name)):
                entry = json.loads(line)
                i = bisect.bisect_left(bounds, (int(entry["batchId"]), -1))
                if i < len(bounds):
                    parts = entry["path"].rstrip("/").split("/")
                    out[f"{parts[-2]}/{parts[-1]}"] = bounds[i][1]
    return out


def commit_times(checkpoint: str) -> dict[int, float]:
    """Batch id → wall time its commit-log entry was written (the end of the
    micro-batch, after the sink committed)."""
    d = os.path.join(checkpoint, "commits")
    return {
        int(name): os.stat(os.path.join(d, name)).st_mtime
        for name in os.listdir(d)
        if name.isdigit()
    }
