"""Tracing for the benchmark: spans, layer self time, Spark counters, RSS.

Everything here runs inside the benchmark process and touches the engine
only through its public surface: spans wrap calls the benchmark makes into
the package modules, counters come from Spark's own status stores after
the timed window, and memory is read from ``/proc``.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import re
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None


class Tracer:
    """In-memory span recorder.

    Disabled, :meth:`span` costs one attribute test and records nothing.
    Spans opened on a thread with no open span of its own (Spark calls
    ``foreachBatch`` sinks on its own threads) take the innermost open span
    of the thread that created the tracer as their parent."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            s = Span(len(self.spans), name, layer, time.perf_counter(), parent=parent.sid if parent else None)
            self.spans.append(s)
        stack.append(s)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            stack.pop()

    def add(self, key: str, value: float) -> None:
        with self._lock:
            self.counts[key] = self.counts.get(key, 0.0) + value

    def measuring(self):
        """A span of the ``trace`` layer around bookkeeping done inside
        another span (counting rows, listing files), so that its time is
        reported as tracing overhead and not charged to the layer."""
        return self.span("trace.measure", "trace")

    def wrap(self, module, attr: str, name: str, layer: str, before=None, after=None) -> None:
        """Replace ``module.attr`` with a traced call. ``before(args,
        kwargs)`` returns a token handed to ``after(token, result)``; both
        run inside the span, under :meth:`measuring`."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                token = None
                if before is not None:
                    with self.measuring():
                        token = before(args, kwargs)
                result = orig(*args, **kwargs)
                if after is not None:
                    with self.measuring():
                        after(token, result)
                return result

        self.replace(module, attr, traced)

    def replace(self, module, attr: str, fn) -> None:
        """Set ``module.attr`` to ``fn`` until :meth:`unwrap`."""
        self._patched.append((module, attr, getattr(module, attr)))
        setattr(module, attr, fn)

    def unwrap(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    def spans_between(self, t0: float, t1: float) -> list[Span]:
        return [s for s in self.spans if s.start >= t0 and s.end <= t1 and s.end > 0]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


def self_time_by_layer(spans: list[Span]) -> dict[str, float]:
    """Wall-clock self time per layer.

    Sweeps the span boundaries; in each interval the open spans with no
    open child are the ones doing the work, and the interval is split
    evenly between them. Nested spans therefore never count twice and
    concurrent spans (parallel stream sinks) share the wall time, so the
    layers add up to the wall time the root spans cover."""
    events = sorted([(s.start, 1, s.sid) for s in spans] + [(s.end, 0, s.sid) for s in spans])
    by_id = {s.sid: s for s in spans}
    active: set[int] = set()
    out: dict[str, float] = {}
    last = None
    for t, kind, sid in events:
        if last is not None and active and t > last:
            parents = {by_id[a].parent for a in active}
            leaves = [a for a in active if a not in parents]
            share = (t - last) / len(leaves)
            for a in leaves:
                layer = by_id[a].layer
                out[layer] = out.get(layer, 0.0) + share
        last = t
        if kind == 1:
            active.add(sid)
        else:
            active.discard(sid)
    return out


# --------------------------------------------------------------------------
# Spark counters, read from the status stores after the timed window

PYTHON_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow", "PythonMapInArrow",
    "FlatMapGroupsInPandas", "FlatMapGroupsInArrow", "FlatMapCoGroupsInPandas",
    "FlatMapCoGroupsInArrow", "AggregateInPandas", "WindowInPandas", "ArrowEvalPythonUDTF",
)
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_NUM = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*(B|KiB|MiB|GiB|TiB)?")


def parse_metric(text: str) -> float:
    """A SQL metric as the status store renders it: ``"1,234"``, ``"5.0
    MiB"`` or ``"total (min, med, max ...)\\n5.0 MiB (...)"``; the total
    is the first number after the header line."""
    body = text.split("\n", 1)[1] if text.startswith("total") and "\n" in text else text
    m = _NUM.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS.get(m.group(2) or "B", 1)


def _seq(jvm, seq) -> list:
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))


class SparkWatermark:
    """The next job id and SQL execution id at a point in time; the jobs
    and executions from there on belong to the window that starts there.
    Job ids restart with each Spark context, execution ids do not."""

    def __init__(self, spark) -> None:
        jvm = spark._jvm
        self.jobs = spark._jsc.sc().dagScheduler().numTotalJobs()
        sql = spark._jsparkSession.sharedState().statusStore()
        self.executions = 1 + max((e.executionId() for e in _seq(jvm, sql.executionsList())), default=-1)


def spark_counters(spark, start: SparkWatermark, build_groups: set[str]) -> dict[str, float]:
    """Totals over the jobs and SQL executions after ``start``.

    Job and stage figures come from the app status store, plan-node
    figures (scan rows and bytes, Python nodes and bytes) from the SQL
    status store. Jobs whose group is in ``build_groups`` ran inside a
    query builder (its internal collects and model fits)."""
    jvm = spark._jvm
    store = spark._jsc.sc().statusStore()
    out = dict.fromkeys(
        ("jobs", "build_jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
         "shuffle_write_bytes", "spill_bytes", "scan_rows", "scan_bytes", "python_nodes",
         "python_bytes_sent"),
        0.0,
    )
    stage_ids: set[int] = set()
    for job in _seq(jvm, store.jobsList(None)):
        if job.jobId() < start.jobs:
            continue
        out["jobs"] += 1
        group = job.jobGroup()
        if group.isDefined() and group.get() in build_groups:
            out["build_jobs"] += 1
        stage_ids.update(int(s) for s in _seq(jvm, job.stageIds()))
    no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    for st in _seq(jvm, store.stageList(None, False, False, no_quantiles, jvm.java.util.ArrayList())):
        if st.stageId() not in stage_ids or st.status().toString() != "COMPLETE":
            continue
        out["stages"] += 1
        out["tasks"] += st.numCompleteTasks()
        out["executor_run_s"] += st.executorRunTime() / 1e3
        out["executor_cpu_s"] += st.executorCpuTime() / 1e9
        out["gc_s"] += st.jvmGcTime() / 1e3
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    sql = spark._jsparkSession.sharedState().statusStore()
    for ex in _seq(jvm, sql.executionsList()):
        eid = ex.executionId()
        if eid < start.executions:
            continue
        values = sql.executionMetrics(eid)
        for node in _seq(jvm, sql.planGraph(eid).allNodes()):
            name = node.name()
            metrics = {m.name(): m.accumulatorId() for m in _seq(jvm, node.metrics())}

            def value(metric: str) -> float:
                acc = metrics.get(metric)
                v = values.get(acc) if acc is not None else None
                return parse_metric(v.get()) if v is not None and v.isDefined() else 0.0

            if name.startswith("Scan "):
                out["scan_rows"] += value("number of output rows")
                out["scan_bytes"] += value("size of files read")
            if name.split(" ")[0] in PYTHON_NODES:
                out["python_nodes"] += 1
                out["python_bytes_sent"] += value("data sent to Python workers")
    return out


# --------------------------------------------------------------------------
# Memory

_PAGE = os.sysconf("SC_PAGE_SIZE")


def descendants(root: int) -> dict[int, int]:
    """Every live descendant of ``root`` (not ``root`` itself) with its RSS
    in bytes: the JVM the benchmark started and the Python workers it
    forks."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for path in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(path) as fh:
                data = fh.read()
        except OSError:
            continue  # the process ended while we listed
        fields = data[data.rindex(")") + 2 :].split()
        if fields[0] == "Z":
            continue
        pid = int(path.split("/")[2])
        children.setdefault(int(fields[1]), []).append(pid)
        rss[pid] = int(fields[21]) * _PAGE
    out, todo = {}, list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out[pid] = rss[pid]
        todo.extend(children.get(pid, []))
    return out


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            data = fh.read()
    except OSError:
        return False
    return data[data.rindex(")") + 2] != "Z"


class RssSampler:
    """Samples the RSS of this process's descendants on a thread, every
    ``INTERVAL`` seconds."""

    INTERVAL = 0.2

    def __init__(self) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while True:
            self.peak = max(self.peak, sum(descendants(me).values()))
            if self._stop.wait(self.INTERVAL):
                return

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


@dataclass
class StreamProgress:
    """Totals from ``StreamingQueryProgress`` events."""

    batches: int = 0
    input_rows: int = 0
    add_batch_s: float = 0.0
    trigger_s: float = 0.0


def streaming_listener(progress: StreamProgress):
    """A ``StreamingQueryListener`` that folds progress into ``progress``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = p.durationMs
            progress.batches += 1
            progress.input_rows += p.numInputRows
            progress.add_batch_s += d.get("addBatch", 0) / 1e3
            progress.trigger_s += d.get("triggerExecution", 0) / 1e3

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()
