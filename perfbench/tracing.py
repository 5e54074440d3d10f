"""Instrumentation for the traced run.

Spans are recorded from the benchmark's side only: the public
functions of every ``data_frame_spark.operators`` and
``data_frame_spark.sources`` module, ``session.load_table`` and the
eager DataFrame actions are rebound to wrappers that open a span. The
spans stay in memory and are written out when the run ends.

Engine-side numbers come from Spark's status stores (jobs, stages and
SQL plan metrics), read through py4j after each pass and attributed to
spans by time window: jobs launched from a query's own thread pool do not
carry the caller's job group, so windows are the only attribution that
sees them.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import pkgutil
import statistics
import sys
import threading
import time
import types

from py4j.protocol import Py4JJavaError

LAYER_PACKAGES = ("operators", "sources")
SESSION_FUNCTIONS = ("load_table",)
#: DataFrame methods that run a Spark job and wait for its result
EAGER_METHODS = (
    "collect", "toPandas", "count", "first", "take", "head",
    "checkpoint", "localCheckpoint", "toLocalIterator",
)


class Tracer:
    """In-memory span recorder.

    A span is a dict with ``name``, ``start``, ``end``, ``parent`` (the
    index of the enclosing span, or None), ``query`` and ``pass``.
    Spans opened on a thread with no open span of its own (a query's
    thread pool) take ``root`` as their parent.
    """

    def __init__(self) -> None:
        self.spans: list[dict] = []
        #: wrappers stay installed; while False they only pass calls on
        self.active = False
        self.query: str | None = None
        self.pass_no: int | None = None
        #: "build" while a registry callable runs, else None
        self.phase: str | None = None
        self.root: int | None = None
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": stack[-1] if stack else self.root,
            "query": self.query,
            "pass": self.pass_no,
        }
        with self._lock:
            sid = len(self.spans)
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            rec["end"] = time.time()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def wrap_eager(self, method: str, fn):
        """Span an eager action only while a registry callable runs, and only the
        outermost one (``first`` calls ``head`` calls ``take`` ...)."""

        @functools.wraps(fn)
        def traced(df, *args, **kwargs):
            local = self._local
            if (
                not self.active
                or self.phase != "build"
                or getattr(local, "in_eager", False)
            ):
                return fn(df, *args, **kwargs)
            local.in_eager = True
            try:
                with self.span("eager." + method):
                    return fn(df, *args, **kwargs)
            finally:
                local.in_eager = False

        return traced


def _layer_modules():
    """Import and yield (layer name, module) for every layer module."""
    for pkg in LAYER_PACKAGES:
        package = importlib.import_module(f"data_frame_spark.{pkg}")
        for info in pkgutil.iter_modules(package.__path__):
            module = importlib.import_module(f"{package.__name__}.{info.name}")
            yield f"{pkg}.{info.name}", module


def install(tracer: Tracer) -> None:
    """Rebind the layer entry points to span-opening wrappers.

    Every reference a ``data_frame_spark`` module holds to a wrapped
    function is rebound, so ``from x import f`` call sites are seen too.
    Wrappers pass calls straight on while ``tracer.active`` is False.
    The run ends after tracing; nothing is unbound.
    """
    from pyspark.sql.classic.dataframe import DataFrame

    from data_frame_spark import session

    wrapped = {}
    for layer, module in _layer_modules():
        for attr, fn in vars(module).items():
            if (
                isinstance(fn, types.FunctionType)
                and fn.__module__ == module.__name__
                and not attr.startswith("_")
                and not inspect.isgeneratorfunction(fn)
            ):
                wrapped[fn] = tracer.wrap(f"{layer}.{attr}", fn)
    for attr in SESSION_FUNCTIONS:
        fn = getattr(session, attr)
        wrapped[fn] = tracer.wrap(f"session.{attr}", fn)

    for name, module in list(sys.modules.items()):
        if module is None or not (
            name == "data_frame_spark" or name.startswith("data_frame_spark.")
        ):
            continue
        for attr, value in list(vars(module).items()):
            if isinstance(value, types.FunctionType) and value in wrapped:
                setattr(module, attr, wrapped[value])

    for method in EAGER_METHODS:
        setattr(DataFrame, method, tracer.wrap_eager(method, getattr(DataFrame, method)))


class StatusStore:
    """Read Spark's status stores through py4j (the UI may be off).

    Each read serialises the store's own API objects to JSON with the
    JVM's Jackson mapper, one py4j call per list.
    """

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self._jsc = sc._jsc.sc()
        self._gateway = sc._gateway
        self._jvm = jvm
        self._app = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        scala = jvm.com.fasterxml.jackson.module.scala
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(
            getattr(getattr(scala, "DefaultScalaModule$"), "MODULE$")
        )
        #: executions before the store was opened are never read
        self._execs_seen = self._sql.executionsCount()

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def drain(self) -> None:
        """Wait until every posted listener event reached the stores."""
        self._jsc.listenerBus().waitUntilEmpty()

    def jobs(self) -> list[dict]:
        return self._json(self._app.jobsList(None))

    def stages(self) -> list[dict]:
        no_quantiles = self._gateway.new_array(self._jvm.double, 0)
        return self._json(
            self._app.stageList(
                None, False, False, no_quantiles, self._jvm.java.util.ArrayList()
            )
        )

    def new_executions(self) -> list[dict]:
        """SQL executions started since the previous call, each with its
        plan graph nodes and formatted metric values."""
        count = self._sql.executionsCount()
        execs = self._sql.executionsList(self._execs_seen, count - self._execs_seen)
        self._execs_seen = count
        out = []
        for i in range(execs.size()):
            e = execs.apply(i)
            eid = e.executionId()
            try:
                graph = self._sql.planGraph(eid)
            except Py4JJavaError:  # the store keeps no graph for it
                continue
            out.append({
                "id": eid,
                "submitted": e.submissionTime() / 1000.0,
                "nodes": self._json(graph.allNodes()),
                "values": self._json(self._sql.executionMetrics(eid)),
            })
        return out


#: retention high enough that no job, stage or execution of a run is
#: evicted before it is read
RETENTION_CONF = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100000",
}

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}


def parse_metric(text: str) -> float:
    """Total of one SQL metric as the status store formats it:
    ``"12.3 MiB"``, ``"1,234"`` or, with per-task statistics,
    ``"total (min, med, max ...)\\n45 ms (1 ms, 2 ms, 9 ms (...))"``."""
    head = text.strip().split("\n")[-1].split(" (")[0].strip()
    parts = head.split()
    try:
        if len(parts) == 2 and parts[1] in _UNITS:
            return float(parts[0].replace(",", "")) * _UNITS[parts[1]]
        return float(head.replace(",", ""))
    except ValueError:
        return 0.0


def union_length(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans: list[dict]) -> list[float]:
    """Span duration minus the part of it that child spans cover."""
    children: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = []
    for sid, s in enumerate(spans):
        covered = union_length(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in children.get(sid, ())
            if c["end"] > s["start"] and c["start"] < s["end"]
        )
        out.append(s["end"] - s["start"] - covered)
    return out


def _within(t: float | None, windows) -> bool:
    return t is not None and any(a <= t <= b for a, b in windows)


def _ms(v) -> float | None:
    return None if v is None else v / 1000.0


def pass_metrics(spans, self_t, pass_no, window, jobs, stages, execs) -> dict:
    """Per-layer totals of one traced pass.

    ``spans``/``self_t`` cover the whole run; only spans of ``pass_no``
    count. Jobs and SQL executions are attributed by submission time.
    """
    t0, t1 = window
    mine = [(s, st) for s, st in zip(spans, self_t) if s["pass"] == pass_no]

    def windows(pred):
        return [(s["start"], s["end"]) for s, _ in mine if pred(s["name"])]

    build_w = windows(lambda n: n == "build")
    action_w = windows(lambda n: n == "action")
    load_w = windows(lambda n: n == "session.load_table")
    m: dict[str, float] = {}
    m["queries.build_s"] = sum(b - a for a, b in build_w)
    m["action.s"] = sum(b - a for a, b in action_w)
    m["queries.build_share"] = m["queries.build_s"] / (
        m["queries.build_s"] + m["action.s"]
    )
    m["session.load_table_s"] = sum(b - a for a, b in load_w)
    m["session.load_table_calls"] = float(len(load_w))
    eager = windows(lambda n: n.startswith("eager."))
    m["queries.eager_actions"] = float(len(eager))
    m["queries.eager_action_s"] = sum(b - a for a, b in eager)
    for s, st in mine:
        parts = s["name"].split(".")
        if parts[0] in LAYER_PACKAGES:
            key = f"{parts[0]}.{parts[1]}.s"
            m[key] = m.get(key, 0.0) + st

    pass_jobs = [j for j in jobs if _within(_ms(j.get("submissionTime")), [window])]
    m["spark.jobs"] = float(len(pass_jobs))
    m["queries.build_jobs"] = float(
        sum(_within(_ms(j.get("submissionTime")), build_w) for j in pass_jobs)
    )
    m["action.jobs"] = float(
        sum(_within(_ms(j.get("submissionTime")), action_w) for j in pass_jobs)
    )
    m["session.load_table_jobs"] = float(
        sum(_within(_ms(j.get("submissionTime")), load_w) for j in pass_jobs)
    )
    busy = union_length(
        (max(_ms(j["submissionTime"]), t0), min(_ms(j.get("completionTime")) or t1, t1))
        for j in pass_jobs
    )
    m["spark.job_busy_s"] = busy
    m["spark.driver_gap_s"] = (t1 - t0) - busy

    stage_ids = {sid for j in pass_jobs for sid in j.get("stageIds", ())}
    ran = [s for s in stages if s["stageId"] in stage_ids and s.get("status") != "SKIPPED"]
    total = lambda key: float(sum(s.get(key) or 0 for s in ran))  # noqa: E731
    m["spark.stages"] = float(len(ran))
    m["spark.tasks"] = total("numCompleteTasks") + total("numFailedTasks")
    m["spark.failed_tasks"] = total("numFailedTasks")
    m["spark.task_run_s"] = total("executorRunTime") / 1e3
    m["spark.task_cpu_s"] = total("executorCpuTime") / 1e9
    m["spark.gc_s"] = total("jvmGcTime") / 1e3
    m["scan.input_bytes"] = total("inputBytes")
    m["scan.input_rows"] = total("inputRecords")
    m["io.output_bytes"] = total("outputBytes")
    m["shuffle.write_bytes"] = total("shuffleWriteBytes")
    m["shuffle.read_bytes"] = total("shuffleReadBytes")
    m["shuffle.write_s"] = total("shuffleWriteTime") / 1e9
    m["shuffle.fetch_wait_s"] = total("shuffleFetchWaitTime") / 1e3
    m["spill.bytes"] = total("memoryBytesSpilled") + total("diskBytesSpilled")
    m["memory.peak_exec_mb"] = max(
        (s.get("peakExecutionMemory") or 0 for s in ran), default=0
    ) / 2.0**20

    sql = {
        "compute.agg_s": 0.0, "compute.join_build_s": 0.0, "compute.sort_s": 0.0,
        "scan.time_s": 0.0, "broadcast.count": 0.0, "broadcast.bytes": 0.0,
        "python.bytes_sent": 0.0, "python.bytes_received": 0.0,
    }
    by_name = {
        "time in aggregation build": "compute.agg_s",
        "time to build hash map": "compute.join_build_s",
        "sort time": "compute.sort_s",
        "scan time": "scan.time_s",
        "data sent to Python workers": "python.bytes_sent",
        "data returned from Python workers": "python.bytes_received",
    }
    for e in execs:
        if not (t0 <= e["submitted"] <= t1):
            continue
        seen = set()
        for node in e["nodes"]:
            values = {}
            for metric in node.get("metrics", ()):
                acc = metric["accumulatorId"]
                if acc in seen:
                    continue
                seen.add(acc)
                text = e["values"].get(str(acc))
                if text:
                    values[metric["name"]] = parse_metric(text)
            for name, v in values.items():
                if name in by_name:
                    sql[by_name[name]] += v
            if node.get("name") == "BroadcastExchange" and values.get("data size"):
                sql["broadcast.count"] += 1
                sql["broadcast.bytes"] += values["data size"]
                sql["compute.join_build_s"] += values.get("time to build", 0.0)
    m.update(sql)
    return m


def median_of(per_pass: list[dict]) -> dict[str, float]:
    keys = sorted({k for p in per_pass for k in p})
    return {k: statistics.median(p.get(k, 0.0) for p in per_pass) for k in keys}
