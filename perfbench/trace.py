"""Spans and per-layer counters for the traced run.

Spans are recorded from the benchmark's own wrappers around the calls into
each layer; nothing inside the program is changed. Each span has a name, a
start, an end, a parent and the id of the query it belongs to. Spans stay in
memory and are written out when the run ends.

Counters are read at the same boundaries, once per query, after Spark's
listener bus has drained:

- stage deltas from the ``AppStatusStore`` (executor run/CPU/GC time, tasks,
  input, shuffle, spill, output);
- the Python SQL metrics of new SQL executions (worker boot/init/run time,
  bytes sent and received), summed over tasks;
- Catalyst phase times from a ``QueryExecutionListener`` on every session the
  program uses, child sessions included;
- streaming progress of every query started through ``DataStreamWriter``, in
  any session;
- py4j round trips made by the main thread during plan build.
"""

from __future__ import annotations

import functools
import json
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

STAGE_FIELDS = {
    "exec.run_s": ("executorRunTime", 1e-3),
    "exec.cpu_s": ("executorCpuTime", 1e-9),
    "exec.gc_s": ("jvmGcTime", 1e-3),
    "exec.input_bytes": ("inputBytes", 1),
    "exec.input_rows": ("inputRecords", 1),
    "shuffle.write_bytes": ("shuffleWriteBytes", 1),
    "shuffle.read_bytes": ("shuffleReadBytes", 1),
    "exec.completed_tasks": ("numCompleteTasks", 1),
    "exec.failed_tasks": ("numFailedTasks", 1),
}
SPILL_FIELDS = ("memoryBytesSpilled", "diskBytesSpilled")
OUTPUT_FIELDS = {"sources.output_bytes": "outputBytes", "sources.output_rows": "outputRecords"}

PYTHON_METRICS = {
    "time to run Python workers": "python.total_s",
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}
PYTHON_NODE_WORDS = ("Python", "PySpark", "Pandas", "Arrow")
_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}
_VALUE = re.compile(r"(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric: '1.6 s', '147.9 KiB', or the
    multi-task form 'total (min, med, max (...))\\n12 ms (...)'."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int | None, list[dict]] = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cursor = s["start"]
        for c in sorted(children[s["id"]], key=lambda c: c["start"]):
            lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def layer_self_times(spans: list[dict]) -> dict[str, float]:
    """Self time summed per span name."""
    st = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s["name"]] += st[s["id"]]
    return dict(out)


class Tracer:
    """Span recorder plus per-query counter reader for one Spark run."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.enabled = True
        self._stack: list[int] = []
        self._query: str | None = None
        self._main = threading.get_ident()
        self._py4j_calls = 0
        self._count_py4j = False
        self._phases: list[dict] = []
        self._phase_lock = threading.Lock()
        self._seen_qe: set[int] = set()
        self._streams: list[dict] = []
        self._listened: set[str] = set()
        self._listeners: list = []
        self.spark = None

    # -- spans -------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        if not self.enabled or threading.get_ident() != self._main:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "query": self._query,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    @contextmanager
    def counting_py4j(self):
        self._count_py4j = self.enabled
        try:
            yield
        finally:
            self._count_py4j = False

    # -- wrappers ----------------------------------------------------------
    def install_pyspark(self) -> None:
        """Wrap pyspark entry points once per process."""
        from py4j.java_gateway import GatewayClient
        from pyspark.sql import SparkSession
        from pyspark.sql.streaming.query import StreamingQuery
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        tracer = self

        # pyspark's pinned-thread JavaClient inherits this method
        orig_send = GatewayClient.send_command

        def send_command(self, *a, **k):
            if tracer._count_py4j and threading.get_ident() == tracer._main:
                tracer._py4j_calls += 1
            return orig_send(self, *a, **k)

        GatewayClient.send_command = send_command

        orig_start = DataStreamWriter.start

        def start(self, *a, **k):
            t = time.perf_counter()
            with tracer.span("streaming.start"):
                q = orig_start(self, *a, **k)
            if tracer.enabled:
                tracer._streams.append({"q": q, "start": t, "stop": None})
            return q

        DataStreamWriter.start = start

        orig_stop = StreamingQuery.stop

        def stop(self):
            try:
                return orig_stop(self)
            finally:
                for s in tracer._streams:
                    if s["q"] is self and s["stop"] is None:
                        s["stop"] = time.perf_counter()

        StreamingQuery.stop = stop

        orig_new = SparkSession.newSession

        def new_session(self):
            child = orig_new(self)
            tracer.listen(child)
            return child

        SparkSession.newSession = new_session

    def listen(self, session) -> None:
        """Register the Catalyst-phase listener on ``session`` (once)."""
        from pyspark.java_gateway import ensure_callback_server_started

        jss = session._jsparkSession
        uid = jss.sessionUUID()
        if uid in self._listened:
            return
        ensure_callback_server_started(session.sparkContext._gateway)
        listener = _PhaseListener(self)
        jss.listenerManager().register(listener)
        self._listeners.append((jss, listener))
        self._listened.add(uid)

    def set_enabled(self, enabled: bool) -> None:
        """Turn spans, counters and the phase listeners on or off."""
        if enabled == self.enabled:
            return
        for jss, listener in self._listeners:
            if enabled:
                jss.listenerManager().register(listener)
            else:
                jss.listenerManager().unregister(listener)
        self.enabled = enabled
        if enabled:
            self._drain()
            self._stage_mark = self._max_stage()
            self._exec_mark = self._max_execution()

    # -- counters ----------------------------------------------------------
    def attach(self, spark) -> None:
        self.spark = spark
        self.listen(spark)
        self._drain()
        self._stage_mark = self._max_stage()
        self._exec_mark = self._max_execution()

    def _drain(self) -> None:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def _stages(self):
        sc = self.spark.sparkContext
        jvm = sc._jvm
        return sc._jsc.sc().statusStore().stageList(
            jvm.java.util.ArrayList(), False, False,
            sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )

    def _max_stage(self) -> int:
        stages = self._stages()
        return stages.apply(0).stageId() if stages.length() else -1

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _max_execution(self) -> int:
        store = self._sql_store()
        n = store.executionsCount()
        return store.executionsList(n - 1, 1).apply(0).executionId() if n else -1

    def begin_query(self, qid: str) -> None:
        self._query = qid
        self._py4j_calls = 0
        with self._phase_lock:
            self._phases_start = len(self._phases)
            self._seen_qe.clear()
        self._streams = []
        self._analysis_s = 0.0

    def record_analysis(self, df) -> None:
        """Analysis of the DataFrame the query returned. Building a
        DataFrame analyzes it without running an action, so the listener
        never sees this phase."""
        if self.enabled:
            ph = df._jdf.queryExecution().tracker().phases().get("analysis")
            if ph.isDefined():
                self._analysis_s += ph.get().durationMs() / 1e3

    def mark_build_end(self) -> None:
        """Stages submitted so far belong to plan build (eager work)."""
        if self.enabled:
            self._drain()
            self._build_stage_mark = self._max_stage()

    def end_query(self) -> dict:
        """Counter deltas since ``begin_query``."""
        self._query = None
        self._drain()
        c: dict[str, float] = defaultdict(float)
        c["registry.py4j_calls"] = self._py4j_calls
        self._stage_counters(c)
        self._python_counters(c)
        with self._phase_lock:
            phases = self._phases[self._phases_start:]
        c["catalyst.analysis_s"] = self._analysis_s
        for ph in phases:
            for k in ("analysis", "optimization", "planning"):
                c[f"catalyst.{k}_s"] += ph.get(k, 0) / 1e3
        self._stream_counters(c)
        return dict(c)

    def _stage_counters(self, c) -> None:
        stages = self._stages()
        build_mark = getattr(self, "_build_stage_mark", self._stage_mark)
        top = self._stage_mark
        for i in range(stages.length()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= self._stage_mark:
                break
            top = max(top, sid)
            for name, (field, scale) in STAGE_FIELDS.items():
                c[name] += getattr(s, field)() * scale
            c["shuffle.spill_bytes"] += sum(getattr(s, f)() for f in SPILL_FIELDS)
            if sid <= build_mark:
                for name, field in OUTPUT_FIELDS.items():
                    c[name] += getattr(s, field)()
        self._stage_mark = top
        self._build_stage_mark = top

    def _python_counters(self, c) -> None:
        store = self._sql_store()
        n = store.executionsCount()
        want = min(n, 256)
        execs = store.executionsList(n - want, want) if want else None
        top = self._exec_mark
        for i in range(want):
            e = execs.apply(i)
            eid = e.executionId()
            if eid <= self._exec_mark:
                continue
            top = max(top, eid)
            values = None
            nodes = store.planGraph(eid).allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                # ArrowEvalPython, FlatMapGroupsInPandas, MapInArrow,
                # TransformWithStateInPySpark, BatchEvalPython, ...
                if not any(w in node.name() for w in PYTHON_NODE_WORDS):
                    continue
                if values is None:
                    values = store.executionMetrics(eid)
                metrics = node.metrics().iterator()
                while metrics.hasNext():
                    m = metrics.next()
                    key = PYTHON_METRICS.get(m.name())
                    if key is None:
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        c[key] += parse_sql_metric(v.get())
        self._exec_mark = top

    def _stream_counters(self, c) -> None:
        now = time.perf_counter()
        for s in self._streams:
            lifetime = (s["stop"] or now) - s["start"]
            trigger_ms = 0.0
            peak_mem = 0
            rows_total = 0
            for p in s["q"].recentProgress:
                p = json.loads(p.json)
                d = p.get("durationMs", {})
                c["streaming.batches"] += 1
                c["streaming.empty_batches"] += p.get("numInputRows", 0) == 0
                c["streaming.input_rows"] += p.get("numInputRows", 0)
                trigger_ms += d.get("triggerExecution", 0)
                c["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
                c["streaming.wal_commit_s"] += d.get("walCommit", 0) / 1e3
                c["streaming.planning_s"] += d.get("queryPlanning", 0) / 1e3
                ops = p.get("stateOperators", [])
                c["state.commit_s"] += sum(o.get("commitTimeMs", 0) for o in ops) / 1e3
                peak_mem = max(peak_mem, sum(o.get("memoryUsedBytes", 0) for o in ops))
                rows_total = sum(o.get("numRowsTotal", 0) for o in ops)
            c["streaming.trigger_s"] += trigger_ms / 1e3
            # stream time no trigger covers: start, stop and the drain wait
            c["streaming.idle_s"] += max(0.0, lifetime - trigger_ms / 1e3)
            c["state.memory_bytes_peak"] = max(c["state.memory_bytes_peak"], peak_mem)
            c["state.rows_total"] += rows_total
        self._streams = []

    def _first_sighting(self, key: int) -> bool:
        with self._phase_lock:
            if key in self._seen_qe:
                return False
            self._seen_qe.add(key)
            return True

    def _record_phases(self, phases: dict) -> None:
        with self._phase_lock:
            self._phases.append(phases)


class _PhaseListener:
    """py4j proxy for ``QueryExecutionListener``: Catalyst phase times of
    every action run in the session it is registered on."""

    def __init__(self, tracer: Tracer) -> None:
        self._tracer = tracer

    def onSuccess(self, funcName, qe, durationNs):  # noqa: N802 (Java interface)
        self._record(qe)

    def onFailure(self, funcName, qe, exception):  # noqa: N802
        self._record(qe)

    def _record(self, qe) -> None:
        # a micro-batch can reach a listener through the stream's session
        # and through its parent's; count each QueryExecution once
        if not self._tracer._first_sighting(qe.hashCode()):
            return
        it = qe.tracker().phases().iterator()
        phases = {}
        while it.hasNext():
            kv = it.next()
            phases[kv._1()] = kv._2().durationMs()
        self._tracer._record_phases(phases)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]
