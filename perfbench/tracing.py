"""Tracing from outside the package: spans around its public functions,
py4j round-trip counts, Catalyst phase times and Spark status-store reads.

Nothing inside the engine changes. ``Tracer.install`` rebinds the public
functions named in ``LAYER_FUNCTIONS`` (in every engine module that
imported them by name) to wrappers that record a span (name, start, end,
parent, operation id) while tracing is on; ``uninstall`` restores them.
Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import importlib
import re
import sys
import threading
import time
from contextlib import contextmanager

PKG = "airflow_pipelines_from_mongo_to_postgres_spark"

#: (module, attribute, span name). Class attributes are given as
#: "module:Class".
LAYER_FUNCTIONS = [
    (f"{PKG}.sources.catalog", "load_table", "sources.load_table"),
    (f"{PKG}.sources.catalog", "spread", "sources.spread"),
    (f"{PKG}.sources.mongoql", "apply_pipeline", "mongoql.apply_pipeline"),
    (f"{PKG}.plans.entities:EntitySpec", "conform", "conform.build"),
    (f"{PKG}.operators.keygen", "assign_surrogate_keys", "keygen.assign"),
    (f"{PKG}.operators.merge", "merge_upsert", "merge.build"),
    (f"{PKG}.operators.merge", "insert_if_absent", "merge.build"),
    (f"{PKG}.plans.pipeline:Warehouse", "write", "pipeline.write"),
]


class Tracer:
    def __init__(self):
        self.enabled = False
        self.spans: list[dict] = []
        self.op: str | None = None
        self.jvm_calls = 0
        self._stack: list[int] = []
        self._undo: list[tuple] = []
        self._main = threading.get_ident()
        self.on_span_end = {}   # span name -> callback(span, args)

    # -- spans -------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None,
               "jvm0": self.jvm_calls}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            rec["jvm_calls"] = self.jvm_calls - rec.pop("jvm0")

    def _wrapper(self, orig, name):
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            with tracer.span(name) as rec:
                out = orig(*args, **kwargs)
            hook = tracer.on_span_end.get(name)
            if hook:
                hook(rec, args)
            return out
        traced.__wrapped__ = orig
        return traced

    # -- installation ------------------------------------------------------
    def install(self, gateway_client) -> None:
        """Wrap the layer functions and count py4j sends from this thread."""
        for target, attr, name in LAYER_FUNCTIONS:
            mod_name, _, cls = target.partition(":")
            owner = importlib.import_module(mod_name)
            if cls:
                owner = getattr(owner, cls)
                orig = owner.__dict__[attr]
                self._set(owner, attr, self._wrapper(orig, name), orig)
                continue
            orig = getattr(owner, attr)
            wrapped = self._wrapper(orig, name)
            for mod in list(sys.modules.values()):
                if (getattr(mod, "__name__", "").startswith(PKG)
                        and getattr(mod, attr, None) is orig):
                    self._set(mod, attr, wrapped, orig)
        send = gateway_client.send_command
        tracer = self

        def counting_send(*args, **kwargs):
            if threading.get_ident() == tracer._main:
                tracer.jvm_calls += 1
            return send(*args, **kwargs)
        gateway_client.send_command = counting_send
        self._undo.append((gateway_client, "send_command", None))

    def _set(self, owner, attr, new, orig) -> None:
        setattr(owner, attr, new)
        self._undo.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            if orig is None:
                delattr(owner, attr)        # instance override → class method
            else:
                setattr(owner, attr, orig)
        self._undo.clear()


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    kids: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        if s["end"] is None:
            continue
        covered, cur_end = 0.0, s["start"]
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, cur_end), min(b, s["end"])
            if b > a:
                covered += b - a
                cur_end = b
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


# ----------------------------------------------------------------- Catalyst
class PhaseListener:
    """py4j-implemented ``QueryExecutionListener``: records the planning
    phases of each query execution that actually ran (a noop write, for
    one, runs its own QueryExecution, whose tracker is not the
    DataFrame's)."""

    PHASES = ("analysis", "optimization", "planning")

    def __init__(self):
        self.records: list[dict] = []
        self._lock = threading.Lock()

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802
        rec = {"func": func_name}
        try:
            phases = qe.tracker().phases()
            for k in self.PHASES:
                if phases.contains(k):
                    rec[k] = phases.apply(k).durationMs()
        except Exception as e:  # noqa: BLE001 — recorded, never raised
            rec["error"] = repr(e)
        with self._lock:
            self.records.append(rec)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        with self._lock:
            self.records.append({"func": func_name, "failed": True})

    def wait_for(self, n: int, timeout: float = 5.0) -> list[dict]:
        """Block until ``n`` records arrived (the listener bus is async)."""
        deadline = time.monotonic() + timeout
        while len(self.records) < n and time.monotonic() < deadline:
            time.sleep(0.01)
        with self._lock:
            return list(self.records)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def register_phase_listener(spark) -> PhaseListener:
    from pyspark.java_gateway import ensure_callback_server_started

    ensure_callback_server_started(spark.sparkContext._gateway)
    listener = PhaseListener()
    spark._jsparkSession.listenerManager().register(listener)
    return listener


# ------------------------------------------------------------- status store
_DURATION = re.compile(r"([\d.,]+)\s*(ms|s|m|h)\b")
_UNIT_MS = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}


def _duration_ms(text: str) -> float:
    """Total of a formatted SQL timing metric ('total (min, med, max ...)
    \\n1.2 s (...)' or '345 ms')."""
    body = text.split("\n", 1)[-1]
    m = _DURATION.search(body)
    return float(m.group(1).replace(",", "")) * _UNIT_MS[m.group(2)] if m else 0.0


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


class StatusReader:
    """Reads what Spark's status stores hold about one operation: the jobs
    of its job group, their stages, and the SQL executions it started."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.app = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._exec_mark = 0

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)
        self._exec_mark = self.sql.executionsCount()

    def end(self, group: str) -> dict:
        jvm = self.sc._jvm
        out = {"jobs": 0, "stages": 0, "tasks": 0, "single_task_stages": 0,
               "run_ms": 0.0, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
               "spill_bytes": 0, "scan_rows": 0, "scan_bytes": 0,
               "scan_time_ms": 0.0, "task_skew": 1.0, "exec_s": 0.0}
        job_ids = self.sc.statusTracker().getJobIdsForGroup(group)
        out["jobs"] = len(job_ids)
        quantiles = self.sc._gateway.new_array(jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        for jid in sorted(job_ids):
            for sid in _seq(self.app.job(jid).stageIds()):
                st = self.app.lastStageAttempt(sid)
                if st.status().toString() != "COMPLETE":
                    continue            # skipped: output reused
                out["stages"] += 1
                n = st.numTasks()
                out["tasks"] += n
                out["single_task_stages"] += n == 1
                out["run_ms"] += st.executorRunTime()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out["scan_rows"] += st.inputRecords()
                out["scan_bytes"] += st.inputBytes()
                if n > 1:
                    summ = self.app.taskSummary(sid, st.attemptId(), quantiles)
                    if summ.isDefined():
                        q = summ.get().executorRunTime()
                        med, mx = q.apply(0), q.apply(1)
                        out["task_skew"] = max(out["task_skew"], mx / max(med, 1.0))
        count = self.sql.executionsCount()
        out["executions"] = count - self._exec_mark
        for ex in _seq(self.sql.executionsList(self._exec_mark, count - self._exec_mark)):
            done = ex.completionTime()
            if done.isDefined():
                out["exec_s"] += (done.get().getTime() - ex.submissionTime()) / 1e3
            out["scan_time_ms"] += self._scan_time_ms(ex.executionId())
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        return out

    def _scan_time_ms(self, exec_id: int) -> float:
        wanted = {metric.accumulatorId()
                  for node in _seq(self.sql.planGraph(exec_id).allNodes())
                  if node.name().startswith("Scan")
                  for metric in _seq(node.metrics())
                  if metric.name() == "scan time"}
        if not wanted:
            return 0.0
        # iterate entries: a Python int key would cross py4j as an Integer
        # and miss the map's Long keys
        values = self.sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
            self.sql.executionMetrics(exec_id))
        return sum(_duration_ms(e.getValue()) for e in values.entrySet()
                   if e.getKey() in wanted)
