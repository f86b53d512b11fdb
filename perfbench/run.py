"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One process, one SparkSession on
``local[nproc]``, one client issuing operations back to back (closed loop),
each against cleared engine caches. Set-up (session start, seeded input
generation, the workload's untimed warm-up units) is timed as ``setup_s``;
then whole units run until ``--seconds`` have passed. With ``--trace 1`` a
second, traced timed phase follows and the per-layer metrics are printed instead
of the end-to-end ones. The last stdout line is the result object; the
per-operation record (and, traced, every span) goes to
``perfbench/.work/results/``. Metric names and units come from
``BENCHMARK.json``; DESIGN.md says what each one measures.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from collections import defaultdict  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PKG = "airflow_pipelines_from_mongo_to_postgres_spark"
#: timed units per phase, at least
MIN_UNITS = 2


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _cpu_s(pid: int) -> float:
    """User + system CPU seconds of process ``pid`` so far, all threads."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def _jvm_counters(spark) -> dict:
    """Driver-JVM totals so far: GC and JIT compilation seconds, classes
    loaded (generated code included)."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return {
        "gc_s": sum(g.getCollectionTime()
                    for g in mf.getGarbageCollectorMXBeans()) / 1e3,
        "jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1e3,
        "classes_loaded": mf.getClassLoadingMXBean().getTotalLoadedClassCount(),
    }


def _dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


class Harness:
    def __init__(self, args):
        self.seed, self.seconds = args.seed, args.seconds
        self.root = ROOT
        self.work = HERE / ".work" / f"{args.workload}-s{args.seed}-p{os.getpid()}"
        self.cores = len(os.sched_getaffinity(0))
        self.ops: list[dict] = []
        self.phase = "untraced"
        from tracing import Tracer

        self.tracer = Tracer()          # installed and enabled only if traced
        self.status = self.listener = None
        self.units: list[dict] = []     # per timed unit: phase, JVM deltas
        self.log = log

    # -- session -----------------------------------------------------------
    def start_session(self):
        for sub in ("tmp", "spark-local"):
            (self.work / sub).mkdir(parents=True, exist_ok=True)
        os.environ["TMPDIR"] = str(self.work / "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "spark-local")
        from airflow_pipelines_from_mongo_to_postgres_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=self.cores, extra_conf={
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData "
                f"-Dderby.system.home={self.work / 'tmp'}",
            "spark.sql.warehouse.dir": str(self.work / "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the traced phase reads every job, stage and SQL execution of
            # an operation back from the status store: keep them all
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
        self.session_start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        self.py_pid = os.getpid()

    def stop_session(self) -> None:
        from pyspark import SparkContext

        if not hasattr(self, "spark"):
            return
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()      # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()

    # -- operations --------------------------------------------------------
    def op(self, unit: int, name: str, fn):
        """Time ``fn()`` as one operation; returns its result, or None if
        it raised (counted as failed)."""
        out = None
        rec = {"phase": self.phase, "unit": unit, "op": name, "ok": True}
        tr = self.tracer
        traced = tr.enabled
        if traced:
            opid = f"{self.phase}:{unit}:{name}"
            tr.op, first_span = opid, len(tr.spans)
            n_phases = len(self.listener.records)
            self.status.begin(opid)
        cpu0 = _cpu_s(self.jvm_pid) + _cpu_s(self.py_pid)
        t0 = time.perf_counter()
        try:
            if traced:
                with tr.span("op"):
                    out = fn()
            else:
                out = fn()
        except Exception as e:  # noqa: BLE001 — counted as a failed op
            rec["ok"], rec["error"] = False, repr(e)[:500]
            log(f"{name} (unit {unit}) failed: {rec['error']}")
        rec["s"] = time.perf_counter() - t0
        rec["cpu_s"] = _cpu_s(self.jvm_pid) + _cpu_s(self.py_pid) - cpu0
        if traced:
            rec["status"] = self.status.end(opid)
            got = self.listener.wait_for(n_phases + rec["status"]["executions"])
            rec["phases"] = got[n_phases:]
            rec["spans"] = list(range(first_span, len(tr.spans)))
            tr.op = None
        if self.phase != "warm-up":
            self.ops.append(rec)
        return out

    def timed_phase(self, wl, phase: str, first_unit: int) -> int:
        """Run whole units until ``seconds`` have passed, and at least
        ``MIN_UNITS``; returns the next unit number."""
        self.phase = phase
        t0, unit = time.perf_counter(), first_unit
        before = _jvm_counters(self.spark)
        while True:
            wl.run_unit(unit)
            after = _jvm_counters(self.spark)
            self.units.append({"phase": phase, "unit": unit,
                               **{k: after[k] - before[k] for k in after}})
            before = after
            unit += 1
            if (unit - first_unit >= MIN_UNITS
                    and time.perf_counter() - t0 >= self.seconds):
                return unit

    def enable_tracing(self) -> None:
        from tracing import StatusReader, register_phase_listener

        self.tracer.install(self.spark.sparkContext._gateway._gateway_client)
        self.tracer.on_span_end["pipeline.write"] = (
            lambda rec, args: rec.update(
                bytes=_dir_bytes(Path(args[0].root) / args[1])))
        self.listener = register_phase_listener(self.spark)
        self.status = StatusReader(self.spark)
        self.tracer.enabled = True


# ----------------------------------------------------------------- metrics
def _per_unit(ops: list[dict], key: str = "s") -> float:
    """Sum over the unit's operations of each one's median ``key`` across
    the units run: the cost of one unit of work."""
    by_op = defaultdict(list)
    for o in ops:
        by_op[o["op"]].append(o[key])
    return sum(statistics.median(v) for v in by_op.values())


def _peak_rss_mb(h) -> float:
    """Peak RSS (VmHWM) of the driver JVM plus this Python process."""
    return _vm_hwm_mb(h.jvm_pid) + _vm_hwm_mb("self")


def per_layer(h, wl, by_phase: dict[str, list[dict]]) -> dict:
    """Per-layer sums over each traced unit, median across traced units."""
    from tracing import self_times

    spans, traced = h.tracer.spans, by_phase["traced"]
    own = self_times(spans)
    units = defaultdict(lambda: defaultdict(float))
    skew = defaultdict(lambda: 1.0)
    for o in traced:
        m = units[o["unit"]]
        for sid in o["spans"]:
            s = spans[sid]
            name = s["name"]
            m[f"{name}_s"] += s["end"] - s["start"]
            m[f"{name}_calls"] += 1
            m[f"{name}_self_s"] += own[sid]
            if name == "plans.build":
                m["plans.jvm_calls"] += s["jvm_calls"]
            m["pipeline.bytes_written"] += s.get("bytes", 0)
        st = o["status"]
        for k in ("jobs", "stages", "tasks", "single_task_stages",
                  "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
            m[f"exec.{k}"] += st[k]
        for k in ("scan_rows", "scan_bytes", "scan_time_ms"):
            m[f"sources.{k}"] += st[k]
        m["exec.s"] += st["exec_s"]
        m["run_s"] += st["run_ms"] / 1e3
        skew[o["unit"]] = max(skew[o["unit"]], st["task_skew"])
        for p in o["phases"]:
            for k in ("analysis", "optimization", "planning"):
                m[f"plans.{k}_ms"] += p.get(k, 0)
        for phase in ("migrate", "daily_update"):
            if o["op"].startswith(phase + ":"):
                m[f"pipeline.{phase}_s"] += o["s"]
    for u, m in units.items():
        m["exec.task_skew"] = skew[u]
        m["exec.core_util"] = m["run_s"] / (m["exec.s"] * h.cores) if m["exec.s"] else 0.0
        src = getattr(wl, "source_bytes", 0)
        m["pipeline.write_amp"] = m["pipeline.bytes_written"] / src if src else 0.0
    keys = {k for m in units.values() for k in m}
    out = {k: statistics.median(m.get(k, 0.0) for m in units.values()) for k in keys}
    out["session.start_s"] = h.session_start_s
    out["exec.cpu_s"] = _per_unit(by_phase["untraced"], "cpu_s")
    out["exec.op_p50_s"] = statistics.median(o["s"] for o in by_phase["untraced"])
    for k in ("gc_s", "jit_s", "classes_loaded"):
        out[f"exec.{k}"] = statistics.median(
            u[k] for u in h.units if u["phase"] == "untraced")
    out["exec.peak_rss_mb"] = _peak_rss_mb(h)
    out["trace.overhead_s"] = _per_unit(traced) - _per_unit(by_phase["untraced"])
    n_docs = getattr(wl, "n_docs", 0)
    if n_docs:
        out["pipeline.docs_per_s"] = n_docs / _per_unit(by_phase["untraced"])
    return out


# -------------------------------------------------------------------- main
def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if not (ROOT / PKG / "__init__.py").is_file():
        log(f"no {PKG} package under {ROOT}: nothing to benchmark")
        return 2
    sys.path.insert(1, str(ROOT))
    import workloads

    h = Harness(args)
    wl = workloads.make(args.workload, h)
    try:
        h.start_session()
        inputs = wl.prepare()
        h.phase = "warm-up"
        warm_units_s = wl.warm_up()
        setup_s = time.perf_counter() - T_START
        next_unit = h.timed_phase(wl, "untraced", 0)
        if args.trace:
            h.enable_tracing()
            h.timed_phase(wl, "traced", next_unit)
            h.tracer.enabled = False
        by_phase = defaultdict(list)
        for o in h.ops:
            by_phase[o["phase"]].append(o)
        untraced = by_phase["untraced"]
        bad = wl.verify()
        if args.trace:
            metrics = per_layer(h, wl, by_phase)
            declared = spec["per_layer"]
        else:
            metrics = {"setup_s": setup_s, "wall_s": _per_unit(untraced)}
            declared = spec["end_to_end"]
        peak = _peak_rss_mb(h)
    finally:
        h.stop_session()
        shutil.rmtree(h.work, ignore_errors=True)
    failed = (sum(not o["ok"] for o in h.ops)
              + wl.failed_ops([o for o in h.ops if o["ok"]]))
    info = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "nproc": h.cores, "loadavg": os.getloadavg(), "inputs": inputs,
            "setup_s": setup_s, "session_start_s": h.session_start_s,
            "warm_units_s": warm_units_s,
            "units": len({o["unit"] for o in untraced}),
            "cpu_s": _per_unit(untraced, "cpu_s"), "peak_rss_mb": peak,
            "units_jvm": h.units, "bad": sorted(map(str, bad))}
    result = {
        "correct": failed == 0 and not bad,
        "attempted": len(h.ops),
        "failed": failed,
        "metrics": {m["name"]: {"value": float(metrics.get(m["name"], 0.0)),
                                "unit": m["unit"]} for m in declared},
    }
    out_dir = HERE / ".work" / "results"
    out_dir.mkdir(parents=True, exist_ok=True)
    record = {"info": info, "result": result, "ops": h.ops,
              "spans": h.tracer.spans}
    (out_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
     ).write_text(json.dumps(record, default=str))
    print(json.dumps({"info": info}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
