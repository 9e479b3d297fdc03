"""Tracing for the benchmark's traced run, entirely from outside the program.

- Spans (pass -> query -> build/exec, then job -> stage from the event
  log), each with its parent id, kept in memory and written out at the end.
- Timing shims around the layers' public functions, patched on every name
  that refers to them in the loaded package (``queries.parse_spec`` as well
  as ``spec.parse_spec``); only the outermost call of a layer is timed.
- Every query's build and exec run under their own Spark job group
  ``<pass>/<query>/build|exec``; a job with no group (one started from a
  thread) is attributed to the span whose time window it started in.
- Per-layer metrics from the spans, the shims, Catalyst's phase tracker
  and the uncompressed Spark event log.
"""

from __future__ import annotations

import glob
import importlib
import json
import sys
import threading
import time
from contextlib import contextmanager

PKG = "elevate_data_pipeline_spark"

# (layer, module, function): the public functions the shims time
SHIMS = (
    ("spec.parse", f"{PKG}.spec.parser", "parse_spec"),
    ("plans.compile", f"{PKG}.plans.compiler", "compile_pipeline"),
    ("plans.compile", f"{PKG}.plans.compiler", "compile_script"),
    ("plans.compile", f"{PKG}.plans.compat", "run_per_id"),
    ("sources.load_table", f"{PKG}.sources.catalog", "load_table"),
    ("materialize.fingerprint", f"{PKG}.materialize", "input_fingerprint"),
    ("materialize.fingerprint", f"{PKG}.materialize", "plan_fingerprint"),
)

# event-log SQL metrics of the Python runners (per task, ms and bytes).
# On a reused worker "initialize" reads the time since the worker was
# forked, idle time included (15 s against a 0.8 s task), so the boot
# time counts start + initialize only of tasks that started a worker.
PY_METRICS = {
    "time to run Python workers": "run",
    "time to start Python workers": "start",
    "time to initialize Python workers": "init",
    "data sent to Python workers": "sent",
    "data returned from Python workers": "returned",
}

EVENTLOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

MB = 1e6


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.layers: dict[str, list[float]] = {}  # layer -> [seconds, calls]
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self._open: list[dict] = []

    # -- spans ------------------------------------------------------------
    def open(self, kind: str, name: str, parent: int | None, group: str | None = None) -> dict:
        """Start a span; with ``group`` set, Spark jobs submitted until it
        closes run under that job group."""
        rec = {"id": len(self.spans), "parent": parent, "kind": kind, "name": name,
               "group": group, "start": time.time(), "t0": time.perf_counter(),
               "layers": {}}
        self.spans.append(rec)
        self._open.append(rec)
        if group is not None:
            self.spark.sparkContext.setJobGroup(group, group)
        return rec

    def close(self, rec: dict) -> None:
        rec["seconds"] = time.perf_counter() - rec.pop("t0")
        rec["end"] = time.time()
        self._open.remove(rec)
        if rec["group"] is not None:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def span(self, kind: str, name: str, parent: int | None, group: str | None = None):
        rec = self.open(kind, name, parent, group)
        try:
            yield rec
        finally:
            self.close(rec)

    # -- shims ------------------------------------------------------------
    def _timed(self, layer: str, fn):
        local = self._local

        def shim(*args, **kwargs):
            depth = getattr(local, layer, 0)
            setattr(local, layer, depth + 1)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                setattr(local, layer, depth)
                if depth == 0:
                    dt = time.perf_counter() - t0
                    with self._lock:
                        acc = self.layers.setdefault(layer, [0.0, 0])
                        acc[0] += dt
                        acc[1] += 1
                        if self._open:  # also charge the innermost open span
                            inner = self._open[-1]["layers"]
                            inner[layer] = inner.get(layer, 0.0) + dt

        shim.__wrapped__ = fn
        return shim

    def install(self) -> None:
        """Patch every reference to each shimmed function in the package."""
        for layer, modname, attr in SHIMS:
            orig = getattr(importlib.import_module(modname), attr)
            shim = self._timed(layer, orig)
            for name, mod in list(sys.modules.items()):
                if mod is None or not (name == PKG or name.startswith(PKG + ".")):
                    continue
                for key, val in list(vars(mod).items()):
                    if val is orig:
                        setattr(mod, key, shim)
                        self._patched.append((mod, key, orig))

    def uninstall(self) -> None:
        for mod, key, orig in reversed(self._patched):
            setattr(mod, key, orig)
        self._patched.clear()

    def layer(self, name: str) -> tuple[float, int]:
        s, n = self.layers.get(name, (0.0, 0))
        return s, n


def catalyst_phases(df) -> dict[str, float]:
    """Catalyst analysis/optimization/planning ms from the query's tracker."""
    out = {}
    try:
        phases = df._jdf.queryExecution().tracker().phases()
        for p in ("analysis", "optimization", "planning"):
            opt = phases.get(p)
            out[p] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    except Exception:  # a frame without a JVM query execution
        out = {p: 0.0 for p in ("analysis", "optimization", "planning")}
    return out


def read_event_log(log_dir: str, app_id: str) -> list[dict]:
    paths = glob.glob(f"{log_dir}/{app_id}*")
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log for {app_id}, found {paths}")
    with open(paths[0]) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def attribute_jobs(events: list[dict], spans: list[dict]) -> list[dict]:
    """Job and stage spans from the event log, each under the build/exec
    span that ran it (by job group, else by the window it started in).
    Jobs outside every query span get parent None."""
    by_group = {s["group"]: s for s in spans if s.get("group")}
    windows = sorted(
        (s for s in spans if s["kind"] in ("build", "exec")), key=lambda s: s["start"]
    )
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    tasks: dict[int, list[dict]] = {}
    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            t = e["Submission Time"] / 1000.0
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            parent = by_group.get(group)
            if parent is None:
                parent = next((s for s in windows if s["start"] <= t <= s["end"]), None)
            jid = e["Job ID"]
            jobs[jid] = {"job": jid, "start": t, "group": group,
                         "parent": parent["id"] if parent else None,
                         "stage_ids": e.get("Stage IDs", [])}
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif ev == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif ev == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            stages[info["Stage ID"]] = {
                "stage": info["Stage ID"], "tasks": info.get("Number of Tasks", 0),
                "start": (info.get("Submission Time") or 0) / 1000.0,
                "end": (info.get("Completion Time") or 0) / 1000.0,
            }
        elif ev == "SparkListenerTaskEnd":
            tasks.setdefault(e["Stage ID"], []).append(e)
    out = list(jobs.values())
    for j in out:
        j["stages"] = [
            {**stages[sid], "task_events": tasks.get(sid, [])}
            for sid in j["stage_ids"] if sid in stages and stage_job.get(sid) == j["job"]
        ]
    return out


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_metrics(spans: list[dict], jobs: list[dict], tracer: Tracer,
                  phases: list[dict], cores: int, n_passes: int) -> dict[str, float]:
    """Per-layer metrics, per traced pass (sums over the traced passes
    divided by their number)."""
    by_id = {s["id"]: s for s in spans}
    kind_of = {j["job"]: by_id[j["parent"]]["kind"] for j in jobs if j["parent"] is not None}
    attributed = [j for j in jobs if j["parent"] is not None]
    build_spans = [s for s in spans if s["kind"] == "build"]
    exec_spans = [s for s in spans if s["kind"] == "exec"]
    build_s = sum(s["seconds"] for s in build_spans)
    exec_s = sum(s["seconds"] for s in exec_spans)
    build_jobs = [j for j in attributed if kind_of[j["job"]] == "build"]
    build_job_s = 0.0
    for b in build_spans:  # union of job intervals, clipped to the span
        iv = [(max(j["start"], b["start"]), min(j.get("end", b["end"]), b["end"]))
              for j in build_jobs if j["parent"] == b["id"]]
        build_job_s += _union_seconds([x for x in iv if x[1] > x[0]])

    agg = {k: 0.0 for k in (
        "stages", "tasks", "run", "cpu", "gc", "run_exec", "sw", "sr", "fetch", "spill",
        "result", "failed", "in_b", "in_r", "out_b", "py_run", "py_boot", "py_sent",
        "py_returned")}
    for j in attributed:
        for st in j["stages"]:
            agg["stages"] += 1
            for t in st["task_events"]:
                m = t.get("Task Metrics") or {}
                agg["tasks"] += 1
                run = m.get("Executor Run Time", 0) / 1000.0
                agg["run"] += run
                if kind_of[j["job"]] == "exec":
                    agg["run_exec"] += run
                agg["cpu"] += m.get("Executor CPU Time", 0) / 1e9
                agg["gc"] += m.get("JVM GC Time", 0) / 1000.0
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                agg["sw"] += sw.get("Shuffle Bytes Written", 0)
                agg["sr"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                agg["fetch"] += sr.get("Fetch Wait Time", 0) / 1000.0
                agg["spill"] += m.get("Disk Bytes Spilled", 0)
                agg["result"] += m.get("Result Size", 0)
                agg["in_b"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                agg["in_r"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
                agg["out_b"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                if (t.get("Task End Reason") or {}).get("Reason") != "Success":
                    agg["failed"] += 1
                py: dict[str, float] = {}
                for a in (t.get("Task Info") or {}).get("Accumulables", []):
                    key = PY_METRICS.get(a.get("Name"))
                    if key:
                        py[key] = py.get(key, 0.0) + float(a.get("Update") or 0)
                agg["py_run"] += py.get("run", 0.0)
                agg["py_sent"] += py.get("sent", 0.0)
                agg["py_returned"] += py.get("returned", 0.0)
                if "start" in py:  # boot only where the task started a worker
                    agg["py_boot"] += py["start"] + py.get("init", 0.0)

    n = max(1, n_passes)
    parse_s, parse_n = tracer.layer("spec.parse")
    comp_s, comp_n = tracer.layer("plans.compile")
    load_s, load_n = tracer.layer("sources.load_table")
    fp_s, _ = tracer.layer("materialize.fingerprint")
    ph = {p: sum(x[p] for x in phases) for p in ("analysis", "optimization", "planning")}
    return {
        "spec.parse_s": parse_s / n,
        "spec.parse_calls": parse_n / n,
        "plans.compile_s": comp_s / n,
        "plans.compile_calls": comp_n / n,
        "sources.load_table_s": load_s / n,
        "sources.load_table_calls": load_n / n,
        "sources.scan_mb": agg["in_b"] / MB / n,
        "sources.scan_rows": agg["in_r"] / n,
        "sources.output_mb": agg["out_b"] / MB / n,
        "queries.build_s": build_s / n,
        "queries.build_jobs": len(build_jobs) / n,
        "queries.build_job_s": build_job_s / n,
        "queries.build_driver_s": (build_s - build_job_s) / n,
        "spark.analysis_ms": ph["analysis"] / n,
        "spark.optimization_ms": ph["optimization"] / n,
        "spark.planning_ms": ph["planning"] / n,
        "spark.exec_s": exec_s / n,
        "spark.exec_jobs": (len(attributed) - len(build_jobs)) / n,
        "spark.stages": agg["stages"] / n,
        "spark.tasks": agg["tasks"] / n,
        "spark.tasks_per_stage": agg["tasks"] / agg["stages"] if agg["stages"] else 0.0,
        "spark.task_run_s": agg["run"] / n,
        "spark.task_cpu_s": agg["cpu"] / n,
        "spark.gc_s": agg["gc"] / n,
        "spark.slot_busy_frac": agg["run_exec"] / (exec_s * cores) if exec_s else 0.0,
        "spark.shuffle_write_mb": agg["sw"] / MB / n,
        "spark.shuffle_read_mb": agg["sr"] / MB / n,
        "spark.fetch_wait_s": agg["fetch"] / n,
        "spark.spill_mb": agg["spill"] / MB / n,
        "spark.result_mb": agg["result"] / MB / n,
        "spark.failed_tasks": agg["failed"] / n,
        "python.run_s": agg["py_run"] / 1000.0 / n,
        "python.boot_s": agg["py_boot"] / 1000.0 / n,
        "python.sent_mb": agg["py_sent"] / MB / n,
        "python.returned_mb": agg["py_returned"] / MB / n,
        "materialize.fingerprint_s": fp_s / n,
    }
