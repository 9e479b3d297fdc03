"""Benchmark runner: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 20 --trace 0

Run from the repository root. The inputs are generated from ``--seed``
under ``.perfbench/`` and checked against DuckDB oracles. ``--trace 0``
prints the end-to-end metrics, ``--trace 1`` the per-layer metrics of a
traced run (see README.md). The last stdout line is the result; the line
before it is the run context, and ``.perfbench/results/`` keeps the full
record with every span.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import pickle
import resource
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext

import pandas as pd  # module level: the warm-up UDF's type hints resolve here

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REQUIRED = ("elevate_data_pipeline_spark/__init__.py", "__spark_entry__.py", "bench.py",
            "BENCHMARK.json")
TIMEOUT_S = 120  # bound on one streaming query's awaitTermination


def _spark_conf(work: str) -> dict[str, str]:
    # keep the JVM's temp files inside the checkout; no perf-data file in /tmp
    return {"spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"}


def _span(tracer, kind, name, parent, group=None):
    if tracer is None:
        return nullcontext({"id": None})
    return tracer.span(kind, name, parent, group)


def fork_python_workers(spark) -> None:
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def _echo(s: pd.Series) -> pd.Series:
        return s

    spark.range(32).select(_echo("id")).collect()


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


class Run:
    """One workload, one seed: set up, measure passes, check outputs."""

    def __init__(self, wl, plan: dict, work: str):
        self.wl = wl
        self.plan = plan
        self.work = work
        self.failures: list[dict] = []
        self.attempted = 0
        self.batch_rollup = None

    # -- set-up -----------------------------------------------------------
    def setup(self):
        """Cold set-up: start Spark, then warm up. Returns (spark,
        get_spark seconds, warm-up seconds)."""
        from elevate_data_pipeline_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{self.wl.name}", **_spark_conf(self.work))
        t1 = time.perf_counter()
        self.warm(spark)
        return spark, t1 - t0, time.perf_counter() - t1

    def restart(self, spark, **conf):
        """A new Spark context in the same, already warm JVM; only the
        Python workers are forked again."""
        from elevate_data_pipeline_spark.session import get_spark

        spark.stop()
        spark = get_spark(f"perfbench-{self.wl.name}", **_spark_conf(self.work), **conf)
        fork_python_workers(spark)
        return spark

    def warm(self, spark) -> None:
        """Warm-up as bench.py does it: untimed passes of the workload
        (code generation, JIT, the catalog's warm-up thread), a pandas UDF
        to fork the Python workers, and a read of every input file. The
        passes run at the timed scale: that scale is small enough here
        that a separate sf0.001 pass would only add another cold pass."""
        from elevate_data_pipeline_spark.queries import QUERIES

        for i in range(-self.wl.warm_passes, 0):
            if self.wl.kind == "marts":
                self.mart_pass(spark, None, f"warm{i}", i)
                continue
            for q in self.wl.queries:
                try:
                    QUERIES[q](spark, self.plan["sf_dir"]).collect()
                except Exception:
                    pass  # the timed passes report it

        fork_python_workers(spark)
        sf_dir = self.plan["sf_dir"]
        for fname in sorted(os.listdir(sf_dir)):
            with open(os.path.join(sf_dir, fname), "rb") as fh:
                while fh.read(1 << 20):
                    pass

    # -- passes -----------------------------------------------------------
    def query_pass(self, spark, tracer, label: str) -> dict:
        from elevate_data_pipeline_spark.queries import QUERIES

        from perfbench.tracing import catalyst_phases

        items, results, phases = {}, [], []
        with _span(tracer, "pass", label, None) as p:
            t_pass = time.perf_counter()
            for q in self.wl.queries:
                t0 = time.perf_counter()
                with _span(tracer, "query", q, p["id"]) as qs:
                    try:
                        with _span(tracer, "build", q, qs["id"], f"{label}/{q}/build"):
                            df = QUERIES[q](spark, self.plan["sf_dir"])
                        with _span(tracer, "exec", q, qs["id"], f"{label}/{q}/exec"):
                            rows = df.collect()
                        results.append((q, df.columns, rows, None))
                        if tracer is not None:
                            phases.append(catalyst_phases(df))
                    except Exception as e:
                        results.append((q, None, None, f"{type(e).__name__}: {e}"))
                items[q] = time.perf_counter() - t0
            seconds = time.perf_counter() - t_pass
        return {"seconds": seconds, "items": items, "results": results, "phases": phases}

    def check_queries(self, res: dict) -> None:
        from perfbench.oracle import mismatch

        for q, cols, rows, err in res["results"]:
            self.attempted += 1
            why = err or mismatch(self.plan["oracles"][q], cols, rows)
            if why:
                self.failures.append({"query": q, "error": why[:500]})

    def mart_pass(self, spark, tracer, label: str, pass_no: int) -> dict:
        """materialize() the marts into an empty root (all written), again
        unchanged (all skipped), again after a seeded rewrite of one input
        table (all written); then an availableNow hourly rollup stream
        from seeded event files into a parquet sink."""
        from elevate_data_pipeline_spark import materialize as mat
        from elevate_data_pipeline_spark.streaming import hourly_rollup, read_events_stream

        from perfbench import inputs

        sf_dir = self.plan["sf_dir"]
        events = self.plan["stream_dir"]
        out_root = os.path.join(self.work, "out", label)
        shutil.rmtree(out_root, ignore_errors=True)
        marts = list(self.wl.queries)
        items, steps, phases, seconds = {}, {}, [], 0.0
        with _span(tracer, "pass", label, None) as p:
            for step in ("write", "skip", "rewrite"):
                if step == "rewrite":  # input change, not timed
                    variant = self.plan["rewrite_variants"][(pass_no + 1) % 2]
                    inputs.replace_table(variant, sf_dir, self.plan["rewrite_table"])
                hook = MartSpans(tracer, p["id"], label, step, phases) if tracer else nullcontext()
                t0 = time.perf_counter()
                with hook:
                    statuses = mat.materialize(spark, sf_dir, out_root, marts)
                seconds += time.perf_counter() - t0
                steps[step] = statuses
                for s in statuses:
                    items[f"{step}:{s['name']}"] = s["seconds"]
            sink = os.path.join(out_root, "_stream", "sink")
            ckpt = os.path.join(out_root, "_stream", "checkpoint")
            t0 = time.perf_counter()
            with _span(tracer, "query", "stream", p["id"]) as qs:
                with _span(tracer, "build", "stream", qs["id"], f"{label}/stream/build"):
                    stream = read_events_stream(spark, events)
                    sq = (
                        hourly_rollup(stream).writeStream.format("parquet")
                        .option("path", sink).option("checkpointLocation", ckpt)
                        .outputMode("append").trigger(availableNow=True).start()
                    )
                with _span(tracer, "exec", "stream", qs["id"], f"{label}/stream/exec"):
                    finished = sq.awaitTermination(TIMEOUT_S)
            items["stream"] = time.perf_counter() - t0
            seconds += items["stream"]
        if not finished:
            sq.stop()
        err = sq.exception()
        progress = [json.loads(p.json) if hasattr(p, "json") else dict(p)
                    for p in sq.recentProgress]
        return {"seconds": seconds, "items": items, "steps": steps, "phases": phases,
                "out_root": out_root, "sink": sink, "progress": progress,
                "stream_error": None if finished and err is None
                else f"stream: finished={finished} error={err}"}

    def check_marts(self, spark, res: dict) -> None:
        """Refresh statuses, then each mart and the stream's sink read back
        with Spark (as a query's rows are collected), against the oracles."""
        from perfbench.oracle import mismatch

        want = {"write": "written", "skip": "skipped", "rewrite": "written"}
        for step, statuses in res["steps"].items():
            for s in statuses:
                self.attempted += 1
                if s["status"] != want[step]:
                    self.failures.append({"query": f"{step}:{s['name']}",
                                          "error": f"status {s['status']} != {want[step]}"})
        for q in self.wl.queries:  # the marts as the last step left them
            self.attempted += 1
            df = spark.read.parquet(os.path.join(res["out_root"], q))
            why = mismatch(self.plan["oracles"][q], df.columns, df.collect())
            if why:
                self.failures.append({"query": f"mart:{q}", "error": why[:500]})
        self.attempted += 1
        why = res["stream_error"] or self._stream_mismatch(spark, res)
        if why:
            self.failures.append({"query": "stream", "error": why[:500]})

    def _stream_mismatch(self, spark, res: dict) -> str | None:
        """The sink must hold exactly the batch rollup's windows that closed
        before the final watermark (append mode holds back the rest)."""
        import datetime as dt

        from perfbench.oracle import normalise

        wm = res["progress"][-1]["eventTime"]["watermark"]
        wm = dt.datetime.strptime(wm, "%Y-%m-%dT%H:%M:%S.%fZ")
        hour = dt.timedelta(hours=1)
        cols, batch = self.batch_rollup
        i = cols.index("hour_ts")
        expected = normalise(cols, [r for r in batch if r[i] + hour <= wm])
        df = spark.read.parquet(res["sink"])
        got = normalise(df.columns, df.collect())
        if got != expected:
            return (f"stream sink {len(got[1])} rows != batch hourly_rollup "
                    f"{len(expected[1])} rows closed by watermark {wm}")
        return None

    def collect_batch_rollup(self, spark) -> None:
        from elevate_data_pipeline_spark.sources.catalog import Catalog
        from elevate_data_pipeline_spark.streaming import hourly_rollup

        df = hourly_rollup(Catalog(spark, self.plan["sf_dir"]).table("events"))
        self.batch_rollup = (df.columns, [tuple(r) for r in df.collect()])

    def one_pass(self, spark, tracer, label: str, pass_no: int) -> dict:
        from perfbench.context import pass_context, pass_start

        before = pass_start()
        if self.wl.kind == "marts":
            res = self.mart_pass(spark, tracer, label, pass_no)
            ctx = pass_context(before)
            self.check_marts(spark, res)
        else:
            res = self.query_pass(spark, tracer, label)
            ctx = pass_context(before)
            self.check_queries(res)
        res["context"] = ctx
        return res

    def measure(self, spark, seconds: float, tracer=None, prefix: str = "p",
                min_passes: int = 2) -> list[dict]:
        """Passes until ``seconds`` have elapsed (at least ``min_passes``)."""
        passes: list[dict] = []
        t0 = time.perf_counter()
        while len(passes) < min_passes or time.perf_counter() - t0 < seconds:
            passes.append(self.one_pass(spark, tracer, f"{prefix}{len(passes)}", len(passes)))
        return passes


class MartSpans:
    """During one materialize() call, wrap each mart's registry function so
    every mart gets a query span: build = the registry call, exec = the
    rest of its refresh (fingerprints, write, manifest) up to the next mart."""

    def __init__(self, tracer, parent: int, label: str, step: str, phases: list):
        self.tracer, self.parent, self.label, self.step = tracer, parent, label, step
        self.phases = phases
        self.current = None
        self.saved: dict = {}

    def __enter__(self):
        from elevate_data_pipeline_spark.queries import QUERIES

        for name in list(QUERIES):
            orig = QUERIES[name]
            self.saved[name] = orig
            QUERIES[name] = self._wrap(name, orig)
        return self

    def _wrap(self, name, orig):
        def wrapped(spark, sf_dir):
            self._finish()
            tag = f"{self.step}:{name}"
            q = self.tracer.open("query", tag, self.parent)
            with self.tracer.span("build", tag, q["id"], f"{self.label}/{tag}/build"):
                df = orig(spark, sf_dir)
            e = self.tracer.open("exec", tag, q["id"], f"{self.label}/{tag}/exec")
            self.current = (q, e, df)
            return df
        return wrapped

    def _finish(self):
        from perfbench.tracing import catalyst_phases

        if self.current is not None:
            q, e, df = self.current
            self.tracer.close(e)
            self.tracer.close(q)
            self.phases.append(catalyst_phases(df))
            self.current = None

    def __exit__(self, *exc):
        from elevate_data_pipeline_spark.queries import QUERIES

        self._finish()
        QUERIES.update(self.saved)
        return False


def geomean(xs) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def end_to_end(passes: list[dict]) -> dict[str, float]:
    per_item: dict[str, list[float]] = {}
    for p in passes:
        for k, v in p["items"].items():
            per_item.setdefault(k, []).append(v)
    return {
        "pass_s": _median([p["seconds"] for p in passes]),
        "query_geomean_s": geomean([_median(v) for v in per_item.values()]),
    }


def traced_metrics(tracer, events, passes, untraced, start_s, warm_s) -> tuple[dict, list]:
    """Per-layer metrics of the traced passes; ``untraced`` are the passes
    the tracing overhead is measured against."""
    from perfbench.context import nproc
    from perfbench.tracing import attribute_jobs, layer_metrics

    jobs = attribute_jobs(events, tracer.spans)
    n = len(passes)
    m = layer_metrics(tracer.spans, jobs, tracer, [ph for p in passes for ph in p["phases"]],
                      nproc(), n)
    m["session.start_s"] = start_s
    m["session.warm_s"] = warm_s

    statuses = [st for p in passes for sts in p.get("steps", {}).values() for st in sts]
    written = sum(st["status"] == "written" for st in statuses)
    skipped = len(statuses) - written
    # a written mart's refresh after its registry call, less its plan fingerprint
    write_s = sum(
        s["seconds"] - s["layers"].get("materialize.fingerprint", 0.0)
        for s in tracer.spans
        if s["kind"] == "exec" and ":" in s["name"] and not s["name"].startswith("skip:")
    )
    m["materialize.written"] = written / n
    m["materialize.skipped"] = skipped / n
    m["materialize.skip_ratio"] = skipped / len(statuses) if statuses else 0.0
    m["materialize.write_s"] = write_s / n

    progress = [pr for p in passes for pr in p.get("progress", [])]
    trigger_ms = [pr["durationMs"].get("triggerExecution", 0) for pr in progress]
    rows = sum(pr.get("numInputRows", 0) for pr in progress)
    m["streaming.batches"] = len(progress) / n
    m["streaming.batch_p50_ms"] = _median(trigger_ms) if trigger_ms else 0.0
    m["streaming.input_rows_per_s"] = rows / (sum(trigger_ms) / 1000) if sum(trigger_ms) else 0.0
    m["streaming.state_rows"] = float(sum(
        op.get("numRowsTotal", 0) for pr in progress[-1:] for op in pr.get("stateOperators", [])
    ))
    m["trace.overhead_frac"] = (
        _median([p["seconds"] for p in passes]) / _median([p["seconds"] for p in untraced]) - 1
    )
    return m, jobs


def stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def prepare_in_child(work: str, workload: str, seed: int) -> dict:
    """Inputs and oracle results from ``prepare.py`` in a child process."""
    out = os.path.join(work, "tmp", f"plan-{workload}-{seed}.pickle")
    subprocess.run(
        [sys.executable, os.path.join(HERE, "prepare.py"), ROOT, work, workload, str(seed), out],
        check=True, cwd=work,
    )
    with open(out, "rb") as fh:
        return pickle.load(fh)


def declared(trace: int) -> dict[str, str]:
    """The metrics BENCHMARK.json declares for this mode, name -> unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def enter_workdir(work: str) -> None:
    """Point everything the run writes at ``work`` and pin the launch
    environment: repo root on the Python workers' path, one Spark core per
    available CPU, UTC."""
    from perfbench.context import nproc

    for d in ("tmp", "spark-local", "eventlog", "results"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        x for x in (ROOT, os.environ.get("PYTHONPATH")) if x)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # one time zone for the JVM, the driver and its workers: collect()
    # turns timestamps into local time, the stream's watermark is UTC
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.chdir(work)  # derby.log, spark-warehouse


def run_workload(wl, plan: dict, work: str, seconds: float, trace: int,
                 min_passes: int = 2) -> tuple[dict, dict, list]:
    """Set up, measure and check one workload; return (metrics, record,
    spans).

    ``trace=0``: passes for ``seconds``. ``trace=1``: untraced passes for a
    quarter of ``seconds``, traced passes (event log on, shims, job groups)
    for half, untraced passes for the last quarter; each phase in a new
    Spark context of the same JVM. The tracing overhead compares the
    traced passes with the untraced ones on both sides of them, so the
    JIT warming across the run does not count as negative overhead. Of a
    traced run only the traced phase runs ``min_passes``; the untraced
    phases on either side run at least one pass each."""
    import bench

    from perfbench.context import rss_peak_mb, run_context
    from perfbench.tracing import EVENTLOG_CONF, Tracer, read_event_log

    run = Run(wl, plan, work)
    record: dict = {"workload": wl.name, "seed": plan["seed"], "trace": trace}
    spark, start_s, warm_s = run.setup()
    if wl.kind == "marts":
        run.collect_batch_rollup(spark)
    record["context"] = run_context(spark, ROOT)
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    untraced = run.measure(spark, seconds / 4 if trace else seconds,
                           min_passes=1 if trace else min_passes)
    metrics = {
        **end_to_end(untraced),
        "setup_s": start_s + warm_s,
        "driver_rss_peak_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
    }
    # context, not a bounded metric: G1 grows the heap by GC timing, so
    # VmHWM spread 0.59 (IQR/median) across seeds of one workload
    record["context"]["jvm_rss_peak_mb"] = rss_peak_mb(jvm_pid)
    record["context"]["shuffle_probe_s"] = bench.shuffle_probe(spark)
    passes, spans = untraced, []
    if trace:
        log_dir = os.path.join(work, "eventlog")
        spark = run.restart(spark, **EVENTLOG_CONF, **{"spark.eventLog.dir": log_dir})
        tracer = Tracer(spark)
        tracer.install()
        try:
            passes = run.measure(spark, seconds / 2, tracer, "t", min_passes)
        finally:
            tracer.uninstall()
        app_id = spark.sparkContext.applicationId
        spark = run.restart(spark)  # stopping the traced context flushes its log
        untraced = untraced + run.measure(spark, seconds / 4, prefix="u", min_passes=1)
        events = read_event_log(log_dir, app_id)
        layers, jobs = traced_metrics(tracer, events, passes, untraced, start_s, warm_s)
        metrics.update(layers)
        spans = tracer.spans + [
            {"kind": "job", "id": f"job{j['job']}", "parent": j["parent"], "group": j["group"],
             "start": j["start"], "end": j.get("end"),
             "stages": [{k: v for k, v in st.items() if k != "task_events"} for st in j["stages"]]}
            for j in jobs
        ]
        record["untraced_pass_s"] = [p["seconds"] for p in untraced]
    stop_spark(spark)
    record["passes"] = [{"seconds": p["seconds"], "items": p["items"], **p["context"]}
                        for p in passes]
    record["failures"] = run.failures
    record["attempted"] = run.attempted
    record["failed_frac"] = len(run.failures) / max(1, run.attempted)
    return metrics, record, spans


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a repository checkout, missing {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench")
    enter_workdir(work)
    plan = prepare_in_child(work, wl.name, args.seed)
    metrics, record, spans = run_workload(wl, plan, work, args.seconds, args.trace)

    result = {
        "correct": not record["failures"],
        "attempted": record["attempted"],
        "failed": len(record["failures"]),
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in declared(args.trace).items()},
    }
    record["result"] = result
    name = f"{wl.name}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(work, "results", name + ".json"), "w") as fh:
        json.dump(record, fh, default=str)
    if spans:
        with open(os.path.join(work, "results", name + ".spans.json"), "w") as fh:
            json.dump(spans, fh, default=str)
    summary = {k: record[k] for k in ("workload", "seed", "trace", "context", "failed_frac",
                                      "failures")}
    summary["passes"] = [{k: v for k, v in p.items() if k != "items"} for p in record["passes"]]
    print(json.dumps({"perfbench": summary}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
