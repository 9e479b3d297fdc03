"""Benchmark self-test: one traced pass of every workload at sf0.001.

    python3 perfbench/selftest.py [workload ...]

Asserts, per workload:
- per query span, build + exec equals the query's wall time within
  ``TOL_ABS_S + TOL_REL * wall`` (the rest is the glue between them);
- every Spark job submitted during a traced pass lands in exactly one
  query span: it has a build/exec parent under a query span, query spans
  do not overlap, and a job attributed by its group started inside that
  span's window;
- every end-to-end and per-layer metric BENCHMARK.json declares (the run
  prints each with its declared unit) is reported and finite;
  ``trace.overhead_frac`` among them;
- the run is correct (every output equals its oracle), checked last.
Each workload reports its first failed assertion; the exit code is 1 if
any workload failed one.
"""

from __future__ import annotations

import dataclasses
import math
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TOL_ABS_S = 0.02
TOL_REL = 0.02
SLACK_S = 0.05  # event-log (JVM) and span (Python) clocks differ by a few ms


class SelfTestError(Exception):
    pass


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise SelfTestError(msg)


def check_spans(spans: list[dict]) -> None:
    by_id = {s["id"]: s for s in spans}
    queries = [s for s in spans if s["kind"] == "query"]
    check(bool(queries), "no query spans")
    for q in queries:
        kids = [s for s in spans if s.get("parent") == q["id"] and s["kind"] in ("build", "exec")]
        parts = sum(k["seconds"] for k in kids)
        check(len(kids) == 2, f"query {q['name']}: {len(kids)} build/exec spans")
        check(abs(q["seconds"] - parts) <= TOL_ABS_S + TOL_REL * q["seconds"],
              f"query {q['name']}: build+exec {parts:.4f}s vs span {q['seconds']:.4f}s")
    ordered = sorted(queries, key=lambda s: s["start"])
    for a, b in zip(ordered, ordered[1:]):
        check(a["end"] <= b["start"] + 1e-6, f"query spans overlap: {a['name']} / {b['name']}")
    passes = [s for s in spans if s["kind"] == "pass"]
    for j in (s for s in spans if s["kind"] == "job"):
        inside = any(p["start"] <= j["start"] <= p["end"] for p in passes)
        if not inside:
            continue  # warm-up and checks between passes
        parent = by_id.get(j["parent"])
        check(parent is not None and parent["kind"] in ("build", "exec"),
              f"job {j['id']} (group {j['group']}) is in no query span")
        check(by_id[parent["parent"]]["kind"] == "query", f"job {j['id']}: parent not in a query")
        check(parent["start"] - SLACK_S <= j["start"] <= parent["end"] + SLACK_S,
              f"job {j['id']} started outside its span {parent['group']}")


def check_metrics(metrics: dict) -> None:
    from perfbench.run import declared

    names = {**declared(0), **declared(1)}
    check("trace.overhead_frac" in names, "trace.overhead_frac not declared")
    for name in names:
        v = metrics.get(name)
        check(isinstance(v, (int, float)) and math.isfinite(v), f"metric {name} = {v!r}")


def main(names: list[str]) -> int:
    sys.path.insert(0, ROOT)
    from perfbench.prepare import prepare
    from perfbench.run import enter_workdir, run_workload
    from perfbench.workloads import SELFTEST_SF, WORKLOADS

    work = os.path.join(ROOT, ".perfbench", "selftest")
    enter_workdir(work)
    rc = 0
    for name in names or list(WORKLOADS):
        wl = dataclasses.replace(WORKLOADS[name], sf=SELFTEST_SF)
        plan = prepare(work, wl, seed=1)
        metrics, record, spans = run_workload(wl, plan, work, 0.0, trace=1, min_passes=1)
        try:
            # the harness first, so an engine defect does not hide its result
            check_spans(spans)
            check_metrics(metrics)
            print(f"selftest {name}: spans and metrics ok ({len(spans)} spans, "
                  f"trace.overhead_frac={metrics['trace.overhead_frac']:.3f})")
            failed = sorted({f["query"] for f in record["failures"]})
            check(not failed, f"incorrect outputs: {failed}: {record['failures'][:1]}")
            print(f"selftest {name}: ok")
        except SelfTestError as e:
            print(f"selftest {name}: FAIL: {e}")
            rc = 1
    return rc


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
