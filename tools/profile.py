#!/usr/bin/env python
"""Layered profile of catalog queries on the product session
(``session.get_spark``, UI off).

bench.py's method: one untimed pass over every query, then ``--repeats``
timed runs of each to the ``noop`` sink; the fastest run is reported.
The jobs of run ``r`` (0 is the warm-up) carry the groups
``<query>#<r>:build`` and ``<query>#<r>:exec``, and everything below is
read from Spark's status stores, which exist without the UI:

- ``build_s`` (driver build, including the jobs it fires eagerly),
  ``plan_s`` (``executedPlan()`` forced) and ``exec_s``, which add up to
  ``wall_s``;
- ``build_actions``, the SQL executions started during build, and
  ``build_jobs``, their jobs: each action carries a fixed planning cost,
  and under AQE one action runs a job per stage, so jobs overstate the
  number of fixed costs paid (docs/SCALE.md §An action has a fixed cost);
- ``counters``: job and stage totals (``perfbench.trace.spark_counters``);
- ``stages``: one row per completed stage, with its submit and complete
  offsets in seconds from the run start;
- ``operators``: the SQL metrics of every node of the executed plan;
- ``budget_violations``: the entries of the query's ``plan=`` budget
  that its executed plan breaks (``catalog.plan_violations``).

Prints one row per query and writes the full record to PROFILE_LOCAL.json
at the repository root. Input: $SPARK_GRAFT_SF_DIR (default: the sf0.1
test data, as in bench.py); no query names means the bench set.

Usage: python tools/profile.py [--repeats N] [query ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

TOOLS = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(TOOLS)
# Run as a script, this directory is sys.path[0], where this file would
# shadow the standard library's ``profile`` (cProfile imports it, and
# PySpark imports cProfile).
sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != TOOLS]

from cam_etl_spark.plans import QUERIES  # noqa: E402
from cam_etl_spark.plans.catalog import plan_violations  # noqa: E402
from cam_etl_spark.session import get_spark  # noqa: E402
from perfbench.trace import spark_counters  # noqa: E402


def _seq(s) -> list:
    """A Scala ``Seq`` as a Python list."""
    return [s.apply(i) for i in range(s.size())]


def _run(spark, name: str, sf_dir: str, run: int) -> dict:
    sc = spark.sparkContext
    build, exec_ = f"{name}#{run}:build", f"{name}#{run}:exec"
    start_ms = time.time() * 1000
    t0 = time.perf_counter()
    sc.setJobGroup(build, build)
    df = QUERIES[name].spark(spark, sf_dir)
    t1 = time.perf_counter()
    sc.setJobGroup(exec_, exec_)
    df._jdf.queryExecution().executedPlan()
    t2 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    t3 = time.perf_counter()
    # The noop write plans its own command, so this is the plan forced above.
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {"run": run, "start_ms": start_ms, "wall_s": t3 - t0,
            "build_s": t1 - t0, "plan_s": t2 - t1, "exec_s": t3 - t2, "plan": plan}


def _stages(spark, groups: list[str], start_ms: float) -> list[dict]:
    """Completed stages of the jobs in ``groups``, by submission time."""
    tracker = spark.sparkContext.statusTracker()
    store = spark.sparkContext._jsc.sc().statusStore()
    rows, seen = [], set()
    for group in groups:
        for job_id in sorted(tracker.getJobIdsForGroup(group)):
            for sid in tracker.getJobInfo(job_id).stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                # Past spark.ui.retainedStages the store evicts skipped
                # stages first, even those of the newest jobs.
                if tracker.getStageInfo(sid) is None:
                    continue
                s = store.lastStageAttempt(sid)
                if s.status().toString() != "COMPLETE":
                    continue
                rows.append({
                    "stage": sid,
                    "phase": group.rsplit(":", 1)[1],
                    "name": s.name(),
                    "submit_s": round((s.submissionTime().get().getTime() - start_ms) / 1e3, 3),
                    "complete_s": round((s.completionTime().get().getTime() - start_ms) / 1e3, 3),
                    "tasks": s.numCompleteTasks(),
                    "task_run_s": s.executorRunTime() / 1e3,
                    "input_bytes": s.inputBytes(),
                    "shuffle_read_bytes": s.shuffleReadBytes(),
                    "shuffle_write_bytes": s.shuffleWriteBytes(),
                })
    return sorted(rows, key=lambda r: (r["submit_s"], r["stage"]))


def _executions(spark, group: str, start_ms: float) -> list:
    """SQL executions described as ``group`` (started at or after
    ``start_ms``), newest first."""
    store = spark._jsparkSession.sharedState().statusStore()
    found = []
    for e in reversed(_seq(store.executionsList())):
        if e.submissionTime() < start_ms:
            break
        if e.description() == group:
            found.append(e)
    return found


def _operators(spark, group: str, start_ms: float) -> list[dict]:
    """SQL metrics per plan node of the executions described as ``group``
    (started at or after ``start_ms``)."""
    store = spark._jsparkSession.sharedState().statusStore()
    rows = []
    for e in _executions(spark, group, start_ms):
        eid = e.executionId()
        values, it = {}, store.executionMetrics(eid).iterator()
        while it.hasNext():
            kv = it.next()
            values[kv._1()] = kv._2()
        for node in _seq(store.planGraph(eid).allNodes()):
            metrics = {}
            for m in _seq(node.metrics()):
                if m.accumulatorId() in values:
                    metrics[m.name()] = values[m.accumulatorId()]
            rows.append({"execution": eid, "node": node.id(), "name": node.name(),
                         "metrics": metrics})
    return rows


def measure(spark, name: str, sf_dir: str, repeats: int = 2) -> dict:
    """Profile one catalog query: ``repeats`` timed runs (1, 2, ...); the
    record describes the fastest. Call it once per query and session (the
    job groups are keyed by query and run), after an untimed run of the
    query: a cold run also counts the parquet schema-read job of every
    table it loads first."""
    try:
        runs = [_run(spark, name, sf_dir, r) for r in range(1, repeats + 1)]
    finally:
        spark.sparkContext._jsc.clearJobGroup()
    best = min(runs, key=lambda r: r["wall_s"])
    groups = [f"{name}#{best['run']}:build", f"{name}#{best['run']}:exec"]
    counters, _ = spark_counters(spark, lambda g: g in groups)
    return {
        "wall_s": best["wall_s"],
        "build_s": best["build_s"],
        "build_jobs": counters["build_jobs"],
        "build_actions": len(_executions(spark, groups[0], best["start_ms"])),
        "plan_s": best["plan_s"],
        "exec_s": best["exec_s"],
        "exec_jobs": counters["jobs"] - counters["build_jobs"],
        "runs_s": [r["wall_s"] for r in runs],
        "counters": counters,
        "stages": _stages(spark, groups, best["start_ms"]),
        "operators": _operators(spark, groups[1], best["start_ms"]),
        "budget_violations": plan_violations(QUERIES[name], best["plan"]),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--repeats", type=int, default=2, help="timed runs per query (default 2)")
    ap.add_argument("queries", nargs="*", help="catalog query names (default: the bench set)")
    args = ap.parse_args()
    if args.repeats < 1:
        ap.error("--repeats must be at least 1")
    names = list(dict.fromkeys(args.queries)) or sorted(n for n, q in QUERIES.items() if q.bench)
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        ap.error(f"unknown queries: {', '.join(unknown)}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    spark = get_spark("profile")
    spark.range(1).count()
    # A whole pass first, as in bench.py: without it the JIT warms up on
    # the first queries timed, which then measure up to twice as slow.
    for name in names:
        _run(spark, name, sf_dir, 0)
    width = max(len(n) for n in names)
    print(f"{'query':<{width}}  wall_s  build_s  bacts  bjobs  plan_s  exec_s  ejobs  stages  tasks",
          flush=True)
    profile = {}
    for name in names:
        p = profile[name] = measure(spark, name, sf_dir, args.repeats)
        c = p["counters"]
        print(f"{name:<{width}}  {p['wall_s']:6.3f}  {p['build_s']:7.3f}  {p['build_actions']:5d}  "
              f"{p['build_jobs']:5d}  {p['plan_s']:6.3f}  {p['exec_s']:6.3f}  {p['exec_jobs']:5d}  "
              f"{int(c.get('stages', 0)):6d}  {int(c.get('tasks', 0)):5d}", flush=True)
        for v in p["budget_violations"]:
            print(f"  over budget: {v}", flush=True)
    total = sum(p["wall_s"] for p in profile.values())
    print(f"{'total':<{width}}  {total:6.3f}")
    with open(os.path.join(ROOT, "PROFILE_LOCAL.json"), "w", encoding="utf-8") as fh:
        json.dump({"sf_dir": sf_dir, "repeats": args.repeats, "queries": profile}, fh, indent=1)
        fh.write("\n")
    spark.stop()


if __name__ == "__main__":
    main()
