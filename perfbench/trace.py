"""In-memory spans around the benchmark's calls into each layer, plus Spark's
own job/stage counters for the job groups the traced window sets.

A span is ``{name, start, end, parent, request}``; spans of one request
share the request id. A layer's self time is its span's duration minus the
part covered by its child spans. Disabled tracers record nothing and make
no py4j calls.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.request: str | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "request": self.request,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self, since: int = 0) -> dict[str, dict]:
        """Per span name over ``spans[since:]``: count, total and self
        seconds."""
        child = defaultdict(float)
        for s in self.spans[since:]:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict] = defaultdict(lambda: {"count": 0, "total_s": 0.0, "self_s": 0.0})
        for i, s in enumerate(self.spans[since:], start=since):
            dur = s["end"] - s["start"]
            row = out[s["name"]]
            row["count"] += 1
            row["total_s"] += dur
            row["self_s"] += dur - child[i]
        return dict(out)


def _opt_ms(opt) -> float | None:
    """A Scala ``Option[java.util.Date]`` as epoch milliseconds."""
    return opt.get().getTime() if opt.isDefined() else None


def _union_s(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000.0


def spark_counters(spark, group_filter) -> tuple[dict, dict]:
    """Spark's status-store metrics summed over the jobs whose group id
    passes ``group_filter``, and the job count of each such group. The
    store is reachable with the UI disabled."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jvm = sc._jvm
    jobs = store.jobsList(jvm.java.util.ArrayList())
    stage_ids: dict[int, str] = {}
    per_group = defaultdict(lambda: {"jobs": 0, "intervals": []})
    for i in range(jobs.size()):
        j = jobs.apply(i)
        g = j.jobGroup()
        if not g.isDefined() or not group_filter(g.get()):
            continue
        g = g.get()
        per_group[g]["jobs"] += 1
        a, b = _opt_ms(j.submissionTime()), _opt_ms(j.completionTime())
        if a is not None and b is not None:
            per_group[g]["intervals"].append((a, b))
        ids = j.stageIds()
        for k in range(ids.size()):
            stage_ids[int(ids.apply(k))] = g
    c = defaultdict(float)
    stages = store.stageList(jvm.java.util.ArrayList(), False, False,
                             sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList())
    for i in range(stages.size()):
        s = stages.apply(i)
        if s.stageId() not in stage_ids or s.status().toString() != "COMPLETE":
            continue
        c["stages"] += 1
        c["tasks"] += s.numCompleteTasks()
        c["task_run_s"] += s.executorRunTime() / 1e3
        c["task_cpu_s"] += s.executorCpuTime() / 1e9
        c["gc_s"] += s.jvmGcTime() / 1e3
        c["shuffle_write_bytes"] += s.shuffleWriteBytes()
        c["shuffle_read_bytes"] += s.shuffleReadBytes()
        c["spill_bytes"] += s.diskBytesSpilled() + s.memoryBytesSpilled()
        c["input_bytes"] += s.inputBytes()
        c["output_bytes"] += s.outputBytes()
    c["jobs"] = sum(g["jobs"] for g in per_group.values())
    c["job_wall_s"] = _union_s([iv for g in per_group.values() for iv in g["intervals"]])
    build = [g for name, g in per_group.items() if name.endswith(":build")]
    c["build_jobs"] = sum(g["jobs"] for g in build)
    c["build_job_s"] = _union_s([iv for g in build for iv in g["intervals"]])
    return dict(c), {g: v["jobs"] for g, v in per_group.items()}


def format_self_table(rows: dict[str, dict], per: int, label: str) -> str:
    width = max([len(n) for n in rows] + [10])
    out = [f"{'layer':<{width}}  {'calls':>6}  {'total_s/' + label:>14}  {'self_s/' + label:>13}"]
    for name, r in sorted(rows.items(), key=lambda kv: -kv[1]["self_s"]):
        out.append(f"{name:<{width}}  {r['count']:>6}  {r['total_s'] / per:>14.4f}  "
                   f"{r['self_s'] / per:>13.4f}")
    return "\n".join(out)
