#!/usr/bin/env python3
"""Layered benchmark of the cam_etl_spark engine.

    python3 perfbench/run.py --workload etl_nquads --seed 1 --seconds 8 --trace 0

One driver process, one closed-loop client, ``local[<cores>]``. Inputs are
generated from ``--seed`` (cached per seed under ``.perfbench_work/``, never
timed). After set-up and the untimed warm-up rounds, whose outputs are the
ones checked, whole rounds run back to back until ``--seconds`` have
passed. The outputs are then checked against the DuckDB oracles, and the
last stdout line is the JSON result. ``--trace 1`` alternates untraced and
traced rounds for twice as long and reports per-layer metrics instead of
the end-to-end ones. See ``perfbench/README.md`` for the metric
definitions.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()


def cpu_ticks() -> tuple[int, int, int]:
    """(steal, busy, total) jiffies of all CPUs since boot; busy is user,
    nice, system, irq and softirq time."""
    with open("/proc/stat", encoding="ascii") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], f[0] + f[1] + f[2] + f[5] + f[6], sum(f[:8])


TICKS0 = cpu_ticks()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shlex  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from collections import Counter  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("etl_nquads", "iterative_ops")

END_TO_END = {
    "setup_s": "s",
    "round_cpu_s": "s",
    "round_wall_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.first_action_s": "s",
    "io.load_table_s": "s",
    "pipelines.address_quads.build_s": "s",
    "plans.build_s": "s",
    "plans.plan_s": "s",
    "plans.exec_s": "s",
    "plans.build_jobs": "count",
    "plans.build_job_s": "s",
    "quads.write_nquads_s": "s",
    "quads.read_nquads_s": "s",
    "quads.quads_emitted": "count",
    "quads.quads_written": "count",
    "quads.dedup_keep_ratio": "ratio",
    "quads.bytes_written": "bytes",
    "quads.bytes_per_quad": "bytes",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.input_bytes": "bytes",
    "exec.output_bytes": "bytes",
    "exec.core_busy_frac": "ratio",
}
#: span name -> the per-layer metric carrying its seconds per round
SPAN_METRICS = {
    "pipelines.address_quads": "pipelines.address_quads.build_s",
    "plans.build": "plans.build_s",
    "plans.plan": "plans.plan_s",
    "plans.exec": "plans.exec_s",
    "quads.write_nquads": "quads.write_nquads_s",
    "quads.read_nquads": "quads.read_nquads_s",
}
JOB_PHASES = (":build", ":exec", ":write", ":reconcile")
#: Untimed rounds before the window, whose outputs are the ones checked.
#: The short ETL round keeps getting cheaper for its first four rounds
#: (CPU 5.2, 4.9, 4.5, 4.4 s in the third to sixth round of one run, then
#: 4.4-4.7 s), so a window after two warm-up rounds measured the drift
#: and depended on how many rounds fitted. One iterative pass already
#: runs long enough.
WARMUP_ROUNDS = {"etl_nquads": 4, "iterative_ops": 1}
#: Fixed JVM settings of the benchmark run. With the default tiered JIT
#: the C2 compiler kept the ETL round's CPU time falling for 16 rounds
#: (10.4 s to 4.8 s), so a short window measured the compiler; C1 alone
#: settles within the warm-up. G1 sized the heap from pause timings, which
#: moved peak RSS by 30% between runs of the same code; the serial
#: collector sizes it from the allocations alone. The heap limit is 2 GB,
#: not the package's 8 GB: with 8 GB the serial collector's young
#: generation grew to a size that varied from run to run, and peak RSS
#: spread by 0.20 of its median over five seeds (1,027-1,387 MB on
#: ``iterative_ops``), against 0.02-0.03 with 2 GB. Peak RSS stays under
#: 1 GB either way.
JVM_FLAGS = "-XX:-UsePerfData -XX:TieredStopAtLevel=1 -XX:+UseSerialGC"


def configure_environment(cores: int) -> None:
    """Point every scratch location of Spark, the JVM and Python into the
    checkout before pyspark is imported."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        "--conf " + shlex.quote("spark.local.dir=" + local),
        "--conf " + shlex.quote("spark.hadoop.hadoop.tmp.dir=" + tmp),
        "--driver-java-options " + shlex.quote(f"-Djava.io.tmpdir={tmp} {JVM_FLAGS}"),
        "pyspark-shell",
    ])
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def unstolen(seconds: float, ticks0: tuple, ticks1: tuple) -> float:
    """Elapsed ``seconds`` between two ``cpu_ticks`` readings, less the
    share the hypervisor stole. A vCPU only loses time while it has work,
    so the share is steal over steal plus busy time, not over all time
    (idle vCPUs lose none)."""
    stolen = ticks1[0] - ticks0[0]
    return seconds * (1.0 - stolen / max(stolen + ticks1[1] - ticks0[1], 1))


def tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds of ``root`` and its descendants, those
    already reaped included (they are in their parent's cutime/cstime).
    Time the hypervisor stole is not CPU time."""
    ppid_cpu = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                raw = fh.read()
        except OSError:  # the process ended while /proc was listed
            continue
        # after "(comm) ": state ppid ... utime stime cutime cstime (fields 14-17)
        rest = raw[raw.rindex(b")") + 2:].split()
        ppid_cpu[int(entry)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in ppid_cpu.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        ticks += ppid_cpu.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_s() -> float:
    """CPU seconds used so far by this driver, the Spark JVM and the Python
    workers the JVM started."""
    from pyspark import SparkContext

    return time.process_time() + tree_cpu_s(SparkContext._gateway.proc.pid)


def peak_rss_mb() -> float:
    """Peak resident memory of this process plus the Spark JVM."""
    from pyspark import SparkContext

    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    with open(f"/proc/{SparkContext._gateway.proc.pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Bench:
    """One workload in one session: set-up, timed windows, checks."""

    def __init__(self, args):
        self.args = args
        self.workload = args.workload
        self.ops_run: Counter = Counter()
        self.raised: Counter = Counter()
        self.failed = 0
        self.outputs: dict[str, tuple] = {}
        self.etl_counts: list[dict] = []
        self.rounds_done = 0
        self.spark = None
        self.runner = None

    def setup(self) -> None:
        from perfbench import datagen
        from perfbench.trace import Tracer

        t = time.perf_counter()
        self.inputs = datagen.materialize(
            os.path.join(WORK, "data"), self.workload, self.args.seed, self.args.scale)
        self.gen_s = time.perf_counter() - t

        from cam_etl_spark.io import load_table
        from cam_etl_spark.session import get_spark
        from perfbench.workloads import Runner

        tr = self.tracer = Tracer(enabled=bool(self.args.trace))
        with tr.span("session.get_spark"):
            self.spark = get_spark("perfbench")
        with tr.span("session.first_action"):
            self.spark.range(1).count()
        for table in datagen.PROFILES[self.workload]["tables"]:
            with tr.span("io.load_table"):
                load_table(self.spark, self.inputs["dir"], table)
        tr.enabled = False
        out = os.path.join(WORK, "out", f"{self.workload}-{os.getpid()}")
        self.runner = Runner(self.spark, tr, self.inputs["dir"], out)
        self.warmup_ms = [{op: self.run_op(op, checked=True) * 1e3 for op in self.next_round()}
                          for _ in range(WARMUP_ROUNDS[self.workload])]
        self.setup_wall_s = time.perf_counter() - T0 - self.gen_s
        self.setup_s = unstolen(self.setup_wall_s, TICKS0, cpu_ticks())

    def next_round(self) -> list[str]:
        from perfbench.workloads import request_order

        order = request_order(self.workload, self.args.seed, self.rounds_done + 1)[-1]
        self.rounds_done += 1
        return order

    def run_op(self, op: str, checked: bool = False) -> float:
        self.ops_run[op] += 1
        self.tracer.request = f"{self.rounds_done}:{op}"
        t = time.perf_counter()
        try:
            with self.tracer.span("request"):
                if self.workload == "etl_nquads":
                    self.etl_counts.append(self.runner.etl())
                else:
                    res = self.runner.query(op, collect=checked)
                    if checked:
                        self.outputs[op] = res
        except Exception:  # noqa: BLE001 - a failed operation must not end the run
            traceback.print_exc()
            self.raised[op] += 1
        elapsed = time.perf_counter() - t
        if self.tracer.enabled:
            # untraced rounds must not inherit this request's job group
            self.spark.sparkContext._jsc.clearJobGroup()
        return elapsed

    def collect_garbage(self) -> None:
        """Full collections in Python and the JVM before each operation,
        untimed. Every operation then starts from the same heap, instead of
        paying for the garbage of those before it, and the first operation
        after a collection (which ran up to 40% slower) is every one of
        them, whatever the seeded order."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    def window(self, trace: bool) -> tuple[dict, dict | None]:
        """Whole rounds back to back until ``--seconds`` have passed (at
        least one round); returns the summary of the untraced rounds and of
        the traced ones. With ``trace``, rounds alternate untraced and
        traced for twice as long (at least one of each), so both kinds see
        the same JIT and cache state and their difference is the tracing
        overhead."""
        first_span = len(self.tracer.spans)
        steal0, _, total0 = cpu_ticks()
        deadline = time.perf_counter() + self.args.seconds * (2 if trace else 1)
        # per kind (False: untraced, True: traced)
        lat = {False: {}, True: {}}
        cpu = {False: {}, True: {}}
        rounds = {False: [], True: []}
        round_wall = {False: [], True: []}
        round_cpu = {False: [], True: []}
        traced = False
        while True:
            self.tracer.enabled = traced
            wall = wall_own = cpu_sum = 0.0
            for op in self.next_round():
                self.collect_garbage()
                ticks = cpu_ticks()
                c = cpu_s()
                t = self.run_op(op)
                c = cpu_s() - c
                wall_own += unstolen(t, ticks, cpu_ticks())
                lat[traced].setdefault(op, []).append(t)
                cpu[traced].setdefault(op, []).append(c)
                wall += t
                cpu_sum += c
            rounds[traced].append(wall)
            round_wall[traced].append(wall_own)
            round_cpu[traced].append(cpu_sum)
            if time.perf_counter() >= deadline and (rounds[True] or not trace):
                break
            traced = trace and not traced
        self.tracer.enabled = False
        self.tracer.request = None
        steal1, _, total1 = cpu_ticks()

        def summary(kind: bool) -> dict:
            return {
                "rounds": len(rounds[kind]),
                "round_s": statistics.median(rounds[kind]),
                "round_wall_s": statistics.median(round_wall[kind]),
                "round_cpu_s": statistics.median(round_cpu[kind]),
                "latency_ms": {op: [x * 1e3 for x in v] for op, v in sorted(lat[kind].items())},
                "cpu_ms": {op: [x * 1e3 for x in v] for op, v in sorted(cpu[kind].items())},
                "first_span": first_span,
                # share of CPU time the hypervisor gave to other guests
                "host_steal_frac": (steal1 - steal0) / max(total1 - total0, 1),
            }

        return summary(False), summary(True) if trace else None

    def check(self) -> dict:
        """Compare every checked output with its oracle and count failed
        operations: those that raised, every ETL round trip whose counts
        differ, and every run of a query whose checked result differs or
        never came."""
        from cam_etl_spark.plans import QUERIES
        from perfbench import datagen
        from perfbench.oracle import Oracle, multiset_digest

        tables = datagen.PROFILES[self.workload]["tables"]
        oracle = Oracle(self.inputs["dir"], tables, os.path.join(WORK, "tmp"))
        report = {}
        try:
            if self.workload == "etl_nquads":
                want = oracle.etl_expected(QUERIES["etl_end_to_end_counts"].oracle_text())
                bad = [c for c in self.etl_counts if c != want]
                report = {"expected": want, "checked": len(self.etl_counts),
                          "mismatched": bad[:3]}
                self.failed = sum(self.raised.values()) + len(bad)
            else:
                for name in sorted(self.ops_run):
                    if name not in self.outputs:
                        report[name] = "raised in the checked round"
                        self.failed += self.ops_run[name]
                        continue
                    got = multiset_digest(*self.outputs[name])
                    want = oracle.query_digest(QUERIES[name].oracle_text())
                    report[name] = "pass" if got == want else {"got": got, "want": want}
                    self.failed += self.raised[name] if got == want else self.ops_run[name]
        finally:
            oracle.close()
        return report

    def layer_metrics(self, win: dict) -> tuple[dict, dict]:
        """Per-layer metrics of the traced window, per round, plus the
        per-query breakdown and raw counters for the trace file."""
        from perfbench.trace import spark_counters

        rounds = win["rounds"]
        tr = self.tracer
        m = {k: 0.0 for k in PER_LAYER}
        setup = tr.self_times(0)
        for name in ("session.get_spark", "session.first_action", "io.load_table"):
            m[f"{name}_s"] = setup.get(name, {}).get("total_s", 0.0)
        rows = tr.self_times(win["first_span"])
        for span, metric in SPAN_METRICS.items():
            m[metric] = rows.get(span, {}).get("total_s", 0.0) / rounds

        counters, group_jobs = spark_counters(self.spark, lambda g: g.endswith(JOB_PHASES))
        for k in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
                  "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                  "input_bytes", "output_bytes"):
            m[f"exec.{k}"] = counters.get(k, 0.0) / rounds
        m["plans.build_jobs"] = counters.get("build_jobs", 0) / rounds
        m["plans.build_job_s"] = counters.get("build_job_s", 0.0) / rounds
        wall = counters.get("job_wall_s", 0.0)
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        m["exec.core_busy_frac"] = counters.get("task_run_s", 0.0) / (wall * cores) if wall else 0.0

        if self.workload == "etl_nquads":
            written = self.etl_counts[-1]["total_quads"]
            self.spark.sparkContext.setJobGroup("perfbench:emitted", "quads before dedup")
            emitted = self.runner.etl_quads().count()
            nbytes = self.runner.output_bytes()
            m["quads.quads_emitted"] = emitted
            m["quads.quads_written"] = written
            m["quads.dedup_keep_ratio"] = written / emitted
            m["quads.bytes_written"] = nbytes
            m["quads.bytes_per_quad"] = nbytes / written

        # per query: seconds in each layer per run of the query
        per_layer_of: dict[str, Counter] = {}
        for s in tr.spans[win["first_span"]:]:
            q = s["request"].split(":", 1)[1]
            per_layer_of.setdefault(q, Counter())[s["name"]] += s["end"] - s["start"]
        per_query = {}
        for q, lat in win["latency_ms"].items():
            if self.workload == "iterative_ops":
                n = len(lat)
                per_query[f"ops.{q}.build_s"] = per_layer_of[q]["plans.build"] / n
                per_query[f"ops.{q}.build_jobs"] = group_jobs.get(f"{q}:build", 0) / n
                per_query[f"ops.{q}.exec_s"] = per_layer_of[q]["plans.exec"] / n
        req = rows["request"]
        detail = {
            "self_times": rows,
            "counters": counters,
            "group_jobs": group_jobs,
            "per_query": per_query,
            # share of request time the layer spans account for
            "layer_coverage": 1.0 - req["self_s"] / req["total_s"],
            "spans": tr.spans,
        }
        return m, detail


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiplies the workload's input size (tests use a tiny one)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    configure_environment(len(os.sched_getaffinity(0)))
    import cam_etl_spark  # noqa: F401  (fails fast where the package is absent)

    bench = Bench(args)
    try:
        bench.setup()
        plain, traced = bench.window(bool(args.trace))
        rss = peak_rss_mb()
        if traced:
            layers, detail = bench.layer_metrics(traced)
    finally:
        if bench.runner is not None:
            bench.runner.close()
        if bench.spark is not None:
            stop_spark(bench.spark)
    checks = bench.check()

    attempted = sum(bench.ops_run.values())
    failed = bench.failed
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
        "loop": "closed, 1 client", "inputs": bench.inputs,
        "generation_s": bench.gen_s, "setup_s": bench.setup_s,
        "setup_wall_s": bench.setup_wall_s, "peak_rss_mb": rss,
        "warmup_ms": bench.warmup_ms,
        "window": plain, "checks": checks,
        "attempted": attempted, "failed": failed, "failed_frac": failed / attempted,
    }
    tables = ", ".join(f"{t} {v['rows']} rows/{v['bytes']} B"
                       for t, v in bench.inputs["tables"].items())
    print(f"inputs: x{bench.inputs['scale_vs_sf0.1']:g} of sf0.1 ({tables})")
    print(f"ops: {attempted} attempted, {failed} failed, failed_frac {failed / attempted:.4f}")
    print(f"window: {plain['rounds']} rounds, raw wall round_s {plain['round_s']:.6g}, "
          f"host CPU steal {plain['host_steal_frac']:.1%}")
    if args.trace:
        from perfbench.trace import format_self_table

        overhead = {k: traced[k] / plain[k] - 1.0 for k in ("round_wall_s", "round_cpu_s")}
        report.update(traced_window=traced, per_layer=layers, trace_detail=detail,
                      tracing_overhead=overhead)
        print(format_self_table(detail["self_times"], traced["rounds"], "round"))
        for k, v in sorted(detail["per_query"].items()):
            print(f"{k} {v:.4f}")
        print(f"layer spans cover {detail['layer_coverage']:.2%} of request time")
        print("tracing overhead: " + ", ".join(f"{k} {v:+.2%}" for k, v in overhead.items()))
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {"setup_s": bench.setup_s, "peak_rss_mb": rss,
                  **{k: plain[k] for k in ("round_cpu_s", "round_wall_s")}}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    for k, v in metrics.items():
        print(f"{k} {v['value']:.6g} {v['unit']}")

    os.makedirs(os.path.join(WORK, "reports"), exist_ok=True)
    path = os.path.join(WORK, "reports", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(report, fh, indent=1, default=str)
    print(f"report: {os.path.relpath(path, ROOT)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
