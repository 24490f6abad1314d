"""Tests of the benchmark itself (not of the engine).

    python -m pytest perfbench/test_perfbench.py -q

The smoke tests start one Spark driver each, at a tiny input size.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import datagen  # noqa: E402
from perfbench.workloads import request_order  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _fh:
    SPEC = json.load(_fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
TINY = ["--seed", "3", "--seconds", "1", "--scale", "0.25"]


def _run(args: list[str], prelude: str = "") -> tuple[dict, str]:
    code = (
        f"import sys; sys.path.insert(0, {ROOT!r}); sys.argv = ['run.py'] + {args!r}\n"
        f"{prelude}\n"
        "from perfbench import run\n"
        "sys.exit(run.main())\n"
    )
    p = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True,
                       text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), p.stdout


def test_same_seed_same_inputs_and_order(tmp_path):
    for profile in datagen.PROFILES:
        a = datagen.materialize(str(tmp_path / "a"), profile, 7, scale=0.05)
        b = datagen.materialize(str(tmp_path / "b"), profile, 7, scale=0.05)
        c = datagen.materialize(str(tmp_path / "c"), profile, 8, scale=0.05)
        assert a["tables"] == b["tables"]
        differs = False
        for t in a["tables"]:
            raw = [open(os.path.join(x["dir"], f"{t}.parquet"), "rb").read() for x in (a, b, c)]
            assert raw[0] == raw[1], (profile, t)
            differs |= raw[0] != raw[2]
        assert differs, profile
    for w in WORKLOADS:
        assert request_order(w, 5, 4) == request_order(w, 5, 4)
        rounds = request_order(w, 5, 4)
        assert all(sorted(r) == sorted(rounds[0]) for r in rounds)  # equal counts
    assert any(request_order("iterative_ops", 5, 1) != request_order("iterative_ops", s, 1)
               for s in range(6, 9))


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_prints_every_end_to_end_metric(workload):
    res, out = _run(["--workload", workload, "--trace", "0"] + TINY)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 2
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    for name, unit in want.items():
        assert res["metrics"][name]["value"] > 0
        assert any(ln.startswith(f"{name} ") and ln.endswith(f" {unit}")
                   for ln in out.splitlines()), name


def test_trace_prints_every_per_layer_metric():
    res, out = _run(["--workload", "etl_nquads", "--trace", "1"] + TINY)
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert res["metrics"]["quads.quads_written"]["value"] > 0
    assert "tracing overhead" in out and "layer spans cover" in out


def test_wrong_expected_count_shows_in_failed_frac():
    prelude = (
        "from perfbench import oracle\n"
        "_real = oracle.Oracle.etl_expected\n"
        "def _off_by_one(self, sql):\n"
        "    want = _real(self, sql)\n"
        "    want['total_quads'] += 1\n"
        "    return want\n"
        "oracle.Oracle.etl_expected = _off_by_one\n"
    )
    res, out = _run(["--workload", "etl_nquads", "--trace", "0"] + TINY, prelude)
    assert not res["correct"]
    assert res["failed"] == res["attempted"]
    assert "failed_frac 1.0000" in out
