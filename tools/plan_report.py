#!/usr/bin/env python
"""Regenerate docs/PLANS.md: physical-plan evidence for every bench-flagged
query at sf0.1 — join strategies, exchange counts, scans with pushed
filters. The artifact behind docs/SCALE.md's claims."""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

# Run as a script, this directory is sys.path[0], where tools/profile.py
# would shadow the standard library's ``profile`` that PySpark imports.
TOOLS = os.path.dirname(os.path.abspath(__file__))
sys.path[:] = [os.path.dirname(TOOLS)] + [p for p in sys.path if os.path.abspath(p or ".") != TOOLS]

from cam_etl_spark.plans import QUERIES  # noqa: E402
from cam_etl_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("plan_report")
    lines = [
        "# Physical plans — bench queries at sf0.1",
        "",
        "Generated by tools/plan_report.py (pre-AQE plans; AQE re-plans",
        "broadcast/skew decisions at runtime from real sizes). Queries built",
        "on localCheckpointed indexes (hierarchy, dedup) show the post-",
        "checkpoint plan only — their build stages ran eagerly.",
        "",
        "| query | broadcast joins | sort-merge joins | exchanges | scans | pushed filters |",
        "|---|---|---|---|---|---|",
    ]
    for name, q in QUERIES.items():
        if not q.bench:
            continue
        df = q.spark(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        pushed = len(re.findall(r"PushedFilters: \[(?!\])", plan))
        lines.append(
            f"| `{name}` | {plan.count('BroadcastHashJoin')} "
            f"| {plan.count('SortMergeJoin')} | {plan.count('Exchange')} "
            f"| {plan.count('Scan parquet')} | {pushed} |"
        )
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "docs", "PLANS.md"
    )
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
