#!/usr/bin/env python
"""Regenerate docs/CATALOG.md: the full query inventory with SURVEY tags,
oracle status, and bench membership. Run after adding catalog queries."""

from __future__ import annotations

import os
import sys

# Run as a script, this directory is sys.path[0], where tools/profile.py
# would shadow the standard library's ``profile`` that PySpark imports.
TOOLS = os.path.dirname(os.path.abspath(__file__))
sys.path[:] = [os.path.dirname(TOOLS)] + [p for p in sys.path if os.path.abspath(p or ".") != TOOLS]

from cam_etl_spark.plans import QUERIES  # noqa: E402


def main() -> None:
    lines = [
        "# Query catalog",
        "",
        "Generated by tools/catalog_report.py — one row per entry in",
        "`__spark_entry__.queries()`. Oracle = DuckDB SQL twin checked by the",
        "driver at sf0.01 (rows-only entries are pytest-verified instead).",
        "",
        f"**{len(QUERIES)} queries — "
        f"{sum(1 for q in QUERIES.values() if q.oracle)} oracle-checked, "
        f"{sum(1 for q in QUERIES.values() if q.bench)} in the bench headline set.**",
        "",
        "| query | SURVEY tags | oracle | bench |",
        "|---|---|---|---|",
    ]
    for name, q in QUERIES.items():
        lines.append(
            f"| `{name}` | {', '.join(q.tags)} | "
            f"{'✓' if q.oracle else 'rows-only'} | {'✓' if q.bench else ''} |"
        )
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "docs", "CATALOG.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}: {len(QUERIES)} queries")


if __name__ == "__main__":
    main()
