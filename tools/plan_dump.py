#!/usr/bin/env python
"""Dump `.explain("formatted")` for bench-flagged (or named) queries into
plans/<tag>/<query>_<suffix>.txt — the before/after plan evidence for the
optimization rounds.

Usage:
    python tools/plan_dump.py --tag r14 --suffix before [query ...]
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import sys

# Run as a script, this directory is sys.path[0], where tools/profile.py
# would shadow the standard library's ``profile`` that PySpark imports.
TOOLS = os.path.dirname(os.path.abspath(__file__))
sys.path[:] = [os.path.dirname(TOOLS)] + [p for p in sys.path if os.path.abspath(p or ".") != TOOLS]

from cam_etl_spark.plans import QUERIES  # noqa: E402
from cam_etl_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", default="r14")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", args.tag,
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("plan_dump")

    names = args.names or [n for n, q in QUERIES.items() if q.bench]
    for name in names:
        q = QUERIES[name]
        try:
            df = q.spark(spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
        except Exception as e:  # noqa: BLE001 - record the failure in place
            plan = f"ERROR building {name}: {type(e).__name__}: {e}\n"
        path = os.path.join(out_dir, f"{name}_{args.suffix}.txt")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(plan)
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
