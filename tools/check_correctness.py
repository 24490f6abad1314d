"""Local mirror of the driver's DuckDB-oracle comparison.

Runs every catalog query on Spark and its oracle on DuckDB at sf0.01,
compares row count + sorted-column value multiset. Usage:

    python tools/check_correctness.py [query_name ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def norm_cell(v):
    import datetime
    import decimal
    import math

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, decimal.Decimal):
        return repr(round(float(v), 9))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def multiset(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append("\x1f".join(norm_cell(r[i]) for i in order))
    return sorted(out)


def main():
    from cam_etl_spark.plans import QUERIES
    from cam_etl_spark.session import get_spark

    names = sys.argv[1:] or list(QUERIES)
    spark = get_spark("correctness")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

    n_pass = n_fail = n_rowsonly = 0
    for name in names:
        q = QUERIES[name]
        t0 = time.time()
        try:
            sdf = q.spark(spark, SF_DIR)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        if q.oracle is None:
            print(f"ROWS  {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            n_rowsonly += 1
            continue
        try:
            orel = con.sql(q.oracle_text())
            orows = orel.fetchall()
            ocols = orel.columns
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"schema {sorted(scols)} vs {sorted(ocols)}")
        # The driver hashes *typed* values (Arrow), where DuckDB's HUGEINT
        # (sum over BIGINT promotes) serializes differently from Spark's
        # BIGINT even when the numbers match — str() comparison below hides
        # it.  Surface the trap locally: any HUGEINT oracle column is a
        # FAIL telling us to add ::bigint in the oracle SQL.
        for cname, ctype in zip(orel.columns, orel.types):
            if "HUGEINT" in str(ctype).upper() or "INT128" in str(ctype).upper():
                problems.append(
                    f"oracle column {cname!r} is {ctype} (driver hash trap —"
                    " cast to ::bigint in the oracle SQL)"
                )
        if len(srows) != len(orows):
            problems.append(f"rowcount {len(srows)} vs {len(orows)}")
        if not problems:
            sm, om = multiset(srows, scols), multiset(orows, ocols)
            if sm != om:
                diff = [(a, b) for a, b in zip(sm, om) if a != b][:3]
                problems.append(f"values differ, e.g. {diff}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)} [{time.time()-t0:.1f}s]")
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only of {len(names)}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
