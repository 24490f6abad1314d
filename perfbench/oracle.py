"""Independent output checks: the catalog's DuckDB oracles on the same files.

Query results are compared as value multisets with the normalisation of
``tools/check_correctness.py`` (columns sorted by name, floats rounded to 9
places, temporals in ISO form); the sorted row strings are then hashed.
"""

from __future__ import annotations

import hashlib
import os

import duckdb

from tools.check_correctness import multiset


def multiset_digest(rows, cols) -> dict:
    """``{"rows", "cols", "sha256"}`` of a result, independent of row and
    column order."""
    lines = multiset(rows, cols)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return {"rows": len(lines), "cols": sorted(cols), "sha256": h.hexdigest()}


class Oracle:
    """DuckDB views over one generated input directory."""

    def __init__(self, data_dir: str, tables, tmp_dir: str):
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory = '{tmp_dir}'")
        self.con.execute("SET threads = 2")
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def query_digest(self, sql: str) -> dict:
        rel = self.con.sql(sql)
        return multiset_digest(rel.fetchall(), rel.columns)

    def etl_expected(self, etl_sql: str) -> dict:
        """The golden counts the N-Quads round trip must reproduce, from the
        ``etl_end_to_end_counts`` oracle."""
        m = dict(self.con.sql(etl_sql).fetchall())
        return {
            "total_quads": m["total_quads"],
            "address_graph_subjects": m["address_graph_subjects"],
            "road_graph_subjects": m["road_graph_subjects"],
            "name_graph_subjects": m["name_graph_subjects"],
            "address_count_reconciles": m["address_count_reconciles"],
        }

    def close(self) -> None:
        self.con.close()
