"""Seeded input generation for the benchmark.

The generator reproduces the engine's sf0.1 reference dataset (the
synthetic TPC-H-like star schema plus the ``documents`` corpus, drawn with
seed 42), scaled by a factor: the same schemas, value domains and
distributions, each measured on that dataset with DuckDB and recorded next
to its constant below. The reference draws its columns independently and
uniformly, so its row counts scale linearly and its shapes carry over to
any size: a third of the orders are ``'P'`` (historical ``'H'``
addresses, filtered out by the ETL), lineitems pick their order
uniformly (Poisson(4) lines per order), and the corpus uses a 30-word
vocabulary with 5% near-duplicates, so every term is in most documents.
The benchmark generates rather than copies, because it reads only inside
its own checkout.

Keys are dense ``0..n-1`` ranges, which the hierarchy query
relies on; dimension tables (region, nation) keep their fixed 25/5 rows at
every size, as in the reference.

The same ``(seed, sizes)`` always gives byte-identical parquet files: one
``numpy`` PCG64 stream draws every column in a fixed order and pyarrow
writes one row group per table with fixed options. Files are cached per
``(profile, seed)`` so generation happens once and never inside a metric.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts of the sf0.1 reference, the unit the profile sizes below are
#: expressed in (``scale`` = fraction of sf0.1). ``part`` is not generated;
#: its count bounds ``l_partkey`` (0..19999 in the reference).
SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "documents": 5_000,
}
#: Lineitems per order: 600,000 / 150,000 in the reference, each with a
#: uniform ``l_orderkey``. The measured lines-per-order histogram (0: 2,764,
#: 1: 11,016, 4: 29,097, 8: 4,407, max 17 orders of 150,000) is Poisson(4).
LINES_PER_ORDER = 4

#: Tables each workload reads, and its size as a fraction of sf0.1.
#: Sized so one benchmark run (JVM start, cold warm-up, the measured
#: window and the oracle checks) stays well inside a minute on 4 cores.
PROFILES = {
    "etl_nquads": {"scale": 0.05, "tables": ("region", "nation", "customer",
                                            "supplier", "orders", "lineitem")},
    "iterative_ops": {"scale": 0.1, "tables": ("customer", "orders", "documents")},
}

#: The reference vocabulary: 30 words, each 8,829-9,182 of its 270,704
#: tokens, plus the ``dup`` marker of near-duplicates (255 tokens).
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
#: Words per document: uniform 10-99 (mean 54.1) in the reference.
DOC_WORDS = (10, 100)
#: Reference document counts per language, used as the sampling weights.
LANG_COUNTS = {"en": 2059, "zh": 753, "es": 744, "fr": 742, "de": 702}
#: Share of documents that are a copy of another one (earlier or later,
#: chains allowed) plus the token ``dup``: 250 of 5,000 in the reference,
#: 128 of them copying an earlier document.
NEAR_DUP_RATE = 0.05
#: Status, priority, segment and return-flag/line-status mixes are uniform
#: in the reference (F/O/P 49,710/50,101/50,189; every other mix within 3%
#: of uniform).
STATUSES = ("F", "O", "P")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
#: Day offsets from 1995-01-01: o_orderdate 0-2404, l_shipdate 1-2499,
#: drawn independently of each other.
ORDER_DAYS = (0, 2405)
SHIP_DAYS = (1, 2500)

_EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _rows(scale: float, table: str) -> int:
    return max(int(round(SF01_ROWS[table] * scale)), 50)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, n, span):
    return _EPOCH_1995 + rng.integers(span[0], span[1], n).astype("timedelta64[D]")


def _pick(rng, values, n, weights=None):
    p = None if weights is None else np.asarray(weights, float) / sum(weights)
    return np.array(values)[rng.choice(len(values), n, p=p)]


def generate_tables(seed: int, scale: float, tables) -> dict[str, pa.Table]:
    """Every requested table as an Arrow table; same arguments, same bytes."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n_cust, n_supp = _rows(scale, "customer"), _rows(scale, "supplier")
    n_ord, n_part = _rows(scale, "orders"), _rows(scale, "part")
    n_li = LINES_PER_ORDER * n_ord
    out: dict[str, pa.Table] = {}
    # Draw every table in a fixed order, whether requested or not, so a
    # table's contents never depend on which other tables were asked for.
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(_pick(rng, SEGMENTS, n_cust)),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(_pick(rng, STATUSES, n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(_days(rng, n_ord, ORDER_DAYS), pa.timestamp("us")),
        "o_orderpriority": pa.array(_pick(rng, PRIORITIES, n_ord)),
    })
    # Line numbers are uniform 1-7 in the reference, not a sequence per
    # order; discount and tax are uniform amounts rounded to cents (the
    # end values have half the count of the others).
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li)),
        "l_discount": pa.array(_money(rng, 0.0, 0.1, n_li)),
        "l_tax": pa.array(_money(rng, 0.0, 0.08, n_li)),
        "l_returnflag": pa.array(_pick(rng, ("A", "N", "R"), n_li)),
        "l_linestatus": pa.array(_pick(rng, ("F", "O"), n_li)),
        "l_shipdate": pa.array(_days(rng, n_li, SHIP_DAYS), pa.timestamp("us")),
    })
    out["documents"] = _documents(rng, _rows(scale, "documents"))
    return {t: out[t] for t in tables}


def _documents(rng, n: int) -> pa.Table:
    lengths = rng.integers(DOC_WORDS[0], DOC_WORDS[1], n)
    words = _pick(rng, WORDS, int(lengths.sum()))
    bounds = np.cumsum(lengths)
    texts = [" ".join(w) for w in np.split(words, bounds[:-1])]
    # near-duplicates, in document order: a copy of any other document
    # (as it stands at that point) plus the marker token
    is_dup = rng.random(n) < NEAR_DUP_RATE
    src = rng.integers(0, n, n)
    for i in np.flatnonzero(is_dup):
        if src[i] != i:
            texts[i] = texts[src[i]] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(_pick(rng, list(LANG_COUNTS), n, list(LANG_COUNTS.values()))),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def materialize(root: str, profile: str, seed: int, scale: float = 1.0) -> dict:
    """Write (or reuse) the parquet inputs of one workload for one seed.

    Returns ``{"dir", "scale_vs_sf0.1", "tables": {name: {"rows", "bytes"}}}``.
    ``scale`` multiplies the profile's size (the tests use a tiny one)."""
    spec = PROFILES[profile]
    sf = spec["scale"] * scale
    d = os.path.join(root, f"{profile}-x{sf:g}-seed{seed}")
    manifest = os.path.join(d, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest, encoding="utf-8") as fh:
            return json.load(fh)
    os.makedirs(d, exist_ok=True)
    info = {"dir": d, "scale_vs_sf0.1": sf, "tables": {}}
    for name, tbl in generate_tables(seed, sf, spec["tables"]).items():
        path = os.path.join(d, f"{name}.parquet")
        pq.write_table(tbl, path, compression="snappy", row_group_size=1 << 30)
        info["tables"][name] = {"rows": tbl.num_rows, "bytes": os.path.getsize(path)}
    tmp = manifest + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(info, fh, indent=1)
    os.replace(tmp, manifest)  # the manifest marks a complete directory
    return info
