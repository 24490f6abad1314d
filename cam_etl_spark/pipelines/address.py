"""The flagship end-to-end pipeline: the reference's address extraction
(SURVEY §3.1, /root/reference/etl_lalf_address.py:719-739) re-expressed
Spark-first — per-table bronze reads, Spark-side multi-way join (Catalyst
plans it; the reference pushed one mega-SQL into Postgres), conditional
row→quad fan-out, display-label assembly, global quad dedup.

The testdata star schema stands in for the LALF tables with the same
referential shape (FIXTURES.md):

    orders   → lf_address  (addr_id, site_id→custkey, road_id, status,
                            unit/street parts derived deterministically)
    customer → lf_site     (site_id, parcel_id→nationkey)
    nation   → lf_parcel   (parcel_id, lot/plan)
    supplier → lf_road     (road_id, road_name, type code)
    region   → locality

All bronze columns are STRINGS (the reference ingests every column as
Postgres text, /root/reference/etl-notes.md:30); the silver projection
casts. Status mapping exercises the status-exclusion filter (P2): orders
with o_orderstatus = 'P' become historical 'H' rows and must vanish — the
post-join count invariant (/root/reference/etl-notes.md:263-285) checks
exactly that.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cam_etl_spark.io import load_table, scan_partitions
from cam_etl_spark.quads import dedup_quads, fan_out_sql, quad_sql

ADDR_GRAPH = "urn:example:graph:addresses"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
SDO = "https://schema.org/"

# F17-style code → IRI mapping (ref /root/reference/etl_lalf_address.py:313-367)
STATUS_IRIS = {
    "C": "https://example.org/def/address-status/current",
    "A": "https://example.org/def/address-status/active",
}
ROAD_TYPES = ["STREET", "ROAD", "AVENUE", "LANE", "DRIVE"]


def bronze_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Stringly-typed bronze frames in the reference's table shapes. Every
    column is cast to string at ingest — casts back happen in the silver
    projection, mirroring the in-query casts of the reference.

    Plan-memoized per (session, sf_dir) like io.load_table: these are
    fixed narrow projections over the memoized scans (plus the one
    locality dim join), rebuilt identically by four bench queries — each
    rebuild paid ~10 py4j round-trips with a JVM re-analysis apiece.
    Plan objects only; every action still reads parquet."""
    from cam_etl_spark.io import _session_cache
    import os as _os

    cache = _session_cache(spark, "_cam_etl_bronze_plans")
    key = _os.path.abspath(sf_dir)
    hit = cache.get(key)
    if hit is not None:
        return dict(hit)
    out = _bronze_tables_uncached(spark, sf_dir)
    cache[key] = dict(out)
    return out


def _bronze_tables_uncached(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")
    r = load_table(spark, sf_dir, "region")

    # selectExpr strings: one parsed expression per column instead of a
    # chain of py4j Column calls — same expressions, ~4x cheaper to BUILD
    # (this pipeline is constructed by four bench queries; the Column
    # chains dominated their driver-side build time).
    road_type_arr = "array(" + ", ".join(f"'{t}'" for t in ROAD_TYPES) + ")"
    addresses = o.selectExpr(
        "CAST(o_orderkey AS STRING) AS addr_id",
        "CAST(o_custkey AS STRING) AS site_id",
        "CAST(o_orderkey % 100 AS STRING) AS road_id",
        # P (pending) plays the reference's 'H' (historical, filtered out)
        "CASE WHEN o_orderstatus = 'P' THEN 'H' "
        "WHEN o_orderstatus = 'F' THEN 'C' ELSE 'A' END AS addr_status_code",
        "CASE WHEN o_orderkey % 3 = 0 THEN CAST(o_orderkey % 50 + 1 AS STRING) END"
        " AS unit_no",
        "CAST(o_orderkey % 300 + 1 AS STRING) AS street_no_first",
        "CASE WHEN o_orderkey % 5 = 0 THEN CAST(o_orderkey % 300 + 3 AS STRING) END"
        " AS street_no_last",
        "date_format(o_orderdate, 'yyyyMMddHHmmss') AS addr_create_date",
    )
    sites = c.selectExpr(
        "CAST(c_custkey AS STRING) AS site_id",
        "CAST(c_nationkey AS STRING) AS parcel_id",
    )
    parcels = n.selectExpr(
        "CAST(n_nationkey AS STRING) AS parcel_id",
        "CAST(n_nationkey AS STRING) AS lot_no",
        "concat('SP', CAST(n_regionkey AS STRING)) AS plan_no",
    )
    roads = s.selectExpr(
        "CAST(s_suppkey AS STRING) AS road_id",
        "regexp_replace(s_name, 'Supplier#', 'Road ') AS road_name",
        f"element_at({road_type_arr}, "
        f"CAST(s_nationkey % {len(ROAD_TYPES)} + 1 AS INT)) AS road_type",
        "CAST(s_nationkey AS STRING) AS locality_code",
    )
    localities = n.join(r, n.n_regionkey == r.r_regionkey).selectExpr(
        "CAST(n_nationkey AS STRING) AS locality_code",
        "r_name AS locality_name",
    )
    return {
        "addresses": addresses,
        "sites": sites,
        "parcels": parcels,
        "roads": roads,
        "localities": localities,
    }


def _joined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The big extraction join (J1-J2): address ⋈ site ⋈ parcel, left ⋈ road
    ⋈ locality, status != 'H'. Small dims broadcast; the fact side never
    shuffles for them. Catalyst owns the join order."""
    t = bronze_tables(spark, sf_dir)
    fact = t["addresses"].filter(F.col("addr_status_code") != "H")
    # Tiny-SF inputs arrive as ONE parquet split, which would run the
    # whole broadcast-join + 7-way quad fan-out chain on a single core
    # until the first downstream shuffle. Fan the fact side out to the
    # cluster width in that case; at real scale the scan already has
    # more splits than cores and this branch is a no-op (no exchange).
    par = spark.sparkContext.defaultParallelism
    # memoized split count of the orders scan — fact is a narrow filter
    # over it, so the counts agree, and the per-build df.rdd plan-to-RDD
    # compilation (~150 ms) happens once per session, not once per build
    if scan_partitions(spark, sf_dir, "orders") < par:
        fact = fact.repartition(par)
    return (
        fact
        .join(t["sites"], "site_id")
        .join(F.broadcast(t["parcels"]), "parcel_id")
        .join(F.broadcast(t["roads"]), "road_id", "left")
        .join(F.broadcast(t["localities"]), "locality_code", "left")
    )


# The reference's label assembly byte semantics
# (/root/reference/etl_lalf_address.py:676-686, SURVEY §7.3): ``unit/``
# prefix only when unit present, ``-last`` only for ranges, then road
# name + type and ``, LOCALITY``. Kept as ONE SQL text (parsed in a
# single py4j call; identical expression tree to the old Column chain).
_DISPLAY_LABEL_SQL = (
    "concat("
    "CASE WHEN unit_no IS NOT NULL THEN concat(unit_no, '/') ELSE '' END, "
    "concat(street_no_first, "
    "  CASE WHEN street_no_last IS NOT NULL THEN concat('-', street_no_last)"
    "  ELSE '' END), "
    "CASE WHEN road_name IS NOT NULL"
    "  THEN concat(' ', road_name, ' ', road_type) ELSE '' END, "
    "CASE WHEN locality_name IS NOT NULL"
    "  THEN concat(', ', locality_name) ELSE '' END)"
)


def _address_fanout(joined: DataFrame) -> DataFrame:
    """The address quad templates over a joined frame (``_joined``'s
    columns; batch or streaming): type, identifier, status concept (F17
    map), parcel/road links, null-guarded unit part (P7), label (F18).
    The whole 7-template fan-out parses as ONE expression (see
    quads.quad_sql)."""
    subj = "format_string('https://example.org/address/%s', addr_id)"
    status_map = (
        "map("
        + ", ".join(f"'{k}', '{v}'" for k, v in STATUS_IRIS.items())
        + ")[addr_status_code]"
    )
    return fan_out_sql(
        joined,
        quad_sql(subj, RDF_TYPE, f"'{SDO}PostalAddress'", "iri", graph=ADDR_GRAPH),
        quad_sql(subj, SDO + "identifier", "addr_id", "literal",
                 object_datatype="https://example.org/datatype/address-pid",
                 graph=ADDR_GRAPH),
        quad_sql(subj, SDO + "additionalType", status_map, "iri", graph=ADDR_GRAPH),
        quad_sql(subj, SDO + "containedInPlace",
                 "format_string('https://example.org/parcel/%s-%s', lot_no, plan_no)",
                 "iri", graph=ADDR_GRAPH),
        quad_sql(subj, SDO + "streetAddress",
                 "format_string('https://example.org/road/%s', road_id)",
                 "iri", graph=ADDR_GRAPH, cond="road_name IS NOT NULL"),
        quad_sql(subj, SDO + "unitCode", "unit_no", "literal", graph=ADDR_GRAPH,
                 cond="unit_no IS NOT NULL"),
        quad_sql(subj, "http://www.w3.org/2000/01/rdf-schema#label",
                 _DISPLAY_LABEL_SQL, "literal", graph=ADDR_GRAPH),
    )


def address_quads(
    spark: SparkSession, sf_dir: str, dedup: bool = True
) -> DataFrame:
    """Joined rows → conditionally-emitted quads (T1, ``_address_fanout``).
    Globally deduped (U2) unless the caller composes this graph into a
    larger union that dedups once at the end (etl_end_to_end_counts) — a
    second identical shuffle of the same quads buys nothing."""
    quads = _address_fanout(_joined(spark, sf_dir))
    return dedup_quads(quads) if dedup else quads


def address_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(subject, label) for every live address — the byte-exact label
    surface the golden tests lock."""
    j = _joined(spark, sf_dir)
    return j.selectExpr(
        "format_string('https://example.org/address/%s', addr_id) AS subject",
        f"{_DISPLAY_LABEL_SQL} AS label",
    )
