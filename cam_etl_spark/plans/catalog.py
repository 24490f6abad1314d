"""Query catalog: one entry per operator family of SURVEY.md §2, expressed
over the synthetic testdata tables, each with a DuckDB oracle SQL twin.

Every builder takes (spark, sf_dir) and returns a DataFrame whose column
names match the oracle's aliases exactly (the driver sorts columns by name
and value-hashes). Doubles that pass through an aggregation are rounded in
BOTH engines so accumulation-order differences can't flip the hash.

The ``tags`` list names the SURVEY §2 operator IDs each query demonstrates;
the docstring of each builder cites the reference behavior it models.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cam_etl_spark.io import load_table


@dataclass
class Query:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    #: oracle SQL, or a zero-arg callable producing it (for oracles that
    #: are expensive to build — resolved once at oracle_sql() time so
    #: plain `import cam_etl_spark.plans` stays cheap)
    oracle: str | Callable[[], str] | None
    tags: list[str] = field(default_factory=list)
    bench: bool = False  # included in bench.py headline set

    def oracle_text(self) -> str | None:
        return self.oracle() if callable(self.oracle) else self.oracle


QUERIES: dict[str, Query] = {}


def register(name: str, oracle: str | None, tags: list[str], bench: bool = False):
    def deco(fn):
        QUERIES[name] = Query(name=name, spark=fn, oracle=oracle, tags=tags, bench=bench)
        return fn

    return deco


def t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


def widen(df):
    """Fan a narrow scan out to cluster width before expensive per-row
    work (shingling, hashing, Arrow-batch decode). Tiny-SF parquet ships
    ONE row group, so the scan cannot split and the whole pre-shuffle
    map side would run on a single core. At real scale the scan already
    has more splits than cores and this is a no-op — no exchange."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


# Plan memo for the widen(t(...).select(...)) idiom: the `.rdd` width
# probe costs ~65 ms of driver-side analysis per call and its answer is
# fixed per (session, table, columns) — pay it once. Like io.load_table's
# memo this caches an analyzed PLAN object, never results; the scan still
# reads parquet on every action. Stored on the session itself
# (io._session_cache): a module-level WeakKeyDictionary never evicts here
# because the cached DataFrames strongly reference their session. A new
# session starts with no attribute, so it re-probes.


def widen_table(spark, sf_dir, name, *cols):
    """widen() over a (projected) memoized base table, plan-memoized."""
    import os as _os

    from cam_etl_spark.io import _session_cache

    cache = _session_cache(spark, "_cam_etl_wide_plans")
    key = (_os.path.abspath(sf_dir), name, cols)
    hit = cache.get(key)
    if hit is None:
        df = load_table(spark, sf_dir, name)
        if cols:
            df = df.select(*cols)
        hit = cache[key] = widen(df)
    return hit


# Deterministic synthetic geometry: QLD-ish lon/lat derived from an integer
# key expression, so the spatial operators have an exact SQL oracle. One
# SQL text serves the Spark builders and their DuckDB oracles. The divisor
# is a DOUBLE in both dialects: a bare ``100.0`` is a DECIMAL literal in
# Spark SQL, while DuckDB divides in DOUBLE either way.
def lon_sql(k: str) -> str:
    return f"(138 + (({k}) * 37) % 1600 / CAST(100 AS DOUBLE))"


def lat_sql(k: str) -> str:
    return f"(-29 + (({k}) * 53) % 1900 / CAST(100 AS DOUBLE))"


# ---------------------------------------------------------------------------
# Projection / filter / predicates (SURVEY §2.2)
# ---------------------------------------------------------------------------


@register(
    "p1_projection_filter",
    """
    SELECT c_custkey AS cust_id, upper(c_name) AS cust_name,
           round(c_acctbal, 2) AS acctbal
    FROM customer
    WHERE c_acctbal > 0 AND c_mktsegment <> 'BUILDING'
    """,
    tags=["P1", "P2", "F4", "F6"],
)
def p1_projection_filter(spark, sf_dir):
    """Column projection w/ aliasing + status-code exclusion filter
    (ref /root/reference/etl_lalf_address.py:728,736)."""
    c = t(spark, sf_dir, "customer")
    return (
        c.filter((F.col("c_acctbal") > 0) & (F.col("c_mktsegment") != "BUILDING"))
        .select(
            F.col("c_custkey").alias("cust_id"),
            F.upper("c_name").alias("cust_name"),
            F.round("c_acctbal", 2).alias("acctbal"),
        )
    )


@register(
    "p3_compound_filter",
    """
    SELECT o_orderkey, o_orderstatus, o_orderpriority
    FROM orders
    WHERE (o_orderstatus = 'O' AND (o_totalprice > 150000 OR o_orderpriority = '1-URGENT'))
       OR o_orderdate IS NULL
    """,
    tags=["P3"],
)
def p3_compound_filter(spark, sf_dir):
    """Compound boolean filter with null test (ref
    /root/reference/etl_pndb.py:455-465)."""
    o = t(spark, sf_dir, "orders")
    return o.filter(
        (
            (F.col("o_orderstatus") == "O")
            & ((F.col("o_totalprice") > 150000) | (F.col("o_orderpriority") == "1-URGENT"))
        )
        | F.col("o_orderdate").isNull()
    ).select("o_orderkey", "o_orderstatus", "o_orderpriority")


@register(
    "p4_distinct_projection",
    "SELECT DISTINCT c_nationkey AS nationkey, c_mktsegment AS segment FROM customer",
    tags=["P4"],
)
def p4_distinct_projection(spark, sf_dir):
    """DISTINCT projection (ref /root/reference/etl_qrt.py:261-267)."""
    c = t(spark, sf_dir, "customer")
    return c.select(
        F.col("c_nationkey").alias("nationkey"), F.col("c_mktsegment").alias("segment")
    ).distinct()


@register(
    "p5_case_when_not_in",
    """
    SELECT CASE WHEN p_size >= 45 AND p_brand NOT IN ('Brand#33', 'Brand#44')
                THEN 0 ELSE p_size END AS size_norm,
           count(*) AS n_parts
    FROM part GROUP BY 1
    """,
    tags=["P5", "A3"],
)
def p5_case_when_not_in(spark, sf_dir):
    """CASE WHEN + NOT-IN list rewrite — the lot_no 9999→0 pattern
    (ref /root/reference/etl_lalf_parcel.py:131-140)."""
    p = t(spark, sf_dir, "part")
    size_norm = F.when(
        (F.col("p_size") >= 45) & ~F.col("p_brand").isin("Brand#33", "Brand#44"), F.lit(0)
    ).otherwise(F.col("p_size"))
    return p.select(size_norm.alias("size_norm")).groupBy("size_norm").agg(
        F.count("*").alias("n_parts")
    )


@register(
    "p6_nullif_normalize",
    """
    SELECT doc_id, coalesce(nullif(trim(source), ''), 'unknown') AS source_norm,
           nullif(lang, 'unk') AS lang_norm
    FROM documents
    """,
    tags=["P6", "F20"],
)
def p6_nullif_normalize(spark, sf_dir):
    """Empty-string→NULL normalization + coalesce fallback (ref
    /root/reference/etl-notes.md:880, SURVEY §7.3 stringly-typed NULLs)."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.coalesce(F.nullif(F.trim("source"), F.lit("")), F.lit("unknown")).alias("source_norm"),
        F.nullif(F.col("lang"), F.lit("unk")).alias("lang_norm"),
    )


@register(
    "p8_param_subset_filter",
    "SELECT o_orderkey, o_custkey FROM orders WHERE o_custkey IN (1, 7, 42, 99, 123)",
    tags=["P8"],
)
def p8_param_subset_filter(spark, sf_dir):
    """Parameterized id-subset filter — the Jinja site_ids IN (...) template
    (ref /root/reference/cam/tables/lf_address.py:88)."""
    o = t(spark, sf_dir, "orders")
    return o.filter(F.col("o_custkey").isin(1, 7, 42, 99, 123)).select("o_orderkey", "o_custkey")


# ---------------------------------------------------------------------------
# Joins (SURVEY §2.3)
# ---------------------------------------------------------------------------


@register(
    "j1_multiway_join_agg",
    """
    SELECT r_name AS region, n_name AS nation,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY 1, 2
    """,
    tags=["J1", "A3", "F1"],
    bench=True,
)
def j1_multiway_join_agg(spark, sf_dir):
    """Multi-way inner equi-join (the address⋈site⋈parcel shape, ref
    /root/reference/etl_lalf_address.py:729-731) + grouped revenue. nation
    and region are broadcast (small dims); the lineitem⋈orders join is the
    only at-scale shuffle and AQE handles its skew."""
    li, o, c = t(spark, sf_dir, "lineitem"), t(spark, sf_dir, "orders"), t(spark, sf_dir, "customer")
    n, r = t(spark, sf_dir, "nation"), t(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "j2_left_join_agg",
    """
    SELECT c_custkey AS custkey, count(o_orderkey) AS n_orders,
           round(coalesce(sum(o_totalprice), 0), 2) AS total_spend
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY 1
    """,
    tags=["J2", "A3", "F20"],
)
def j2_left_join_agg(spark, sf_dir):
    """Left outer join preserving unmatched left rows (ref
    /root/reference/etl_lalf_address.py:732-733)."""
    c, o = t(spark, sf_dir, "customer"), t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(F.col("c_custkey").alias("custkey"))
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spend"),
        )
    )


@register(
    "j3_composite_derived_join",
    """
    WITH daily AS (
      SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             round(sum(value), 4) AS day_total, count(*) AS day_events
      FROM events GROUP BY 1, 2
    )
    SELECT e.event_id, d.day, d.day_total, d.day_events
    FROM events e
    JOIN daily d ON e.user_id = d.user_id
                AND strftime(date_trunc('day', e.ts), '%Y-%m-%d') = d.day
    """,
    tags=["J3", "F8"],
)
def j3_composite_derived_join(spark, sf_dir):
    """Join on a composite key including a derived column (ref
    /root/reference/etl_lalf_address.py:734-735 qrt_road_name join)."""
    e = t(spark, sf_dir, "events")
    day = F.date_format(F.col("ts"), "yyyy-MM-dd")
    daily = (
        e.groupBy(F.col("user_id").alias("d_user"), day.alias("day"))
        .agg(F.round(F.sum("value"), 4).alias("day_total"), F.count("*").alias("day_events"))
    )
    return (
        e.join(daily, (e.user_id == daily.d_user) & (day == daily.day))
        .select("event_id", "day", "day_total", "day_events")
    )


@register(
    "j4_dedup_then_join",
    """
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    SELECT s_name AS supplier, count(*) AS n_distinct_parts
    FROM ps JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY 1
    """,
    tags=["J4", "P4", "A3"],
)
def j4_dedup_then_join(spark, sf_dir):
    """Dedup-then-join — the qrt_road DISTINCT CTE (ref
    /root/reference/etl_lalf_address.py:724-727)."""
    li, s = t(spark, sf_dir, "lineitem"), t(spark, sf_dir, "supplier")
    ps = li.select("l_partkey", "l_suppkey").dropDuplicates()
    return (
        ps.join(F.broadcast(s), ps.l_suppkey == s.s_suppkey)
        .groupBy(F.col("s_name").alias("supplier"))
        .agg(F.count("*").alias("n_distinct_parts"))
    )


@register(
    "j5_anti_join",
    """
    SELECT c_custkey AS custkey FROM customer
    ANTI JOIN orders ON c_custkey = o_custkey
    """,
    tags=["J5"],
)
def j5_anti_join(spark, sf_dir):
    """Anti-join (left join + IS NULL in the reference:
    /root/reference/etl_pndb.py:460-463, etl-queries.md:21-26)."""
    c, o = t(spark, sf_dir, "customer"), t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        F.col("c_custkey").alias("custkey")
    )


@register(
    "j6_full_outer_join",
    """
    WITH cn AS (SELECT c_nationkey AS nationkey, count(*) AS n_customers
                FROM customer GROUP BY 1),
         sn AS (SELECT s_nationkey AS nationkey, count(*) AS n_suppliers
                FROM supplier GROUP BY 1)
    SELECT coalesce(cn.nationkey, sn.nationkey) AS nationkey,
           coalesce(n_customers, 0) AS n_customers,
           coalesce(n_suppliers, 0) AS n_suppliers
    FROM cn FULL OUTER JOIN sn ON cn.nationkey = sn.nationkey
    """,
    tags=["J6"],
)
def j6_full_outer_join(spark, sf_dir):
    """Full outer join (ref /root/reference/etl-notes.md:727-737)."""
    c, s = t(spark, sf_dir, "customer"), t(spark, sf_dir, "supplier")
    cn = c.groupBy(F.col("c_nationkey").alias("cn_key")).agg(F.count("*").alias("n_customers"))
    sn = s.groupBy(F.col("s_nationkey").alias("sn_key")).agg(F.count("*").alias("n_suppliers"))
    return (
        cn.join(sn, cn.cn_key == sn.sn_key, "full_outer")
        .select(
            F.coalesce("cn_key", "sn_key").alias("nationkey"),
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        )
    )


@register(
    "j7_case_insensitive_join",
    """
    WITH dim AS (SELECT DISTINCT concat(upper(substr(r_name, 1, 1)),
                                        lower(substr(r_name, 2))) AS display_name
                 FROM region)
    SELECT r_regionkey AS regionkey, d.display_name
    FROM region r JOIN dim d ON upper(r.r_name) = upper(d.display_name)
    """,
    tags=["J7", "F4"],
)
def j7_case_insensitive_join(spark, sf_dir):
    """Case-insensitive equi-join via UPPER normalization — kept an
    equi-join for shuffle-ability (ref /root/reference/etl-notes.md:158-168,
    747-752 ILIKE locality join)."""
    r = t(spark, sf_dir, "region")
    dim = r.select(
        F.concat(
            F.upper(F.substring("r_name", 1, 1)), F.lower(F.expr("substring(r_name, 2)"))
        ).alias("display_name")
    ).distinct()
    return r.join(F.broadcast(dim), F.upper(r.r_name) == F.upper(dim.display_name)).select(
        F.col("r_regionkey").alias("regionkey"), "display_name"
    )


@register(
    "j8_enrichment_join",
    """
    SELECT c_custkey AS custkey,
           coalesce(n_name, 'UNKNOWN') AS nation_name,
           CASE WHEN n_name IS NOT NULL THEN 1 ELSE 0 END AS nation_found
    FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
    """,
    tags=["J8", "F20"],
)
def j8_enrichment_join(spark, sf_dir):
    """Join-based enrichment replacing the reference's UPDATE…FROM passes
    (ref /root/reference/etl-notes.md:77-110): a new DF with the derived
    column, never an in-place mutation."""
    c, n = t(spark, sf_dir, "customer"), t(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
        .select(
            F.col("c_custkey").alias("custkey"),
            F.coalesce("n_name", F.lit("UNKNOWN")).alias("nation_name"),
            F.when(F.col("n_name").isNotNull(), 1).otherwise(0).alias("nation_found"),
        )
    )


@register(
    "j11_group_collect",
    """
    SELECT l_orderkey AS orderkey,
           count(*) AS n_items,
           round(sum(l_quantity), 2) AS total_qty,
           string_agg(l_linenumber::varchar, ',' ORDER BY l_linenumber) AS linenumbers
    FROM lineitem GROUP BY 1
    """,
    tags=["J11", "A5"],
)
def j11_group_collect(spark, sf_dir):
    """Collect-per-key replacing the reference's N+1 correlated lookups
    (ref /root/reference/etl_pndb.py:358-395 → SURVEY J11: pre-joined
    collect_list) and defaultdict grouping (A5,
    /root/reference/cam/tables/lf_address_history.py:79-84)."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_orderkey").alias("orderkey")).agg(
        F.count("*").alias("n_items"),
        F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        F.array_join(
            F.transform(F.sort_array(F.collect_list("l_linenumber")), lambda x: x.cast("string")),
            ",",
        ).alias("linenumbers"),
    )


@register(
    "j13_vocab_broadcast_lookup",
    """
    SELECT o_orderkey AS orderkey,
           coalesce(v.concept_iri,
                    CASE upper(trim(o_orderpriority))
                      WHEN '4-NOT SPECIFIED' THEN 'https://example.org/def/priority/unspecified'
                      ELSE NULL END) AS priority_iri
    FROM orders
    LEFT JOIN (VALUES
        ('1-URGENT', 'https://example.org/def/priority/urgent'),
        ('2-HIGH', 'https://example.org/def/priority/high'),
        ('3-MEDIUM', 'https://example.org/def/priority/medium'),
        ('5-LOW', 'https://example.org/def/priority/low')
    ) v(label, concept_iri) ON upper(trim(o_orderpriority)) = upper(trim(v.label))
    """,
    tags=["J13", "F17"],
)
def j13_vocab_broadcast_lookup(spark, sf_dir):
    """Broadcast SKOS-style vocab lookup with static-map fallback (ref
    /root/reference/cam/etl/__init__.py:65-71, etl_qrt.py:139-149)."""
    from cam_etl_spark.operators.vocab import lookup_concept, vocab_df

    o = t(spark, sf_dir, "orders")
    vocab = vocab_df(
        spark,
        {
            "1-URGENT": "https://example.org/def/priority/urgent",
            "2-HIGH": "https://example.org/def/priority/high",
            "3-MEDIUM": "https://example.org/def/priority/medium",
            "5-LOW": "https://example.org/def/priority/low",
        },
    )
    out = lookup_concept(
        o,
        vocab,
        "o_orderpriority",
        out_col="priority_iri",
        static_map={"4-NOT SPECIFIED": "https://example.org/def/priority/unspecified"},
    )
    return out.select(F.col("o_orderkey").alias("orderkey"), "priority_iri")


# ---------------------------------------------------------------------------
# Aggregations (SURVEY §2.4)
# ---------------------------------------------------------------------------


@register(
    "a1_scalar_count",
    "SELECT count(*) AS n_rows FROM lineitem",
    tags=["A1"],
)
def a1_scalar_count(spark, sf_dir):
    """Scalar reconciliation count (ref /root/reference/etl-notes.md:264-268)."""
    return t(spark, sf_dir, "lineitem").agg(F.count("*").alias("n_rows"))


@register(
    "a2_count_distinct",
    """
    SELECT count(*) AS n_rows,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_supps,
           count(DISTINCT l_orderkey) AS n_orders
    FROM lineitem
    """,
    tags=["A2"],
)
def a2_count_distinct(spark, sf_dir):
    """count(distinct x) reconciliation (ref
    /root/reference/etl-queries.md:78-81,158-163)."""
    li = t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


@register(
    "a4_having_duplicates",
    """
    SELECT lang, source, count(*) AS n_docs, min(doc_id) AS first_doc
    FROM documents GROUP BY 1, 2 HAVING count(*) > 1
    """,
    tags=["A4"],
)
def a4_having_duplicates(spark, sf_dir):
    """GROUP BY … HAVING count>1 duplicate detection (ref
    /root/reference/etl-notes.md:486-510,787-803)."""
    d = t(spark, sf_dir, "documents")
    return (
        d.groupBy("lang", "source")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("first_doc"))
        .filter(F.col("n_docs") > 1)
    )


@register(
    "a6_distinct_enum",
    "SELECT DISTINCT event_type FROM events ORDER BY event_type",
    tags=["A6", "W3"],
)
def a6_distinct_enum(spark, sf_dir):
    """Distinct-value enumeration for pre-validation gates (ref
    /root/reference/etl_pndb_pre_validate.py:32-44)."""
    return t(spark, sf_dir, "events").select("event_type").distinct().orderBy("event_type")


# ---------------------------------------------------------------------------
# Windows / top-k / sort / limit (SURVEY §2.5)
# ---------------------------------------------------------------------------


@register(
    "w1_history_sequencing",
    """
    SELECT event_id,
           row_number() OVER w AS seq,
           lag(event_id) OVER w AS prev_id,
           CASE WHEN row_number() OVER w = count(*) OVER (PARTITION BY user_id)
                THEN 1 ELSE 0 END AS is_current
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    tags=["W1", "T11"],
    bench=True,
)
def w1_history_sequencing(spark, sf_dir):
    """Version/history sequencing: order within entity, link each stage to
    its predecessor, flag the last as current (ref
    /root/reference/cam/tables/lf_address_history.py:50,85-141)."""
    from cam_etl_spark.operators.history import sequence_history

    e = t(spark, sf_dir, "events")
    out = sequence_history(e, "user_id", "ts", "event_id")
    return out.select(
        "event_id",
        "seq",
        "prev_id",
        F.when(F.col("is_current"), 1).otherwise(0).alias("is_current"),
    )


@register(
    "w2_topk_per_key",
    """
    SELECT custkey, orderkey, rank FROM (
      SELECT o_custkey AS custkey, o_orderkey AS orderkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rank
      FROM orders)
    WHERE rank <= 3
    """,
    tags=["W2", "W4"],
)
def w2_topk_per_key(spark, sf_dir):
    """Per-key top-k (the KNN candidate-cap window, ref
    /root/reference/etl_lalf_road_qrt_spatial_match.py:83-87)."""
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(F.col("o_custkey").alias("custkey"), F.col("o_orderkey").alias("orderkey"), "rank")
    )


@register(
    "w3_global_sort_limit",
    """
    SELECT o_orderkey AS orderkey, round(o_totalprice, 2) AS totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
    tags=["W3", "W4"],
)
def w3_global_sort_limit(spark, sf_dir):
    """Global sort + LIMIT with deterministic tie-break (ref
    /root/reference/etl-notes.md:469,510)."""
    o = t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select(F.col("o_orderkey").alias("orderkey"), F.round("o_totalprice", 2).alias("totalprice"))
    )


# ---------------------------------------------------------------------------
# Set operations (SURVEY §2.6)
# ---------------------------------------------------------------------------


@register(
    "u1_union_distinct",
    """
    SELECT nationkey, role FROM (
      SELECT DISTINCT c_nationkey AS nationkey, 'customer' AS role FROM customer
      UNION
      SELECT DISTINCT s_nationkey AS nationkey, 'supplier' AS role FROM supplier)
    """,
    tags=["U1", "U2"],
)
def u1_union_distinct(spark, sf_dir):
    """Union of part-outputs + set-semantics dedup (ref
    /root/reference/compound.py:8-16, oxigraph store add idempotence)."""
    c, s = t(spark, sf_dir, "customer"), t(spark, sf_dir, "supplier")
    a = c.select(F.col("c_nationkey").alias("nationkey"), F.lit("customer").alias("role"))
    b = s.select(F.col("s_nationkey").alias("nationkey"), F.lit("supplier").alias("role"))
    return a.unionByName(b).dropDuplicates()


# ---------------------------------------------------------------------------
# Scalar-function pack (SURVEY §2.7)
# ---------------------------------------------------------------------------


@register(
    "f_string_normalize",
    """
    SELECT p_partkey AS partkey,
           trim(regexp_replace(upper(p_name), '\\s+', ' ', 'g')) AS name_norm,
           regexp_replace(lower(trim(p_name)), '\\s+', '-', 'g') AS slug,
           concat(p_brand, ' ', upper(p_type)) AS display_label
    FROM part
    """,
    tags=["F1", "F2", "F3", "F4", "F11"],
)
def f_string_normalize(spark, sf_dir):
    """String cleanup pipeline: concat, whitespace collapse, upper, slugify
    (ref /root/reference/etl-notes.md:84-110, etl_qrt.py:36-45)."""
    from cam_etl_spark.functions.strings import collapse_ws, slugify

    p = t(spark, sf_dir, "part")
    return p.select(
        F.col("p_partkey").alias("partkey"),
        collapse_ws(F.upper("p_name")).alias("name_norm"),
        slugify(F.col("p_name")).alias("slug"),
        F.concat(F.col("p_brand"), F.lit(" "), F.upper("p_type")).alias("display_label"),
    )


@register(
    "f7_packed_timestamp",
    """
    SELECT event_id,
           strftime(ts, '%Y%m%d%H%M%S') AS packed,
           strftime(strptime(strftime(ts, '%Y%m%d%H%M%S'), '%Y%m%d%H%M%S'),
                    '%Y-%m-%d %H:%M:%S') AS reparsed
    FROM events
    """,
    tags=["F7", "F8"],
)
def f7_packed_timestamp(spark, sf_dir):
    """Packed-numeric timestamp parse round-trip (ref
    /root/reference/cam/tables/lf_address_history.py:38-39)."""
    from cam_etl_spark.functions.temporal import parse_packed_ts

    e = t(spark, sf_dir, "events")
    packed = F.date_format("ts", "yyyyMMddHHmmss")
    return e.select(
        "event_id",
        packed.alias("packed"),
        F.date_format(parse_packed_ts(packed), "yyyy-MM-dd HH:mm:ss").alias("reparsed"),
    )


def _f10_oracle() -> str:
    """DuckDB 1.0 has no sha1, but uuid5 is a *deterministic* function of
    the fixture keys (customer.c_custkey is contiguous 0..N-1 at every
    testdata sf), so the oracle carries a precomputed CPython
    ``uuid.uuid5`` VALUES fixture covering 0..14999 (sf0.1's domain) and
    left-joins the live table against it — a real hash-checked row instead
    of rows-only. Computed once at registration (~0.1 s, ~700 KB string);
    the driver consumes the string via oracle_sql() immediately anyway, so
    laziness would only complicate the Query contract. Beyond the fixture
    domain the SQL substitutes an explicit sentinel, so an oversized sf
    fails loudly instead of comparing NULLs."""
    import uuid as _uuid

    ns = _uuid.UUID("6ba7b811-9dad-11d1-80b4-00c04fd430c8")
    rows = ",".join(f"({k},'{_uuid.uuid5(ns, str(k))}')" for k in range(15000))
    return f"""
    WITH fixture(k, u) AS (VALUES {rows})
    -- fixture domain is custkey 0..14999 (covers testdata up to sf0.1);
    -- beyond it the sentinel below makes the mismatch self-explanatory
    -- instead of silently comparing NULLs against correct Spark output
    SELECT c.c_custkey AS custkey,
           coalesce(f.u, 'FIXTURE-DOMAIN-EXCEEDED-REGENERATE-_f10_oracle') AS uuid5,
           concat('https://linked.data.gov.au/dataset/qld-addr/address/',
                  coalesce(f.u, 'FIXTURE-DOMAIN-EXCEEDED-REGENERATE-_f10_oracle')) AS iri
    FROM customer c LEFT JOIN fixture f ON f.k = c.c_custkey
    """


@register(
    "f10_uuid5_minting",
    _f10_oracle,  # callable: built lazily at oracle_sql() time (~700 KB)
    tags=["F10"],
)
def f10_uuid5_minting(spark, sf_dir):
    """Deterministic UUIDv5 IRI minting, bit-exact with uuid.uuid5 (ref
    /root/reference/cam/etl/lalf_address.py:6-27) but computed natively via
    sha1 + hex surgery — no Python in the hot path."""
    import uuid as _uuid

    from cam_etl_spark.functions.ids import uuid5_expr

    ns = _uuid.UUID("6ba7b811-9dad-11d1-80b4-00c04fd430c8")  # RFC 4122 URL namespace
    c = t(spark, sf_dir, "customer")
    u = uuid5_expr(ns, F.col("c_custkey").cast("string"))
    return c.select(
        F.col("c_custkey").alias("custkey"),
        u.alias("uuid5"),
        F.format_string("https://linked.data.gov.au/dataset/qld-addr/address/%s", u).alias("iri"),
    )


@register(
    "f12_stable_hash_bnode",
    """
    SELECT n_nationkey AS nationkey,
           ('0x' || substr(md5(n_name), 1, 15))::bigint AS hash60,
           concat('b', md5(concat(n_name, chr(31), 'nation'))) AS bnode_id
    FROM nation
    """,
    tags=["F12"],
)
def f12_stable_hash_bnode(spark, sf_dir):
    """Stable cross-engine hashing replacing Python hash() bnode ids (ref
    /root/reference/cam/etl/__init__.py:85-87; SURVEY §7.3 determinism)."""
    from cam_etl_spark.functions.ids import portable_hash60, stable_bnode_id

    n = t(spark, sf_dir, "nation")
    return n.select(
        F.col("n_nationkey").alias("nationkey"),
        portable_hash60(F.col("n_name")).alias("hash60"),
        stable_bnode_id(F.col("n_name"), F.lit("nation")).alias("bnode_id"),
    )


@register(
    "f13_wkt_point",
    """
    SELECT s_suppkey AS suppkey,
           concat('POINT (', (138 + (s_suppkey * 37) % 1600 / 100.0)::varchar,
                  ' ', (-29 + (s_suppkey * 53) % 1900 / 100.0)::varchar, ')') AS wkt
    FROM supplier
    """,
    tags=["F13", "F14"],
)
def f13_wkt_point(spark, sf_dir):
    """WKT point literal construction (ref
    /root/reference/etl_lalf_geocode.py:71-74): lon/lat synthesized
    deterministically from the key."""
    from cam_etl_spark.functions.spatial import wkt_point

    s = t(spark, sf_dir, "supplier")
    lon = F.lit(138) + (F.col("s_suppkey") * 37 % 1600) / 100.0
    lat = F.lit(-29) + (F.col("s_suppkey") * 53 % 1900) / 100.0
    return s.select(F.col("s_suppkey").alias("suppkey"), wkt_point(lon, lat).alias("wkt"))


@register(
    "f17_code_mapping",
    """
    SELECT CASE upper(trim(o_orderpriority))
             WHEN '1-URGENT' THEN 'https://example.org/def/urgency/critical'
             WHEN '2-HIGH' THEN 'https://example.org/def/urgency/critical'
             WHEN '3-MEDIUM' THEN 'https://example.org/def/urgency/normal'
             ELSE 'https://example.org/def/urgency/relaxed'
           END AS urgency_iri,
           count(*) AS n_orders
    FROM orders GROUP BY 1
    """,
    tags=["F17"],
)
def f17_code_mapping(spark, sf_dir):
    """Multi-branch code→IRI mapping as a when-chain (ref
    /root/reference/etl_pndb.py:163-175, etl_lalf_address.py:313-367)."""
    o = t(spark, sf_dir, "orders")
    code = F.upper(F.trim("o_orderpriority"))
    iri = (
        F.when(code.isin("1-URGENT", "2-HIGH"), "https://example.org/def/urgency/critical")
        .when(code == "3-MEDIUM", "https://example.org/def/urgency/normal")
        .otherwise("https://example.org/def/urgency/relaxed")
    )
    return o.select(iri.alias("urgency_iri")).groupBy("urgency_iri").agg(
        F.count("*").alias("n_orders")
    )


@register(
    "f18_label_assembly",
    """
    SELECT o_orderkey AS orderkey,
           concat(
             CASE WHEN o_orderstatus = 'O' THEN 'OPEN/' ELSE '' END,
             upper(o_orderpriority),
             ' ', strftime(o_orderdate, '%Y-%m-%d'),
             CASE WHEN o_totalprice > 200000 THEN ' *' ELSE '' END
           ) AS display_label
    FROM orders
    """,
    tags=["F18", "F19", "T13"],
)
def f18_label_assembly(spark, sf_dir):
    """Conditional display-label assembly with exact spacing/punctuation —
    the composite address label (ref
    /root/reference/etl_lalf_address.py:676-686; SURVEY §7.3 locks the
    byte-format)."""
    o = t(spark, sf_dir, "orders")
    label = F.concat(
        F.when(F.col("o_orderstatus") == "O", "OPEN/").otherwise(""),
        F.upper("o_orderpriority"),
        F.lit(" "),
        F.date_format("o_orderdate", "yyyy-MM-dd"),
        F.when(F.col("o_totalprice") > 200000, " *").otherwise(""),
    )
    return o.select(F.col("o_orderkey").alias("orderkey"), label.alias("display_label"))
