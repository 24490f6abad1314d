"""Catalog part 3: the downstream query surface (SURVEY §3.3) plus §2
entries not yet covered — the queries a user of the reference's web app /
search API runs over the produced quad graph, re-expressed as Spark SQL over
the quad DataFrame (the quad table IS the triple store here, SURVEY S6).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from cam_etl_spark.plans.catalog import (
    CHECKPOINT_PLAN,
    PIPELINE_PLAN,
    fixture_dir,
    lat_sql,
    lon_sql,
    register,
    t,
    widen,
    widen_table,
)
from cam_etl_spark.plans.oracle_sql import (
    ADDRESS_SITES,
    COSINE,
    COSINE_RANKED,
    COSINE_TOP5,
    HEAVY_HITTERS,
    JACCARD_FILTER,
    LSH_RECALL_OK,
    TERMS,
    shingle_inter,
)
from cam_etl_spark.quads import dedup_quads, fan_out_sql, quad_sql
from cam_etl_spark.streaming.transforms import file_stream

_G = "urn:example:graph:customers"
_RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
_SDO_NAME = "https://schema.org/name"
_HAS_PART = "https://schema.org/hasPart"
_ADD_TYPE = "https://schema.org/additionalType"
_VALUE = "https://schema.org/value"


def _customer_compound_quads(spark, sf_dir):
    """Quad graph for §3.3 queries: each customer node has sdo:name plus
    hasPart → bnode parts carrying (additionalType, value) — the compound-
    naming shape the GraphDB ``getLiteralComponents`` function flattens
    (ref /root/reference/cam/compound_naming.py:7-35)."""
    c = t(spark, sf_dir, "customer")
    # quad_sql/fan_out_sql: the whole 8-template fan-out parses as ONE
    # expression (one py4j round-trip; several §3.3 queries rebuild this
    # graph per run).
    subj = "format_string('https://example.org/customer/%s', c_custkey)"

    def part(kind: str, value_sql: str):
        bnode = f"format_string('_:c%s-{kind}', c_custkey)"
        return [
            quad_sql(subj, _HAS_PART, bnode, "bnode", graph=_G),
            quad_sql(bnode, _ADD_TYPE, f"'{kind}'", "literal", graph=_G),
            quad_sql(bnode, _VALUE, value_sql, "literal", graph=_G,
                     cond=f"{value_sql} IS NOT NULL"),
        ]

    quads = fan_out_sql(
        c,
        quad_sql(subj, _RDF_TYPE, "'https://schema.org/Person'", "iri", graph=_G),
        quad_sql(subj, _SDO_NAME, "c_name", "literal", graph=_G),
        *part("segment", "c_mktsegment"),
        *part("nation", "c_nationkey"),
    )
    return quads


_ORACLE_COMPOUND = """
    WITH quads(subject, predicate, object_value) AS (
      SELECT concat('https://example.org/customer/', c_custkey),
             'https://schema.org/hasPart', concat('_:c', c_custkey, '-segment') FROM customer
      UNION ALL
      SELECT concat('https://example.org/customer/', c_custkey),
             'https://schema.org/hasPart', concat('_:c', c_custkey, '-nation') FROM customer
      UNION ALL
      SELECT concat('_:c', c_custkey, '-segment'),
             'https://schema.org/additionalType', 'segment' FROM customer
      UNION ALL
      SELECT concat('_:c', c_custkey, '-nation'),
             'https://schema.org/additionalType', 'nation' FROM customer
      UNION ALL
      SELECT concat('_:c', c_custkey, '-segment'),
             'https://schema.org/value', c_mktsegment
      FROM customer WHERE c_mktsegment IS NOT NULL
      UNION ALL
      SELECT concat('_:c', c_custkey, '-nation'),
             'https://schema.org/value', c_nationkey::varchar
      FROM customer WHERE c_nationkey IS NOT NULL
    )
"""


@register(
    "surface_component_flattening",
    _ORACLE_COMPOUND
    + """
    SELECT p.subject AS node,
           ty.object_value AS component_type,
           v.object_value AS component_value
    FROM quads p
    JOIN quads ty ON ty.subject = p.object_value
               AND ty.predicate = 'https://schema.org/additionalType'
    JOIN quads v ON v.subject = p.object_value
               AND v.predicate = 'https://schema.org/value'
    WHERE p.predicate = 'https://schema.org/hasPart'
      AND p.subject <= 'https://example.org/customer/99'
    """,
    tags=["S6", "query-surface"],
    bench=True,
    plan={**PIPELINE_PLAN, "Exchange hashpartitioning": (0, 0), "BroadcastHashJoin": (2, None)},
)
def surface_component_flattening(spark, sf_dir):
    """GraphDB func:getLiteralComponents as two quad self-joins: hasPart
    edge → part bnode → (additionalType, value) pairs
    (ref /root/reference/cam/compound_naming.py:7-35, SURVEY §3.3.1). The
    predicate filters prune each scan before the joins."""
    quads = _customer_compound_quads(spark, sf_dir)
    parts = quads.filter(F.col("predicate") == _HAS_PART).select(
        F.col("subject").alias("node"), F.col("object_value").alias("part")
    )
    types = quads.filter(F.col("predicate") == _ADD_TYPE).select(
        F.col("subject").alias("part"), F.col("object_value").alias("component_type")
    )
    vals = quads.filter(F.col("predicate") == _VALUE).select(
        F.col("subject").alias("part"), F.col("object_value").alias("component_value")
    )
    return (
        parts.join(types, "part")
        .join(vals, "part")
        .filter(F.col("node") <= "https://example.org/customer/99")
        .select("node", "component_type", "component_value")
    )


@register(
    "surface_prefix_search",
    """
    WITH names AS (
      SELECT concat('https://example.org/customer/', c_custkey) AS node,
             c_name AS label
      FROM customer)
    SELECT node, label FROM names
    WHERE lower(label) LIKE 'customer#00000012%'
    ORDER BY label, node LIMIT 20
    """,
    tags=["S11", "W3", "W4", "F5", "query-surface"],
)
def surface_prefix_search(spark, sf_dir):
    """Autocomplete over sdo:name literals — the GraphDB/Lucene FTS shape
    (ref /root/reference/cam/web/app.py:37-44, /root/reference/fuseki/qali.ttl:62-79)
    as a predicate-pruned scan + prefix filter + ordered limit. At scale the
    name literals are a partitioned projection of the quad table, so the
    filter pushes to the parquet scan."""
    quads = _customer_compound_quads(spark, sf_dir)
    return (
        quads.filter(F.col("predicate") == _SDO_NAME)
        .select(F.col("subject").alias("node"), F.col("object_value").alias("label"))
        .filter(F.lower(F.col("label")).like("customer#00000012%"))
        .orderBy("label", "node")
        .limit(20)
    )


@register(
    "surface_faceted_paging",
    """
    WITH base AS (
      SELECT c.c_name AS label, o.o_orderstatus AS status, o.o_orderkey
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE o.o_orderpriority = '2-HIGH'),
    page AS (
      SELECT label, status, o_orderkey,
             row_number() OVER (ORDER BY label, o_orderkey) AS rn
      FROM base WHERE status = 'F')
    SELECT label, status, o_orderkey AS orderkey FROM page
    WHERE rn BETWEEN 11 AND 20
    """,
    tags=["S11", "W4", "query-surface"],
)
def surface_faceted_paging(spark, sf_dir):
    """The faceted search API page query: query filter + tag-facet (status)
    + sort + offset/limit paging (ref /root/reference/meili/main.py:92-180,
    SURVEY §3.3.3). Paging = ORDER BY + OFFSET/LIMIT, which Spark executes
    as TakeOrderedAndProject(limit=offset+size): every partition keeps only
    its local top-(offset+size) rows and the driver merges — no
    single-partition row_number window, no full-result shuffle. (Page depth
    still costs offset+size; the documented at-scale API for deep scroll is
    keyset pagination on (label, orderkey).)"""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "2-HIGH")
    c = t(spark, sf_dir, "customer")
    base = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_name").alias("label"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderkey").alias("orderkey"),
    )
    return (
        base.filter(F.col("status") == "F")
        .orderBy("label", "orderkey")
        .offset(10)
        .limit(10)
    )


@register(
    "surface_facet_counts",
    """
    SELECT o_orderstatus AS status, count(*) AS n
    FROM orders WHERE o_orderpriority = '2-HIGH'
    GROUP BY 1
    """,
    tags=["A3", "query-surface"],
)
def surface_facet_counts(spark, sf_dir):
    """Facet tag counts (A3 GROUP BY + count — the parcels-by-status probe,
    ref /root/reference/etl-notes.md:370-378): partial-agg map-side, one
    shuffle on the low-cardinality facet key."""
    return (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "2-HIGH")
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(F.count("*").alias("n"))
    )


@register(
    "u2_quad_set_dedup",
    """
    WITH quads(subject, predicate, object_value) AS (
      -- re-emitted per customer, exactly like the parcel quads re-emitted
      -- per address in the reference — duplicates by construction
      SELECT concat('https://example.org/nation/', c_nationkey),
             'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
             'https://schema.org/Country'
      FROM customer
      UNION ALL
      SELECT concat('https://example.org/customer/', c_custkey),
             'https://example.org/def/nation',
             concat('https://example.org/nation/', c_nationkey)
      FROM customer
    )
    SELECT count(*) AS raw_quads,
           count(DISTINCT (subject, predicate, object_value)) AS distinct_quads
    FROM quads
    """,
    tags=["U2", "A1"],
)
def u2_quad_set_dedup(spark, sf_dir):
    """Quad set-semantics: the Oxigraph store dedupes identical quads on add
    — the parcel node is re-emitted for every address on it and collapses to
    one (ref /root/reference/etl_lalf_address.py:263,303-305); Spark
    equivalent is a global dropDuplicates over (s,p,o,g) before the sink
    (SURVEY U2). The nation-type quad here is emitted once per customer and
    must dedupe to one per nation."""
    c = t(spark, sf_dir, "customer")
    nation_iri = "format_string('https://example.org/nation/%s', c_nationkey)"
    quads = fan_out_sql(
        c,
        quad_sql(nation_iri, _RDF_TYPE, "'https://schema.org/Country'", "iri"),
        quad_sql("format_string('https://example.org/customer/%s', c_custkey)",
                 "https://example.org/def/nation", nation_iri, "iri"),
    )
    raw = quads.agg(F.count("*").alias("raw_quads"))
    distinct = dedup_quads(quads).agg(F.count("*").alias("distinct_quads"))
    return raw.crossJoin(distinct)


@register(
    "t12_skos_vocab_fanout",
    """
    WITH quads AS (
      SELECT 'https://example.org/def/region' AS subject,
             'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS predicate,
             'http://www.w3.org/2004/02/skos/core#ConceptScheme' AS object_value
      UNION ALL
      SELECT concat('https://example.org/def/region/', lower(replace(r_name, ' ', '-'))),
             'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
             'http://www.w3.org/2004/02/skos/core#Concept'
      FROM region
      UNION ALL
      SELECT concat('https://example.org/def/region/', lower(replace(r_name, ' ', '-'))),
             'http://www.w3.org/2004/02/skos/core#prefLabel', r_name
      FROM region
      UNION ALL
      SELECT concat('https://example.org/def/region/', lower(replace(r_name, ' ', '-'))),
             'http://www.w3.org/2004/02/skos/core#inScheme',
             'https://example.org/def/region'
      FROM region
    )
    SELECT subject, predicate, object_value FROM quads
    """,
    tags=["T12", "F11"],
)
def t12_skos_vocab_fanout(spark, sf_dir):
    """Code table → SKOS ConceptScheme (T12: lf_status/unit/level types →
    skos:Concept + prefLabel + inScheme, ref
    /root/reference/cam/tables/lf_status.py:68-131) with slugified concept
    IRIs (F11, ref /root/reference/etl_qrt.py:36-45)."""
    from cam_etl_spark.functions.strings import slugify

    scheme = "https://example.org/def/region"
    r = t(spark, sf_dir, "region").withColumn(
        "concept", F.format_string("%s/%s", F.lit(scheme), slugify(F.col("r_name")))
    )
    skos = "http://www.w3.org/2004/02/skos/core#"
    quads = fan_out_sql(
        r,
        quad_sql(f"'{scheme}'", _RDF_TYPE, f"'{skos}ConceptScheme'", "iri"),
        quad_sql("concept", _RDF_TYPE, f"'{skos}Concept'", "iri"),
        quad_sql("concept", skos + "prefLabel", "r_name", "literal"),
        quad_sql("concept", skos + "inScheme", f"'{scheme}'", "iri"),
    )
    return dedup_quads(quads).select("subject", "predicate", "object_value")


@register(
    "f19_f20_concat_coalesce",
    """
    SELECT o_orderkey AS orderkey,
           concat_ws(chr(10) || chr(10),
                     nullif(o_orderpriority, 'NONE'),
                     nullif(o_orderstatus, 'O'),
                     'priced ' || round(o_totalprice, 0)::bigint::varchar) AS note,
           coalesce(nullif(o_orderstatus, 'O'), o_orderpriority) AS status_or_priority
    FROM orders WHERE o_orderkey % 97 = 0
    """,
    tags=["F19", "F20"],
)
def f19_f20_concat_coalesce(spark, sf_dir):
    """History-note concatenation with null-skip separators (F19, ref
    /root/reference/etl_pndb.py:250-261 — concat_ws skips nulls natively)
    plus first-non-null coalesce fallback (F20, ref
    /root/reference/etl_lalf_address.py:677)."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 97 == 0)
    return o.select(
        F.col("o_orderkey").alias("orderkey"),
        F.concat_ws(
            "\n\n",
            F.nullif(F.col("o_orderpriority"), F.lit("NONE")),
            F.nullif(F.col("o_orderstatus"), F.lit("O")),
            F.format_string("priced %d", F.round("o_totalprice", 0).cast("long")),
        ).alias("note"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.col("o_orderpriority")).alias(
            "status_or_priority"
        ),
    )


@register(
    "j12_descendants_closure",
    """
    WITH RECURSIVE edges(id, parent_id) AS (
      SELECT c_custkey, c_custkey // 8 FROM customer WHERE c_custkey >= 8
    ), r(id, ancestor_id, distance) AS (
      SELECT id, parent_id, 1 FROM edges
      UNION ALL
      SELECT r.id, e.parent_id, r.distance + 1
      FROM r JOIN edges e ON r.ancestor_id = e.id
    )
    SELECT id, ancestor_id, distance FROM r WHERE id < 200
    """,
    tags=["J12"],
)
def j12_descendants_closure(spark, sf_dir):
    """Full transitive ancestor closure — the recursive-CTE output shape
    (ref /root/reference/etl-notes.md:663-722) via the iterative frontier
    loop with localCheckpoint per level (lineage stays bounded; each level
    is one shuffle join)."""
    from cam_etl_spark.operators.hierarchy import descendants_closure

    c = t(spark, sf_dir, "customer")
    edges = c.select(
        F.col("c_custkey").alias("id"),
        F.when(F.col("c_custkey") >= 8, F.floor(F.col("c_custkey") / 8).cast("long")).alias(
            "parent_id"
        ),
    )
    return descendants_closure(edges, "id", "parent_id").filter(F.col("id") < 200)


@register(
    "stream_session_window",
    """
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 10 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    sess AS (
      SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sess_no
      FROM marked)
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*) AS n_events,
           round(sum(value), 4) AS total_value
    FROM sess GROUP BY user_id, sess_no
    """,
    tags=["streaming", "session-window"],
    bench=True,
    plan={**PIPELINE_PLAN, "Exchange hashpartitioning": (0, 1)},
)
def stream_session_window(spark, sf_dir):
    """Gap-based sessionization via native session_window (batch semantics
    == streaming semantics with a watermark; the streaming path is
    pytest-verified). Oracle: gaps-and-islands lag/cumsum SQL — the two
    formulations must agree row-for-row."""
    from cam_etl_spark.streaming.stateful import session_stats

    e = t(spark, sf_dir, "events")
    return session_stats(e, gap="10 minutes")


@register(
    "ann_ivf_topk",
    LSH_RECALL_OK,
    tags=["ann", "similarity-ivf"],
    bench=True,
    plan={**CHECKPOINT_PLAN, "Exchange hashpartitioning": (0, 2), "BroadcastHashJoin": (2, None)},
)
def ann_ivf_topk(spark, sf_dir):
    """IVF ANN: corpus bucketed by nearest-of-16 sampled centroids, queries
    probe their 4 nearest lists — candidate volume ≈ corpus/4 per query
    instead of a full scan; the centroid_id equi-join is the only wide op.

    Approximate by construction (probing 4/16 lists scans ~25% of a corpus
    whose embeddings are near-uniform), so the oracle-checked statement is
    a RECALL INVARIANT: every query's IVF top-5 contains ≥1 of the exact
    top-5 — the measured deterministic minimum across sf0.001/0.01/0.1
    (hash-seeded centroid draw → fixed per corpus). The oracle pins
    recall_ok per query; ``ann_ivf_exact_probe`` separately proves the IVF
    machinery is lossless when n_probe == n_centroids."""
    from cam_etl_spark.operators.similarity import knn_brute_cosine, knn_ivf_cosine

    # ONE materialization of the widened corpus serves all four consumers
    # (brute side, query filter, centroid draw, ivf assignment) — the
    # un-checkpointed plan re-read and re-widened the parquet scan 4x
    # (4 "Scan parquet" -> 1). Query-level only: this entry is
    # the exact-vs-IVF recall harness, which inherently runs BOTH paths
    # over the same corpus in one build; the serving-shape answer at
    # 100 TB remains ann_ivf_bucketed_serve (pay the corpus shuffle once
    # at index build), not a block-manager copy.
    emb = widen_table(spark, sf_dir, "embeddings").localCheckpoint(eager=True)
    queries = emb.filter(F.col("vec_id") < 10)
    exact = knn_brute_cosine(emb, queries, k=5)
    approx = knn_ivf_cosine(emb, queries, k=5, n_centroids=16, n_probe=4)
    # approx is bounded by construction (<= k rows per query, <= 10
    # queries) — broadcast the semi join instead of letting size
    # estimates pick a sort-merge join (2 exchanges + 2 sorts on two
    # ~50-row frames).
    hits = exact.join(F.broadcast(approx), ["query_id", "neighbor_id"], "left_semi")
    return (
        hits.groupBy("query_id")
        .agg(F.count("*").alias("n_hit"))
        .select(
            "query_id",
            F.lit(5).alias("n_exact"),
            (F.col("n_hit") >= 1).alias("recall_ok"),
        )
    )


@register(
    "ann_ivf_exact_probe",
    COSINE_TOP5,
    tags=["ann", "similarity-ivf"],
)
def ann_ivf_exact_probe(spark, sf_dir):
    """IVF with n_probe == n_centroids: every list is probed, so the result
    is PROVABLY exact (candidates = whole corpus) and carries the same
    full-value brute-force oracle as ann_cosine_topk. This pins the whole
    IVF pipeline — hash-sampled centroid draw, broadcast assignment,
    probe equi-join, dedup, rank — as lossless: any dropped/duplicated
    candidate or ranking drift is a hash-fail here even though the
    approximate entry only asserts a recall bound."""
    from cam_etl_spark.operators.similarity import knn_ivf_cosine

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return knn_ivf_cosine(emb, queries, k=5, n_centroids=16, n_probe=16)


@register(
    "ann_ivf_bucketed_serve",
    f"""
    WITH q AS (
      SELECT vec_id, embedding, 'a' AS batch FROM embeddings WHERE vec_id % 37 = 0
      UNION ALL
      SELECT vec_id, embedding, 'b' AS batch FROM embeddings WHERE vec_id % 41 = 0),
    pairs AS (
      SELECT q.batch, q.vec_id AS query_id, c.vec_id AS neighbor_id,
             q.embedding AS qe, c.embedding AS ce
      FROM q CROSS JOIN embeddings c
      WHERE q.vec_id <> c.vec_id),
    scored AS (
      SELECT batch, query_id, neighbor_id,
             {COSINE}
      FROM pairs),
    ranked AS (
      SELECT batch, query_id, neighbor_id, round(cosine, 6) AS cosine,
             row_number() OVER (PARTITION BY batch, query_id
                                ORDER BY round(cosine, 6) DESC, neighbor_id) AS rank
      FROM scored)
    SELECT batch, query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 3
    """,
    tags=["ann", "similarity-ivf", "bucketed-serving"],
)
def ann_ivf_bucketed_serve(spark, sf_dir):
    """IVF SERVING over a bucketed index (the SCALE.md repeated-probe
    path): the corpus is assigned to centroid lists and written ONCE as a
    parquet table bucketed on centroid_id (build_ivf_bucketed), then TWO
    independent probe batches join the stored layout — the corpus-wide
    shuffle is paid at build time, never per batch (probe plans carry no
    corpus Exchange; tests/test_sources.py pins the fully exchange-free
    two-sided-bucketed variant). Probes run with n_probe == n_centroids,
    so the result is provably exact and the oracle is plain brute-force
    SQL per batch — any loss in the build→store→read-back→probe cycle
    (bucketing layout, schema round-trip, list assignment) hash-fails."""
    import hashlib

    from cam_etl_spark.operators.similarity import (
        build_ivf_bucketed,
        knn_ivf_probe_bucketed,
    )

    emb = t(spark, sf_dir, "embeddings")
    digest = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    table = f"ivf_serve_{digest}"
    cents = build_ivf_bucketed(
        emb,
        table,
        n_centroids=8,
        num_buckets=8,
        path=f"/tmp/cam_etl_spark_ivf/{digest}",
    )
    out = None
    for batch, mod in (("a", 37), ("b", 41)):
        probes = knn_ivf_probe_bucketed(
            spark,
            table,
            cents,
            emb.filter(F.col("vec_id") % mod == 0),
            k=3,
            n_probe=8,
        ).select(F.lit(batch).alias("batch"), "*")
        out = probes if out is None else out.unionByName(probes)
    return out


@register(
    "dedup_chunk_level",
    """
    WITH toks AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN []::varchar[]
                  ELSE string_split_regex(trim(text), '\\s+') END AS tk
      FROM documents),
    chunks AS (
      SELECT doc_id,
             md5(array_to_string(tk[(i*20 + 1):(i*20 + 20)], ' ')) AS h
      FROM toks,
           unnest(range(0, cast(ceil(len(tk) / 20.0) AS int))) AS u(i)),
    cnt AS (SELECT h, count(*) AS c FROM chunks GROUP BY h),
    perdoc AS (
      SELECT ch.doc_id,
             count(*)::bigint AS n_chunks,
             sum(CASE WHEN cnt.c > 1 THEN 1 ELSE 0 END)::bigint AS n_dup_chunks
      FROM chunks ch JOIN cnt USING (h)
      GROUP BY ch.doc_id)
    SELECT t.doc_id,
           coalesce(p.n_chunks, 0)::bigint AS n_chunks,
           coalesce(p.n_dup_chunks, 0)::bigint AS n_dup_chunks,
           round(CASE WHEN coalesce(p.n_chunks, 0) = 0 THEN 0.0
                      ELSE p.n_dup_chunks::double / p.n_chunks END, 6)
               AS dup_chunk_frac
    FROM toks t LEFT JOIN perdoc p USING (doc_id)
    """,
    tags=["dedup", "chunk-level", "ccnet"],
    bench=True,
    plan={**PIPELINE_PLAN, "Exchange hashpartitioning": (0, 2), "BroadcastHashJoin": (2, None)},
)
def dedup_chunk_level(spark, sf_dir):
    """Sub-document (chunk-level) deduplication — the CCNet/RefinedWeb
    line-dedup shape: documents split into fixed 20-token chunks, each
    chunk fingerprinted, fingerprints counted CORPUS-WIDE, and every doc
    scored by its fraction of chunks that appear elsewhere (boilerplate /
    template detection that document-level dedup cannot see). Scale shape:
    explode ×(len/20), one hash groupBy with map-side combine, one
    equi-join back on the fingerprint — the canonical linear-cost
    line-dedup pipeline; no pairwise comparisons anywhere. The corpus's
    planted duplicate documents surface as dup_chunk_frac = 1.0."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.expr(
            "CASE WHEN trim(text) = '' THEN array() "
            "ELSE split(trim(text), '\\\\s+') END"
        ).alias("tk"),
    )
    chunks = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(tk) = 0 THEN array() ELSE "
                "transform(sequence(0, cast(ceil(size(tk) / 20.0) AS int) - 1), "
                "i -> md5(array_join(slice(tk, i*20 + 1, 20), ' '))) END"
            )
        ).alias("h"),
    )
    cnt = chunks.groupBy("h").agg(F.count("*").alias("c"))
    perdoc = (
        chunks.join(cnt, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.when(F.col("c") > 1, 1).otherwise(0)).alias("n_dup_chunks"),
        )
    )
    return (
        toks.select("doc_id")
        .join(perdoc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_chunks", F.lit(0)).alias("n_chunks"),
            F.coalesce("n_dup_chunks", F.lit(0)).alias("n_dup_chunks"),
            F.round(
                F.when(F.coalesce("n_chunks", F.lit(0)) == 0, 0.0).otherwise(
                    F.col("n_dup_chunks").cast("double") / F.col("n_chunks")
                ),
                6,
            ).alias("dup_chunk_frac"),
        )
    )


@register(
    "s1_jdbc_live_scan",
    """
    SELECT c_mktsegment AS segment,
           count(*)::bigint AS n_customers,
           round(sum(c_acctbal), 2) AS total_bal
    FROM customer
    WHERE c_acctbal > 0
    GROUP BY c_mktsegment
    """,
    tags=["S1", "S2", "jdbc"],
)
def s1_jdbc_live_scan(spark, sf_dir):
    """S1/S2 against a LIVE database — no simulation: the customer table
    is loaded into embedded Apache Derby (whose JDBC driver ships inside
    Spark's own jars), then read back through the engine's partitioned
    JDBC scan with the predicate pushed into a derived table the DATABASE
    evaluates, and aggregated Spark-side. The oracle aggregates the
    parquet source directly, so a row lost or duplicated anywhere in the
    write→scan→filter cycle (partition-predicate overlap, pushdown
    mangling, type mapping) hash-fails. Replaces the reference's psycopg
    cursor batching (/root/reference/cam/etl/__init__.py:34-52) with
    Spark's parallel partitioned scan: 4 concurrent cursors, bounds from
    the key domain, rows outside the bounds still read exactly once.
    Identifiers are written upper-case (Spark's JDBC sink quotes names;
    Derby folds unquoted query identifiers upper) and strings pinned to
    VARCHAR (Derby's default CLOB mapping cannot be compared/pushed)."""
    import hashlib

    from cam_etl_spark.io import jdbc_scan_options

    digest = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    url = f"jdbc:derby:/tmp/cam_etl_spark_derby/{digest};create=true"
    drv = "org.apache.derby.jdbc.EmbeddedDriver"

    c = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("CUSTKEY"),
        F.col("c_acctbal").alias("ACCTBAL"),
        F.col("c_mktsegment").alias("MKTSEGMENT"),
    )
    n = c.count()
    (
        c.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "CUSTOMER")
        .option("createTableColumnTypes", "MKTSEGMENT VARCHAR(10)")
        .option("driver", drv)
        .mode("overwrite")
        .save()
    )
    opts = jdbc_scan_options(
        url,
        "CUSTOMER",
        partition_column="CUSTKEY",
        num_partitions=4,
        lower_bound=0,
        upper_bound=max(n, 1),
        pushdown_predicate="ACCTBAL > 0",
    )
    opts["driver"] = drv
    db = spark.read.format("jdbc").options(**opts).load()
    return (
        db.groupBy(F.col("MKTSEGMENT").alias("segment"))
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("ACCTBAL"), 2).alias("total_bal"),
        )
    )


_MEGA_ORACLE = """
    WITH mega AS (
      SELECT DISTINCT c.c_custkey AS custkey, n.n_name AS nation,
             r.r_name AS region, o.o_orderkey AS orderkey,
             o.o_totalprice AS totalprice, sp.s_suppkey AS alt_supp
      FROM customer c
      LEFT JOIN supplier sp ON sp.s_suppkey = c.c_custkey
      JOIN orders o ON o.o_custkey = c.c_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      JOIN supplier s2 ON s2.s_nationkey = c.c_nationkey
                      AND s2.s_suppkey % 5 = c.c_custkey % 5
      WHERE o.o_orderstatus = 'F' AND c.c_mktsegment <> 'BUILDING')
    SELECT region, nation,
           count(*)::bigint AS n_rows,
           count(DISTINCT custkey)::bigint AS n_custs,
           sum(CASE WHEN alt_supp IS NULL THEN 1 ELSE 0 END)::bigint AS n_no_alt,
           round(sum(totalprice), 2) AS total_price
    FROM mega GROUP BY 1, 2
"""


def _derby_mega_db(spark, sf_dir, suffix):
    """Load the 5 mega-subquery base tables into an embedded Derby
    database (one per sf_dir+variant) and return (url, n_customers).
    Identifiers upper-case, strings pinned to VARCHAR — the Derby rules
    s1_jdbc_live_scan documents."""
    import hashlib

    digest = hashlib.md5(f"{sf_dir}:{suffix}".encode()).hexdigest()[:10]
    url = f"jdbc:derby:/tmp/cam_etl_spark_derby/mega_{digest};create=true"
    drv = "org.apache.derby.jdbc.EmbeddedDriver"
    specs = {
        "CUSTOMER": (
            t(spark, sf_dir, "customer").select(
                F.col("c_custkey").alias("CUSTKEY"),
                F.col("c_nationkey").alias("NATIONKEY"),
                F.col("c_mktsegment").alias("MKTSEGMENT"),
            ),
            "MKTSEGMENT VARCHAR(10)",
        ),
        "ORDERS": (
            t(spark, sf_dir, "orders").select(
                F.col("o_orderkey").alias("ORDERKEY"),
                F.col("o_custkey").alias("CUSTKEY"),
                F.col("o_orderstatus").alias("ORDERSTATUS"),
                F.col("o_totalprice").alias("TOTALPRICE"),
            ),
            "ORDERSTATUS VARCHAR(1)",
        ),
        "NATION": (
            t(spark, sf_dir, "nation").select(
                F.col("n_nationkey").alias("NATIONKEY"),
                F.col("n_name").alias("NNAME"),
                F.col("n_regionkey").alias("REGIONKEY"),
            ),
            "NNAME VARCHAR(25)",
        ),
        "REGION": (
            t(spark, sf_dir, "region").select(
                F.col("r_regionkey").alias("REGIONKEY"),
                F.col("r_name").alias("RNAME"),
            ),
            "RNAME VARCHAR(25)",
        ),
        "SUPPLIER": (
            t(spark, sf_dir, "supplier").select(
                F.col("s_suppkey").alias("SUPPKEY"),
                F.col("s_nationkey").alias("NATIONKEY"),
            ),
            None,
        ),
    }
    for name, (df, coltypes) in specs.items():
        w = (
            df.write.format("jdbc")
            .option("url", url)
            .option("dbtable", name)
            .option("driver", drv)
            .mode("overwrite")
        )
        if coltypes:
            w = w.option("createTableColumnTypes", coltypes)
        w.save()
    n = specs["CUSTOMER"][0].count()
    return url, n


def _mega_rollup(df):
    """The shared Spark-side aggregation over the mega-subquery row set —
    identical for the pushed and planned variants by construction."""
    return df.groupBy(
        F.col("REGION").alias("region"), F.col("NATION").alias("nation")
    ).agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("CUSTKEY").alias("n_custs"),
        F.sum(
            F.when(F.col("ALT_SUPP").isNull(), 1).otherwise(0)
        ).alias("n_no_alt"),
        F.round(F.sum("TOTALPRICE"), 2).alias("total_price"),
    )


@register(
    "s2_jdbc_agg_pushdown",
    """
    SELECT c_mktsegment AS segment,
           count(*)::bigint AS n_customers,
           sum((round(c_acctbal * 100, 0))::bigint)::bigint AS bal_cents
    FROM customer
    WHERE c_custkey > 100
    GROUP BY 1
    """,
    tags=["S2", "S1", "jdbc", "aggregate-pushdown", "dsv2"],
)
def s2_jdbc_agg_pushdown(spark, sf_dir):
    """AGGREGATE pushdown into a live database via Spark's DSv2 JDBC
    catalog — the S2 completion beyond derived-table pushdown: the
    GROUP BY itself (COUNT + SUM + the filter) executes inside Derby and
    Spark receives k rows, not the table. The plan is ASSERTED to carry
    PushedAggregates/PushedGroupByExpressions — if pushdown silently
    stops, this query fails rather than quietly scanning. Balances are
    stored as integer cents so the DB-side SUM is order-exact and the
    parquet-side oracle can hash-match it."""
    import hashlib

    digest = hashlib.md5(f"{sf_dir}:aggpd".encode()).hexdigest()[:10]
    url = f"jdbc:derby:/tmp/cam_etl_spark_derby/aggpd_{digest};create=true"
    drv = "org.apache.derby.jdbc.EmbeddedDriver"
    c = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("CUSTKEY"),
        F.col("c_mktsegment").alias("MKTSEGMENT"),
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("BAL_CENTS"),
    )
    (
        c.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "CUSTAGG")
        .option("createTableColumnTypes", "MKTSEGMENT VARCHAR(10)")
        .option("driver", drv)
        .mode("overwrite")
        .save()
    )
    cat = "derby_aggpd"
    spark.conf.set(
        f"spark.sql.catalog.{cat}",
        "org.apache.spark.sql.execution.datasources.v2.jdbc.JDBCTableCatalog",
    )
    spark.conf.set(f"spark.sql.catalog.{cat}.url", url)
    spark.conf.set(f"spark.sql.catalog.{cat}.driver", drv)
    spark.conf.set(f"spark.sql.catalog.{cat}.pushDownAggregate", "true")
    out = spark.sql(
        f"""
        SELECT MKTSEGMENT AS segment,
               count(*) AS n_customers,
               sum(BAL_CENTS) AS bal_cents
        FROM {cat}.APP.CUSTAGG
        WHERE CUSTKEY > 100
        GROUP BY MKTSEGMENT
        """
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    if "PushedAggregates" not in plan or "PushedGroupByExpressions" not in plan:
        raise AssertionError(
            "s2_jdbc_agg_pushdown: aggregate was NOT pushed to the database"
        )
    return out


@register(
    "s2_mega_subquery_pushed",
    _MEGA_ORACLE,
    tags=["S2", "S1", "jdbc", "subquery-pushdown"],
)
def s2_mega_subquery_pushed(spark, sf_dir):
    """The reference's CAM1 mega-subquery shape, PUSHED into a live
    database — /root/reference/cam/tables/lf_address.py:54-94 sends a
    10-relation derived table (inner + left joins, a two-column join, a
    DISTINCT collapsing geocode fanout, status filters) to Postgres as
    ``dbtable``. Same architecture here against embedded Derby: the
    6-relation join (supplier twice: a nullable LEFT component and a
    two-column theta-ish join whose fanout the DISTINCT collapses) is a
    derived table DERBY plans and executes; Spark layers a partitioned
    scan (4 cursors on CUSTKEY) and the final rollup on top. Paired with
    s2_mega_subquery_planned (same oracle): green on both proves
    pushed-vs-planned equivalence on a live DB."""
    from cam_etl_spark.io import jdbc_scan_options

    url, n = _derby_mega_db(spark, sf_dir, "pushed")
    mega_sql = """
        SELECT DISTINCT c.CUSTKEY, n.NNAME AS NATION, r.RNAME AS REGION,
               o.ORDERKEY, o.TOTALPRICE, sp.SUPPKEY AS ALT_SUPP
        FROM CUSTOMER c
        LEFT JOIN SUPPLIER sp ON sp.SUPPKEY = c.CUSTKEY
        JOIN ORDERS o ON o.CUSTKEY = c.CUSTKEY
        JOIN NATION n ON n.NATIONKEY = c.NATIONKEY
        JOIN REGION r ON r.REGIONKEY = n.REGIONKEY
        JOIN SUPPLIER s2 ON s2.NATIONKEY = c.NATIONKEY
                        AND MOD(s2.SUPPKEY, 5) = MOD(c.CUSTKEY, 5)
        WHERE o.ORDERSTATUS = 'F' AND c.MKTSEGMENT <> 'BUILDING'
    """
    opts = jdbc_scan_options(
        url,
        mega_sql,
        partition_column="CUSTKEY",
        num_partitions=4,
        lower_bound=0,
        upper_bound=max(n, 1),
    )
    opts["driver"] = "org.apache.derby.jdbc.EmbeddedDriver"
    mega = spark.read.format("jdbc").options(**opts).load()
    return _mega_rollup(mega)


@register(
    "s2_mega_subquery_planned",
    _MEGA_ORACLE,
    tags=["S2", "S1", "jdbc", "J1", "J2"],
)
def s2_mega_subquery_planned(spark, sf_dir):
    """The SAME mega-subquery as s2_mega_subquery_pushed, but planned BY
    SPARK over per-table partitioned JDBC scans of the same live Derby
    database — the architecture the engine prefers at scale (the database
    serves cheap partitioned base-table cursors; Catalyst broadcasts the
    three dimension tables and plans the join order, instead of one
    single-threaded server-side join). Shares the pushed variant's
    oracle: both green = pushed-vs-planned equivalence proven on a live
    DB."""
    from cam_etl_spark.io import jdbc_scan_options

    url, n = _derby_mega_db(spark, sf_dir, "planned")
    drv = "org.apache.derby.jdbc.EmbeddedDriver"

    def rd(table, **kw):
        opts = jdbc_scan_options(url, table, **kw)
        opts["driver"] = drv
        return spark.read.format("jdbc").options(**opts).load()

    cust = rd(
        "CUSTOMER",
        partition_column="CUSTKEY",
        num_partitions=4,
        lower_bound=0,
        upper_bound=max(n, 1),
    ).filter(F.col("MKTSEGMENT") != "BUILDING")
    orders = rd(
        "ORDERS",
        partition_column="ORDERKEY",
        num_partitions=4,
        lower_bound=0,
        upper_bound=max(n * 10, 1),
    ).filter(F.col("ORDERSTATUS") == "F")
    nation = F.broadcast(rd("NATION"))
    region = F.broadcast(rd("REGION"))
    supplier = F.broadcast(rd("SUPPLIER"))

    sp = supplier.select(F.col("SUPPKEY").alias("ALT_SUPP"))
    s2 = supplier.select(
        F.col("SUPPKEY").alias("S2_SUPPKEY"),
        F.col("NATIONKEY").alias("S2_NATIONKEY"),
    )
    mega = (
        cust.join(sp, cust["CUSTKEY"] == sp["ALT_SUPP"], "left")
        .join(orders, "CUSTKEY")
        .join(nation, "NATIONKEY")
        .join(region, "REGIONKEY")
        .join(
            s2,
            (F.col("S2_NATIONKEY") == F.col("NATIONKEY"))
            & (F.col("S2_SUPPKEY") % 5 == F.col("CUSTKEY") % 5),
        )
        .select(
            "CUSTKEY",
            F.col("NNAME").alias("NATION"),
            F.col("RNAME").alias("REGION"),
            "ORDERKEY",
            "TOTALPRICE",
            "ALT_SUPP",
        )
        .distinct()
    )
    return _mega_rollup(mega)


@register(
    "t5_identifier_fanout",
    """
    WITH src AS (
      SELECT p_partkey,
             CASE WHEN p_size = 50 AND p_brand NOT IN ('Brand#51', 'Brand#52')
                  THEN 0 ELSE p_size END AS lot_norm,
             p_brand, p_type
      FROM part),
    quads AS (
      SELECT concat('https://example.org/object/', p_partkey) AS subject,
             'https://schema.org/identifier' AS predicate,
             lot_norm::varchar AS object_value,
             'https://example.org/datatype/lot' AS object_datatype
      FROM src
      UNION ALL
      SELECT concat('https://example.org/object/', p_partkey),
             'https://schema.org/identifier', p_brand,
             'https://example.org/datatype/plan'
      FROM src
      UNION ALL
      SELECT concat('https://example.org/object/', p_partkey),
             'https://schema.org/identifier',
             concat(lot_norm, '/', p_brand),
             'https://example.org/datatype/lotplan'
      FROM src
    )
    SELECT object_datatype, count(*) AS n,
           count(DISTINCT object_value) AS n_distinct
    FROM quads GROUP BY 1
    """,
    tags=["T5", "P5", "F9"],
)
def t5_identifier_fanout(spark, sf_dir):
    """The parcel transform shape (T5): one row → typed identifier quads
    (lot, plan, lot/plan composite) with CUSTOM DATATYPE IRIs as
    discriminators (ref /root/reference/etl_lalf_parcel.py:37-108,
    /root/reference/cam/etl/namespaces.py:5-17), including the lot-9999→0
    CASE WHEN … NOT IN rewrite (P5, ref
    /root/reference/etl_lalf_parcel.py:131-140). Queries filter on
    datatype(?id) exactly like /root/reference/etl-queries.md:138-141."""
    p = t(spark, sf_dir, "part")
    lot_norm = F.when(
        (F.col("p_size") == 50) & ~F.col("p_brand").isin("Brand#51", "Brand#52"), F.lit(0)
    ).otherwise(F.col("p_size"))
    src = p.select("p_partkey", lot_norm.alias("lot_norm"), "p_brand", "p_type")
    subj = "format_string('https://example.org/object/%s', p_partkey)"
    ident = "https://schema.org/identifier"
    quads = fan_out_sql(
        src,
        quad_sql(subj, ident, "CAST(lot_norm AS STRING)", "literal",
                 object_datatype="https://example.org/datatype/lot"),
        quad_sql(subj, ident, "p_brand", "literal",
                 object_datatype="https://example.org/datatype/plan"),
        quad_sql(subj, ident, "format_string('%s/%s', lot_norm, p_brand)",
                 "literal", object_datatype="https://example.org/datatype/lotplan"),
    )
    return quads.groupBy("object_datatype").agg(
        F.count("*").alias("n"), F.countDistinct("object_value").alias("n_distinct")
    )


@register(
    "t6_geometry_fanout",
    f"""
    WITH src AS (
      SELECT s_suppkey,
             {lon_sql('s_suppkey * 7 + 3')} AS lon,
             {lat_sql('s_suppkey * 11 + 5')} AS lat,
             s_nationkey, s_acctbal
      FROM supplier),
    quads AS (
      SELECT concat('https://example.org/geo/', s_suppkey) AS subject,
             'http://www.opengis.net/ont/geosparql#asWKT' AS predicate,
             concat('POINT (', lon, ' ', lat, ')') AS object_value,
             'http://www.opengis.net/ont/geosparql#wktLiteral' AS object_datatype
      FROM src
      UNION ALL
      SELECT concat('https://example.org/geo/', s_suppkey),
             'https://schema.org/additionalProperty',
             concat('nation=', s_nationkey), NULL
      FROM src
      UNION ALL
      SELECT concat('https://example.org/geo/', s_suppkey),
             'https://schema.org/additionalProperty',
             concat('acctbal=', round(s_acctbal, 2)), NULL
      FROM src WHERE s_acctbal IS NOT NULL
    )
    SELECT subject, predicate, object_value, object_datatype FROM quads
    """,
    tags=["T6", "F13", "F14", "P7"],
)
def t6_geometry_fanout(spark, sf_dir):
    """The geocode transform shape (T6): one row → Geometry node with a WKT
    point literal (geo:wktLiteral datatype, F13/F14, ref
    /root/reference/etl_lalf_geocode.py:48-127) plus additionalProperty
    bags, each null-guarded (P7). WKT stays a plain string column — spatial
    ops consume it via the engine's spatial functions."""
    from cam_etl_spark.functions.spatial import wkt_point

    s = t(spark, sf_dir, "supplier")
    src = s.select(
        "s_suppkey",
        F.expr(lon_sql("s_suppkey * 7 + 3")).alias("lon"),
        F.expr(lat_sql("s_suppkey * 11 + 5")).alias("lat"),
        "s_nationkey",
        "s_acctbal",
    ).withColumn("wkt", wkt_point(F.col("lon"), F.col("lat")))
    subj = "format_string('https://example.org/geo/%s', s_suppkey)"
    addp = "https://schema.org/additionalProperty"
    quads = fan_out_sql(
        src,
        quad_sql(subj, "http://www.opengis.net/ont/geosparql#asWKT", "wkt", "literal",
                 object_datatype="http://www.opengis.net/ont/geosparql#wktLiteral"),
        quad_sql(subj, addp, "format_string('nation=%s', s_nationkey)", "literal"),
        quad_sql(subj, addp, "format_string('acctbal=%s', round(s_acctbal, 2))",
                 "literal", cond="s_acctbal IS NOT NULL"),
    )
    return quads.select("subject", "predicate", "object_value", "object_datatype")


@register(
    "multimodal_frame_sample",
    """
    WITH media AS (
      SELECT doc_id AS media_id, md5(text) AS h,
             ('0x' || substr(md5(text), 1, 8))::bigint % 8 + 1 AS n_frames
      FROM documents),
    frames AS (
      SELECT media_id, unnest(generate_series(0, (n_frames - 1)::int)) AS frame_idx, h
      FROM media)
    SELECT media_id, frame_idx::int AS frame_idx,
           md5(h || ':' || frame_idx) AS frame_checksum
    FROM frames
    """,
    tags=["multimodal", "frame-sample"],
)
def multimodal_frame_sample(spark, sf_dir):
    """Video frame sampling plumbing: one media row → N frame rows via
    Arrow-batched mapInPandas (output batches larger than input — the shape
    a pyav keyframe iterator produces; codec stubbed deterministically).
    Oracle reproduces the md5-derived frame fan-out with generate_series."""
    from cam_etl_spark.multimodal import documents_as_media, sample_frames

    d = t(spark, sf_dir, "documents")
    return sample_frames(documents_as_media(d), max_frames=8)


@register(
    "multimodal_features_ann",
    f"""
    WITH feat AS (
      SELECT doc_id AS media_id,
             list_transform(range(16),
               i -> ((('0x' || substr(md5(text), ((8*i) % 32) + 1, 8))::bigint % 1000)
                     / 1000.0)::FLOAT4) AS emb
      FROM documents WHERE doc_id < 500),
    pairs AS (
      SELECT q.media_id AS query_id, c.media_id AS neighbor_id,
             q.emb AS qe, c.emb AS ce
      FROM feat q CROSS JOIN feat c
      WHERE q.media_id < 5 AND q.media_id <> c.media_id),
    {COSINE_RANKED}
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 3
    """,
    tags=["multimodal", "feature-extract", "ann"],
)
def multimodal_features_ann(spark, sf_dir):
    """The full multimodal pipeline: binary payload → feature extraction
    (mapInPandas, the GPU-batch boundary at scale) → brute-force cosine
    top-3 over the extracted embeddings. Media and similarity operators
    compose without adapters.

    Full-value oracle (was rows-only): the deterministic feature extractor
    is md5-derived, so DuckDB rebuilds the identical float32 vectors —
    ('0x'||substr(md5(text), (8i mod 32)+1, 8))::bigint % 1000 / 1000.0
    cast ::FLOAT4 matches Python's float32(int.from_bytes(digest[4i mod
    16:][:4]) % 1000 / 1000) bit-for-bit (same double divide, same IEEE
    narrowing), and the double-precision cosine then agrees exactly, as it
    already does for the parquet float32 embeddings in ann_cosine_topk."""
    from cam_etl_spark.multimodal import documents_as_media, extract_features
    from cam_etl_spark.operators.similarity import knn_brute_cosine

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    feats = extract_features(documents_as_media(d), dim=16)
    queries = feats.filter(F.col("media_id") < 5)
    return knn_brute_cosine(feats, queries, k=3, id_col="media_id", vec_col="embedding")


@register(
    "text_bpe_token_count",
    """
    SELECT doc_id,
           len(string_split_regex(trim(text), '\\s+')) AS n_ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9[:space:]]')) AS n_bpe_tokens
    FROM documents WHERE trim(text) != ''
    """,
    tags=["token-count", "text-analysis"],
)
def text_bpe_token_count(spark, sf_dir):
    """Token counting both ways: whitespace tokens and a BPE-ish regex
    (letter runs / single digits / single punctuation — the GPT-2 pretoken
    shape without the tokenizer dependency). Both are single-pass JVM regex
    expressions; identical pattern runs in the DuckDB oracle."""
    from cam_etl_spark.functions.text import token_count

    d = t(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    return d.select(
        "doc_id",
        token_count(F.col("text")).alias("n_ws_tokens"),
        F.size(
            F.expr(r"regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]', 0)")
        ).alias("n_bpe_tokens"),
    )


def _bpe_cte_prefix(n_merges: int) -> str:
    """The shared WITH-chain of the BPE oracles: word freqs, double-space
    segmentation, and one (pairs, top, next-words) CTE triple per learned
    merge, ending at s{n_merges}. Each s{i} LEFT-joins its top{i} so a
    merge-exhausted corpus (fewer than n_merges learnable pairs) degrades
    to a no-op pass instead of wiping the word table — matching
    bpe_learn_merges' early break / bpe_apply's apply-what-was-learned."""
    parts = [
        r"""
    WITH words AS (
      SELECT tt.w AS word, count(*)::BIGINT AS freq
      FROM documents, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tt(w)
      WHERE tt.w <> '' GROUP BY 1),
    s0 AS (SELECT '  ' || regexp_replace(word, '(.)', '\1  ', 'g') AS s, freq
           FROM words)"""
    ]
    for i in range(1, n_merges + 1):
        p = i - 1
        parts.append(
            f""",
    lst{i} AS (SELECT string_split_regex(trim(s), ' +') AS lst, freq FROM s{p}),
    p{i} AS (
      SELECT lst[j + 1] AS l, lst[j + 2] AS r, sum(freq)::BIGINT AS cnt
      FROM lst{i}, unnest(range(len(lst) - 1)) AS u(j)
      GROUP BY 1, 2),
    top{i} AS (SELECT l, r, cnt FROM p{i} ORDER BY cnt DESC, l, r LIMIT 1),
    s{i} AS (
      SELECT CASE WHEN l IS NULL THEN s
                  ELSE replace(s, ' ' || l || '  ' || r || ' ',
                               ' ' || l || r || ' ') END AS s,
             freq
      FROM s{p} LEFT JOIN top{i} ON TRUE)"""
        )
    return "".join(parts)


def _bpe_oracle(n_merges: int) -> str:
    """DuckDB twin of operators/bpe.bpe_learn_merges, unrolled one
    (pairs, top, next-words) CTE triple per iteration. Double-space
    delimiters make one replace() per merge EXACT greedy left-to-right
    application (see the module docstring of operators/bpe.py)."""
    selects = [
        f"SELECT {i} AS step, l AS merge_left, r AS merge_right, cnt AS pair_count FROM top{i}"
        for i in range(1, n_merges + 1)
    ]
    return (
        _bpe_cte_prefix(n_merges) + "\n    " + "\n    UNION ALL ".join(selects)
    )


def _bpe_apply_oracle(n_merges: int) -> str:
    """DuckDB twin of operators/bpe.bpe_apply: reuse the learning CTE
    chain (the applied merges must be the LEARNED ones, in order), then
    tokenize the final word table and histogram by token weighted by
    word frequency."""
    return (
        _bpe_cte_prefix(n_merges)
        + f"""
    SELECT tok AS token, sum(freq)::BIGINT AS n_occurrences
    FROM (SELECT unnest(string_split_regex(trim(s), ' +')) AS tok, freq
          FROM s{n_merges})
    GROUP BY 1"""
    )


@register(
    "text_bpe_learn_merges",
    _bpe_oracle(6),
    tags=["bpe", "tokenizer-training", "text-analysis", "iterative"],
    bench=True,
    plan={**PIPELINE_PLAN, "Exchange hashpartitioning": (0, 0)},
)
def text_bpe_learn_merges(spark, sf_dir):
    """BPE merge LEARNING (not just counting — the tokenizer-training step
    of an LLM data pipeline): the first 6 merges over the documents
    corpus, operators/bpe.bpe_learn_merges. Spark compresses the corpus to
    (word, freq) once, in the query's one eager action; the greedy merge
    loop then runs on the driver over that collected vocabulary. The
    oracle unrolls the identical recurrence — including exact greedy merge
    application via the double-space-delimiter replace identity — one CTE
    triple per iteration."""
    from cam_etl_spark.operators.bpe import bpe_learn_merges

    d = t(spark, sf_dir, "documents")
    return bpe_learn_merges(d, n_merges=6)


@register(
    "text_bpe_apply",
    _bpe_apply_oracle(6),
    tags=["bpe", "tokenizer-apply", "text-analysis"],
)
def text_bpe_apply(spark, sf_dir):
    """BPE tokenizer APPLICATION — the learn→apply round trip that
    completes the tokenizer story (learn merges, tokenize the corpus with
    them, histogram the resulting vocabulary): operators/bpe.bpe_apply
    replays the 6 learned merges as exact-greedy double-space replaces
    over the (distinct word, freq) table, so the per-token corpus counts
    are vocabulary-sized work after the one corpus compression. The
    oracle reuses the learning CTE chain and histograms the final
    segmentation — a drift anywhere in learn OR apply hash-fails."""
    from cam_etl_spark.operators.bpe import bpe_apply, bpe_learn_merges

    d = t(spark, sf_dir, "documents")
    merges = bpe_learn_merges(d, n_merges=6)
    return bpe_apply(d, merges)


@register(
    "text_heavy_hitters",
    HEAVY_HITTERS,
    tags=["sketch", "heavy-hitters", "misra-gries", "text-analysis"],
    bench=True,
    plan={**PIPELINE_PLAN, "Exchange hashpartitioning": (0, 2), "BroadcastHashJoin": (1, None)},
)
def text_heavy_hitters(spark, sf_dir):
    """EXACT distributed heavy hitters (operators/sketch.heavy_hitters):
    terms with frequency > N/41, found with per-partition Misra-Gries(40)
    summaries (bounded state per task, at most k rows emitted per
    partition) and an exact recount of the candidate union. The MG
    union provably contains every true heavy hitter, so the result is
    exact and the oracle is the plain threshold query — which would
    materialize the full term histogram, exactly what the sketch avoids
    when the vocabulary doesn't fit a groupBy."""
    from cam_etl_spark.operators.sketch import heavy_hitters

    # NOT widened, deliberately (measured): the result is
    # partition-independent (MG union ⊇ true heavy hitters under any
    # partitioning; the recount filters by the exact threshold), but
    # both passes consume `docs`, so a widen exchange ships the full
    # corpus text TWICE — interleaved A/B 0.58 s (1-split serial MG) vs
    # 0.99 s (widened). At real scale the scan splits naturally and the
    # question disappears.
    d = t(spark, sf_dir, "documents")
    return heavy_hitters(d, k=40)


@register(
    "stream_heavy_hitters",
    HEAVY_HITTERS,
    tags=["streaming", "stateful", "sketch", "heavy-hitters", "misra-gries"],
)
def stream_heavy_hitters(spark, sf_dir):
    """STREAMING heavy hitters: the documents corpus flows as a
    multi-file stream; a Misra-Gries(64) summary per hash-group of the
    term space lives in GroupState ACROSS micro-batches
    (streaming/stateful.streaming_heavy_hitter_candidates), then a batch
    recount of the run-to-completion candidate union restores exactness.
    With threshold N/41 and k=64, MG's merge error (≤ group_mass/65)
    cannot evict a true heavy hitter under ANY batching/arrival order, so
    the result — and the oracle — is identical to the batch
    text_heavy_hitters: the exact threshold query over the histogram the
    sketch never materializes. State: ≤ 64 (term, count) pairs per group,
    bounded by the sketch parameter, not the stream."""
    from cam_etl_spark.operators.sampling import hash_bucket
    from cam_etl_spark.streaming.stateful import (
        streaming_heavy_hitter_candidates,
    )

    d = t(spark, sf_dir, "documents").select("text")
    work = fixture_dir(sf_dir, "cam_etl_shh_fixture")
    src = file_stream(d, work + "/in", per_trigger=2, files=6)
    toks_s = (
        src.select(
            F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("term")
        )
        .filter(F.col("term") != "")
        .withColumn("grp", hash_bucket(F.col("term"), 8))
    )

    def sink(df, batch_id):
        df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
            work + "/out"
        )

    q = (
        streaming_heavy_hitter_candidates(toks_s)
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", work + "/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = spark.read.parquet(work + "/out")
    last = emitted.groupBy("grp").agg(F.max("batch_id").alias("last_b"))
    cands = (
        emitted.join(last, "grp")
        .filter(F.col("batch_id") == F.col("last_b"))
        .select("term")
        .distinct()
    )
    toks = t(spark, sf_dir, "documents").select(
        F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("term")
    ).filter(F.col("term") != "")
    total = toks.agg(F.count("*").alias("total"))
    return (
        toks.join(F.broadcast(cands), "term")
        .groupBy("term")
        .agg(F.count("*").alias("freq"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("freq") * 41 > F.col("total"))
        .select("term", "freq")
    )


@register(
    "text_winnowing_fingerprint",
    """
    WITH s AS (SELECT doc_id, lower(trim(text)) AS t FROM documents),
    g AS (
      SELECT doc_id, i AS pos,
             ('0x' || substr(md5(substr(t, i::int, 5)), 1, 15))::bigint AS h
      FROM s, unnest(generate_series(1, greatest(length(t) - 4, 1))) AS u(i)),
    wins AS (
      SELECT doc_id, pos,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
             count(*) OVER (PARTITION BY doc_id) AS n
      FROM g)
    SELECT DISTINCT doc_id AS id, fp FROM wins WHERE pos <= n - 3 OR n < 4
    """,
    tags=["text-fingerprint", "winnowing", "F12"],
    bench=True,
    plan={**PIPELINE_PLAN, "Exchange hashpartitioning": (0, 0)},
)
def text_winnowing_fingerprint(spark, sf_dir):
    """Rolling-hash document fingerprinting (winnowing/MOSS): char-5-gram
    hashes, min per 4-hash sliding window, distinct minima. Any shared
    substring of length ≥ 8 chars guarantees a shared fingerprint."""
    from cam_etl_spark.operators.dedup import winnowing_fingerprints

    d = widen_table(spark, sf_dir, "documents")
    return winnowing_fingerprints(d, k=5, w=4)


@register(
    "dedup_embedding_cosine",
    """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.vec, b.vec), 6) AS cosine
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.vec, b.vec) >= 0.40
    """,
    tags=["dedup-embedding", "ann"],
    bench=True,
    plan={**PIPELINE_PLAN, "Exchange hashpartitioning": (0, 2)},
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs, exact, fully distributed: blocked
    all-pairs BLAS scoring (operators.dedup.embedding_near_pairs_blocked) —
    no driver collect in the executed plan. The oracle is DuckDB's
    list_cosine_similarity. The broadcast-matrix variant
    (embedding_near_pairs) is demoted to pytest-baseline duty; the LSH
    candidate path has its own recall-oracle entry (dedup_embedding_lsh_recall)
    since hyperplane LSH only separates at high thresholds, not at this
    corpus's 0.40."""
    from cam_etl_spark.operators.dedup import embedding_near_pairs_blocked

    e = t(spark, sf_dir, "embeddings")
    return embedding_near_pairs_blocked(e, threshold=0.40)


@register(
    "dedup_embedding_lsh_recall",
    """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.vec, b.vec), 6) AS cosine,
           TRUE AS recalled
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.vec, b.vec) >= 0.5
    """,
    tags=["dedup-embedding", "ann", "similarity-lsh"],
)
def dedup_embedding_lsh_recall(spark, sf_dir):
    """Recall oracle for the LSH candidate-generation path of embedding
    dedup: every EXACT cosine pair at θ=0.5 (DuckDB enumerates them) must
    appear in the hyperplane-LSH candidate set — the oracle pins
    recalled=TRUE per pair, so a banding/bucketing regression that drops a
    real near-dup pair is a hash-fail. 2 planes × 16 bands: per-pair
    collision at cos 0.5 is 1-(1-(2/3)²)^16 ≈ 1-8e-5 in expectation, and
    the seeded hyperplanes make the draw deterministic per corpus —
    measured recall is 100% at sf0.001/0.01/0.1."""
    from cam_etl_spark.operators.dedup import embedding_near_pairs_blocked
    from cam_etl_spark.operators.similarity import lsh_candidate_pairs_cosine

    e = t(spark, sf_dir, "embeddings")
    cands = lsh_candidate_pairs_cosine(e, dim=64, n_planes=2, n_bands=16)
    exact = embedding_near_pairs_blocked(e, threshold=0.5)
    return exact.join(
        cands.withColumn("hit", F.lit(True)), ["id_a", "id_b"], "left"
    ).select(
        "id_a",
        "id_b",
        "cosine",
        F.coalesce("hit", F.lit(False)).alias("recalled"),
    )


@register(
    "validate_cardinality_shape",
    """
    WITH quads(subject, predicate, object_value) AS (
      SELECT concat('https://example.org/customer/', c_custkey),
             'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
             'https://schema.org/Person' FROM customer
      UNION ALL
      -- label emitted only for positive balances -> negative-balance
      -- customers violate the exactly-one-label shape
      SELECT concat('https://example.org/customer/', c_custkey),
             'http://www.w3.org/2000/01/rdf-schema#label', c_name
      FROM customer WHERE c_acctbal > 0
    )
    SELECT t.subject, count(l.subject)::bigint AS n
    FROM quads t LEFT JOIN quads l
      ON l.subject = t.subject
     AND l.predicate = 'http://www.w3.org/2000/01/rdf-schema#label'
    WHERE t.predicate = 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'
    GROUP BY 1 HAVING count(l.subject) != 1
    """,
    tags=["validation", "shacl", "A4"],
)
def validate_cardinality_shape(spark, sf_dir):
    """The SHACL gate: every Address must have exactly one rdfs:label
    (ref /root/reference/shacl.ttl:1-13) as a DataFrame invariant — emits
    the violators. Built with a deliberate violation (label only when
    acctbal > 0) so the check provably detects."""
    from cam_etl_spark.operators.validate import RDF_TYPE, cardinality_violations

    c = t(spark, sf_dir, "customer")
    subj = "format_string('https://example.org/customer/%s', c_custkey)"
    label = "http://www.w3.org/2000/01/rdf-schema#label"
    quads = fan_out_sql(
        c,
        quad_sql(subj, RDF_TYPE, "'https://schema.org/Person'", "iri"),
        quad_sql(subj, label, "c_name", "literal", cond="c_acctbal > 0"),
    )
    return cardinality_violations(
        quads, label, focus_type="https://schema.org/Person", min_count=1, max_count=1
    )


@register(
    "validate_golden_count",
    """
    WITH src AS (SELECT count(*) AS source_rows FROM orders WHERE o_orderstatus != 'P'),
    g AS (SELECT count(DISTINCT concat('https://example.org/order/', o_orderkey)) AS graph_subjects
          FROM orders WHERE o_orderstatus != 'P')
    SELECT source_rows, graph_subjects,
           (source_rows = graph_subjects)::int AS matches
    FROM src, g
    """,
    tags=["validation", "golden-count", "A1"],
)
def validate_golden_count(spark, sf_dir):
    """Golden-count reconciliation: post-filter source row count must equal
    the distinct produced-subject count — the reference's de facto test
    corpus (ref /root/reference/etl-queries.md, etl-notes.md:263-285: the
    post-join address count invariant)."""
    from cam_etl_spark.operators.validate import RDF_TYPE, reconcile_counts

    o = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") != "P")
    subj = "format_string('https://example.org/order/%s', o_orderkey)"
    quads = fan_out_sql(
        o,
        quad_sql(subj, RDF_TYPE, "'https://schema.org/Order'", "iri"),
        quad_sql(subj, "https://schema.org/orderStatus", "o_orderstatus", "literal"),
    )
    return reconcile_counts(o, quads, "https://schema.org/Order")


# --- etl_end_to_end_counts dictionary-encode domain (module level so the
# domain-pin test in tests/test_plans_scale.py can import it). The encode
# below is injective ONLY while these maps cover every literal the fan-out
# templates emit; the CASE in _etl_code_sql carries a loud ELSE
# raise_error so an unmapped future value aborts the query instead of
# encoding to NULL (dropDuplicates treats NULLs as equal — two distinct
# unmapped values would silently merge).
ETL_P_LABEL, ETL_P_UNIT, ETL_P_MISSING, ETL_P_DERIVED = 1, 2, 3, 4
ETL_PRED_CODES = {
    "http://www.w3.org/2000/01/rdf-schema#label": ETL_P_LABEL,
    "https://schema.org/unitCode": ETL_P_UNIT,
    "https://example.org/def/missingFromAddresses": ETL_P_MISSING,
    "http://www.w3.org/ns/prov#wasDerivedFrom": ETL_P_DERIVED,
    "http://www.w3.org/1999/02/22-rdf-syntax-ns#type": 5,
    "https://schema.org/identifier": 6,
    "https://schema.org/additionalType": 7,
    "https://schema.org/containedInPlace": 8,
    "https://schema.org/streetAddress": 9,
    "https://schema.org/name": 10,
    "https://example.org/def/roadType": 11,
    "https://schema.org/validFrom": 12,
    "https://schema.org/authority": 13,
    "https://schema.org/keywords": 14,
}
ETL_G_ADDR, ETL_G_ROAD, ETL_G_NAME = 1, 2, 3
ETL_GRAPH_CODES = {
    "urn:example:graph:addresses": ETL_G_ADDR,
    "urn:example:graph:roads": ETL_G_ROAD,
    "urn:example:graph:names": ETL_G_NAME,
}
ETL_DT_CODES = {
    "https://example.org/datatype/address-pid": 1,
    "http://www.w3.org/2001/XMLSchema#date": 2,
}


def _etl_code_sql(col, codes, null_code):
    # WHEN IS NULL first, one WHEN per domain value, parsed in one py4j
    # call. The ELSE raise_error never evaluates on the closed domain
    # (every fan-out template literal is enumerated above) — it exists so
    # a template added without a code fails LOUDLY at any scale rather
    # than encoding to NULL and merging with other unmapped values in
    # the dedup.
    branches = " ".join(f"WHEN {col} = '{k}' THEN {v}" for k, v in codes.items())
    return (
        f"CAST(CASE WHEN {col} IS NULL THEN {null_code} {branches} "
        f"ELSE raise_error(concat('etl dictionary-encode: unmapped {col}: ', {col})) "
        f"END AS INT)"
    )


@register(
    "etl_end_to_end_counts",
    f"""
    WITH {ADDRESS_SITES},
    parcels AS (SELECT n_nationkey::varchar AS parcel_id, n_nationkey::varchar AS lot_no,
                       'SP' || n_regionkey::varchar AS plan_no FROM nation),
    roadsb AS (SELECT s_suppkey::varchar AS road_id,
                      replace(s_name, 'Supplier#', 'Road ') AS road_name,
                      (['STREET','ROAD','AVENUE','LANE','DRIVE'])[(s_nationkey % 5) + 1] AS road_type,
                      s_nationkey::varchar AS locality_code
               FROM supplier),
    localities AS (SELECT n_nationkey::varchar AS locality_code, r_name AS locality_name
                   FROM nation JOIN region ON n_regionkey = r_regionkey),
    joined AS (
      SELECT a.addr_id, a.st, a.unit_no, a.street_no_first, a.street_no_last,
             a.road_id, p.lot_no, p.plan_no,
             rd.road_name, rd.road_type, l.locality_name
      FROM addresses a
      JOIN sites s ON a.site_id = s.site_id
      JOIN parcels p ON s.parcel_id = p.parcel_id
      LEFT JOIN roadsb rd ON a.road_id = rd.road_id
      LEFT JOIN localities l ON rd.locality_code = l.locality_code
      WHERE a.st != 'H'),
    addr_quads AS (
      SELECT 'urn:example:graph:addresses' AS graph,
             concat('https://example.org/address/', addr_id) AS subject,
             'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS predicate,
             'https://schema.org/PostalAddress' AS object_value,
             NULL::VARCHAR AS object_datatype
      FROM joined
      UNION ALL
      SELECT 'urn:example:graph:addresses',
             concat('https://example.org/address/', addr_id),
             'https://schema.org/identifier', addr_id,
             'https://example.org/datatype/address-pid'
      FROM joined
      UNION ALL
      SELECT 'urn:example:graph:addresses',
             concat('https://example.org/address/', addr_id),
             'https://schema.org/additionalType',
             CASE st WHEN 'C' THEN 'https://example.org/def/address-status/current'
                     ELSE 'https://example.org/def/address-status/active' END,
             NULL
      FROM joined
      UNION ALL
      SELECT 'urn:example:graph:addresses',
             concat('https://example.org/address/', addr_id),
             'https://schema.org/containedInPlace',
             concat('https://example.org/parcel/', lot_no, '-', plan_no), NULL
      FROM joined
      UNION ALL
      SELECT 'urn:example:graph:addresses',
             concat('https://example.org/address/', addr_id),
             'https://schema.org/streetAddress',
             concat('https://example.org/road/', road_id), NULL
      FROM joined WHERE road_name IS NOT NULL
      UNION ALL
      SELECT 'urn:example:graph:addresses',
             concat('https://example.org/address/', addr_id),
             'https://schema.org/unitCode', unit_no, NULL
      FROM joined WHERE unit_no IS NOT NULL
      UNION ALL
      SELECT 'urn:example:graph:addresses',
             concat('https://example.org/address/', addr_id),
             'http://www.w3.org/2000/01/rdf-schema#label',
             concat(coalesce(unit_no || '/', ''),
                    street_no_first,
                    coalesce('-' || street_no_last, ''),
                    coalesce(' ' || road_name || ' ' || road_type, ''),
                    coalesce(', ' || locality_name, '')), NULL
      FROM joined),
    referenced AS (SELECT DISTINCT o_orderkey % 100 AS rid FROM orders),
    enroads AS (
      SELECT s_suppkey AS road_id,
             replace(s_name, 'Supplier#', 'Road ') AS road_name,
             (['STREET','ROAD','AVENUE','LANE','DRIVE'])[(s_nationkey % 5) + 1] AS road_type,
             (ref.rid IS NULL) AS missing
      FROM supplier LEFT JOIN referenced ref ON s_suppkey = ref.rid),
    road_quads AS (
      SELECT 'urn:example:graph:roads' AS graph,
             concat('https://example.org/road/', road_id) AS subject,
             'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS predicate,
             'https://example.org/def/RoadObject' AS object_value,
             NULL::VARCHAR AS object_datatype
      FROM enroads
      UNION ALL
      SELECT 'urn:example:graph:roads', concat('https://example.org/road/', road_id),
             'https://schema.org/name', concat(road_name, ' ', road_type), NULL
      FROM enroads
      UNION ALL
      SELECT 'urn:example:graph:roads', concat('https://example.org/road/', road_id),
             'https://example.org/def/roadType',
             concat('https://example.org/def/road-types/', lower(road_type)), NULL
      FROM enroads
      UNION ALL
      SELECT 'urn:example:graph:roads', concat('https://example.org/road/', road_id),
             'https://example.org/def/missingFromAddresses', 'true', NULL
      FROM enroads WHERE missing),
    names AS (
      SELECT o_orderkey AS name_id, o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 20 = 0),
    ntags AS (
      SELECT l_orderkey AS name_id,
             string_agg(DISTINCT l_returnflag, ',' ORDER BY l_returnflag) AS tag_bag
      FROM lineitem GROUP BY 1),
    name_quads AS (
      SELECT 'urn:example:graph:names' AS graph,
             concat('https://example.org/name/', name_id) AS subject,
             'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS predicate,
             'https://example.org/def/GeographicalName' AS object_value,
             NULL::VARCHAR AS object_datatype
      FROM names
      UNION ALL
      SELECT 'urn:example:graph:names', concat('https://example.org/name/', name_id),
             'https://schema.org/validFrom', strftime(o_orderdate, '%Y-%m-%d'),
             'http://www.w3.org/2001/XMLSchema#date'
      FROM names WHERE o_orderdate IS NOT NULL
      UNION ALL
      SELECT 'urn:example:graph:names', concat('https://example.org/name/', name_id),
             'https://schema.org/authority',
             concat('https://example.org/authority/', lower(replace(o_orderpriority, '-', ''))),
             NULL
      FROM names
      UNION ALL
      SELECT 'urn:example:graph:names', concat('https://example.org/name/', name_id),
             'https://schema.org/keywords', t.tag_bag, NULL
      FROM names n JOIN ntags t USING (name_id)
      UNION ALL
      SELECT 'urn:example:graph:names', concat('https://example.org/name/', name_id),
             'http://www.w3.org/ns/prov#wasDerivedFrom',
             concat('https://example.org/name/', name_id // 2), NULL
      FROM names WHERE name_id // 2 != name_id AND (name_id // 2) % 20 = 0),
    allq AS (
      SELECT DISTINCT * FROM (
        SELECT * FROM addr_quads
        UNION ALL SELECT * FROM road_quads
        UNION ALL SELECT * FROM name_quads)),
    subs AS (SELECT DISTINCT graph, subject FROM allq)
    SELECT 'addresses_source_live' AS metric,
           (SELECT count(*) FROM addresses WHERE st != 'H')::bigint AS value
    UNION ALL SELECT 'address_graph_subjects',
           (SELECT count(*) FROM subs WHERE graph = 'urn:example:graph:addresses')::bigint
    UNION ALL SELECT 'address_count_reconciles',
           ((SELECT count(*) FROM addresses WHERE st != 'H')
            = (SELECT count(*) FROM subs WHERE graph = 'urn:example:graph:addresses'))::int::bigint
    UNION ALL SELECT 'address_label_quads',
           (SELECT count(*) FROM allq
            WHERE graph = 'urn:example:graph:addresses'
              AND predicate = 'http://www.w3.org/2000/01/rdf-schema#label')::bigint
    UNION ALL SELECT 'address_unit_quads',
           (SELECT count(*) FROM allq
            WHERE predicate = 'https://schema.org/unitCode')::bigint
    UNION ALL SELECT 'road_graph_subjects',
           (SELECT count(*) FROM subs WHERE graph = 'urn:example:graph:roads')::bigint
    UNION ALL SELECT 'roads_missing_flagged',
           (SELECT count(*) FROM allq
            WHERE predicate = 'https://example.org/def/missingFromAddresses')::bigint
    UNION ALL SELECT 'name_graph_subjects',
           (SELECT count(*) FROM subs WHERE graph = 'urn:example:graph:names')::bigint
    UNION ALL SELECT 'name_derivation_edges',
           (SELECT count(*) FROM allq
            WHERE predicate = 'http://www.w3.org/ns/prov#wasDerivedFrom')::bigint
    UNION ALL SELECT 'total_quads', (SELECT count(*) FROM allq)::bigint
    UNION ALL SELECT 'total_distinct_subjects',
           (SELECT count(DISTINCT subject) FROM allq)::bigint
    """,
    tags=["pipeline", "etl", "T1", "T3", "T7", "U2", "validation", "golden-count"],
    bench=True,
    plan={
        **PIPELINE_PLAN,
        "Exchange hashpartitioning": (0, 4),
        "BroadcastHashJoin": (8, None),
        "SortMergeJoin": (0, 0),
        "BroadcastNestedLoopJoin": (0, 2),
    },
)
def etl_end_to_end_counts(spark, sf_dir):
    """The COMPOSED reference ETL run as one job (ref Taskfile `task etl`,
    /root/reference/Taskfile.yml:148-189): the address pipeline
    (pipelines/address.py — bronze reads, big broadcast join, conditional
    quad fan-out), the road/vocab fan-out (T3), and the name fan-out (T7)
    union into ONE multi-graph quad set, globally deduped (U2), then ALL
    the golden-count reconciliations (ref etl-queries.md:21-331 shapes)
    emit as a single multi-row result — headline among them the post-join
    count invariant (live source addresses == address-graph subjects,
    ref etl-notes.md:263-285). Plan shape at 100 TB: every dimension
    broadcasts, the quad union is map-side, the global dedup is ONE
    shuffle on the quad key, and the metric rollup is a single pass of
    conditional sums plus one (graph, subject) distinct — no cartesians
    (pinned by tests/test_plans_scale.py)."""
    from cam_etl_spark.pipelines.address import address_quads, bronze_tables

    ADDR_G = "urn:example:graph:addresses"
    ROAD_G = "urn:example:graph:roads"
    NAME_G = "urn:example:graph:names"
    addr = address_quads(spark, sf_dir, dedup=False).select(
        "graph", "subject", "predicate", "object_value", "object_datatype"
    )
    roads = t3_road_vocab_fanout(spark, sf_dir).select(
        F.lit(ROAD_G).alias("graph"),
        "subject", "predicate", "object_value",
        F.lit(None).cast("string").alias("object_datatype"),
    )
    names = t7_name_fanout(spark, sf_dir).select(
        F.lit(NAME_G).alias("graph"),
        "subject", "predicate", "object_value", "object_datatype",
    )
    # Shuffle lightweight proxies, not URI strings (guide §2.3 / §8): every
    # metric below is a COUNT, so the dedup shuffle and the five hash-agg
    # passes never need the full quad strings — only their identity.
    # Dictionary-encode the three closed-set columns (graph, predicate,
    # object_datatype: every value is a string LITERAL in the fan-out
    # templates above — addr 7, road 4, name 5 — so the module-level
    # ETL_*_CODES maps enumerate the entire domain, and _etl_code_sql's
    # ELSE raise_error enforces it) and strip the subject down to its id
    # suffix (within a graph every subject is '<fixed prefix>/<id>' with
    # '/'-free ids, so (graph, suffix) ↔ subject is a bijection). Each
    # per-column map is injective on its domain, hence the 5-tuple encode
    # is injective and dropDuplicates on the compact row set has EXACTLY
    # the multiplicity-1 row set of the original dedup. Measured at
    # sf0.1: the quad exchange drops from 124.7 MiB to ~40 MiB of raw
    # rows and the agg passes hash short ints instead of 40-100 byte
    # URIs — identical 11 metric rows (oracle-checked).
    quads = addr.unionByName(roads).unionByName(names)
    compact = quads.selectExpr(
        _etl_code_sql("graph", ETL_GRAPH_CODES, 0) + " AS g",
        "substring_index(subject, '/', -1) AS s",
        _etl_code_sql("predicate", ETL_PRED_CODES, 0) + " AS p",
        "object_value AS o",
        _etl_code_sql("object_datatype", ETL_DT_CODES, 0) + " AS d",
    )
    # ONE exchange for dedup AND rollup: hash-partitioning by (g, s)
    # clusters identical quads too (the quad key extends the pair), so
    # the 5-column dropDuplicates and the (g, s) groupBy below both run
    # exchange-free on top of this single repartition — one fewer quad
    # shuffle than union.distinct(), identical results.
    allq = compact.repartition("g", "s").dropDuplicates()

    # ONE pass over the deduped quads: roll up to (g, s) first
    # (map-side-combined shuffle on the natural key), then collapse the
    # ~|subjects| rows to the scalar metrics — the union DAG executes
    # exactly once, and the only distinct-agg runs over subjects, not
    # quads. Aggregates as SQL text: each F.expr is one py4j call where
    # the Column chains were ~6 apiece (`SUM(CAST(cond AS BIGINT))` is
    # the same tree F.sum(cond.cast("long")) built).
    per_subj = allq.groupBy("g", "s").agg(
        F.expr("COUNT(*) AS n_quads"),
        F.expr(f"SUM(CAST((p = {ETL_P_LABEL}) AS BIGINT)) AS n_label"),
        F.expr(f"SUM(CAST((p = {ETL_P_UNIT}) AS BIGINT)) AS n_unit"),
        F.expr(f"SUM(CAST((p = {ETL_P_MISSING}) AS BIGINT)) AS n_missing"),
        F.expr(f"SUM(CAST((p = {ETL_P_DERIVED}) AS BIGINT)) AS n_derived"),
    )
    q = per_subj.agg(
        F.expr("SUM(n_quads) AS total_quads"),
        # (g, s) pairs biject with subjects, so distinct pairs = distinct
        # subjects; count(DISTINCT g, s) never drops rows (neither is
        # null).
        F.expr("COUNT(DISTINCT g, s) AS total_distinct_subjects"),
        F.expr(
            f"SUM(CASE WHEN g = {ETL_G_ADDR} THEN n_label ELSE 0 END)"
            " AS address_label_quads"
        ),
        F.expr("SUM(n_unit) AS address_unit_quads"),
        F.expr("SUM(n_missing) AS roads_missing_flagged"),
        F.expr("SUM(n_derived) AS name_derivation_edges"),
        F.expr(f"SUM(CAST((g = {ETL_G_ADDR}) AS BIGINT)) AS address_graph_subjects"),
        F.expr(f"SUM(CAST((g = {ETL_G_ROAD}) AS BIGINT)) AS road_graph_subjects"),
        F.expr(f"SUM(CAST((g = {ETL_G_NAME}) AS BIGINT)) AS name_graph_subjects"),
    )
    src = (
        bronze_tables(spark, sf_dir)["addresses"]
        .filter(F.col("addr_status_code") != "H")
        .agg(F.count("*").alias("addresses_source_live"))
    )
    row = q.crossJoin(src)  # two 1-row scalar frames
    return row.select(
        F.expr(
            "stack(11, "
            "'addresses_source_live', addresses_source_live, "
            "'address_graph_subjects', address_graph_subjects, "
            "'address_count_reconciles', "
            "  CAST(address_graph_subjects = addresses_source_live AS LONG), "
            "'address_label_quads', address_label_quads, "
            "'address_unit_quads', address_unit_quads, "
            "'road_graph_subjects', road_graph_subjects, "
            "'roads_missing_flagged', roads_missing_flagged, "
            "'name_graph_subjects', name_graph_subjects, "
            "'name_derivation_edges', name_derivation_edges, "
            "'total_quads', total_quads, "
            "'total_distinct_subjects', total_distinct_subjects"
            ") AS (metric, value)"
        )
    )


@register(
    "cam_address_labels",
    f"""
    WITH {ADDRESS_SITES},
    parcels AS (SELECT n_nationkey::varchar AS parcel_id FROM nation),
    roads AS (SELECT s_suppkey::varchar AS road_id,
                     replace(s_name, 'Supplier#', 'Road ') AS road_name,
                     (['STREET','ROAD','AVENUE','LANE','DRIVE'])[(s_nationkey % 5) + 1] AS road_type,
                     s_nationkey::varchar AS locality_code
              FROM supplier),
    localities AS (SELECT n_nationkey::varchar AS locality_code, r_name AS locality_name
                   FROM nation JOIN region ON n_regionkey = r_regionkey)
    SELECT concat('https://example.org/address/', a.addr_id) AS subject,
           concat(coalesce(a.unit_no || '/', ''),
                  a.street_no_first,
                  coalesce('-' || a.street_no_last, ''),
                  coalesce(' ' || rd.road_name || ' ' || rd.road_type, ''),
                  coalesce(', ' || l.locality_name, '')) AS label
    FROM addresses a
    JOIN sites s ON a.site_id = s.site_id
    JOIN parcels p ON s.parcel_id = p.parcel_id
    LEFT JOIN roads rd ON a.road_id = rd.road_id
    LEFT JOIN localities l ON rd.locality_code = l.locality_code
    WHERE a.st != 'H'
    """,
    tags=["pipeline", "J1", "J2", "F17", "F18", "T1", "P2"],
    bench=True,
    plan={**PIPELINE_PLAN, "Exchange hashpartitioning": (0, 0), "BroadcastHashJoin": (5, None)},
)
def cam_address_labels(spark, sf_dir):
    """END-TO-END: the reference's address extraction pipeline — stringly
    bronze tables in the LALF shapes, status-exclusion filter, the big
    multi-way join (small dims broadcast), and byte-exact display-label
    assembly ('unit/', '-range', ', LOCALITY' semantics, ref
    /root/reference/etl_lalf_address.py:676-686). The oracle reproduces the
    ENTIRE pipeline in SQL — every label byte must match."""
    from cam_etl_spark.pipelines.address import address_labels

    return address_labels(spark, sf_dir)


@register(
    "a7_rollup_revenue",
    """
    SELECT coalesce(r.r_name, 'ALL') AS region,
           CASE WHEN grouping(n.n_name) = 1 THEN 'ALL' ELSE n.n_name END AS nation,
           round(sum(o.o_totalprice), 2) AS revenue,
           count(*) AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
    tags=["A3", "rollup"],
)
def a7_rollup_revenue(spark, sf_dir):
    """Hierarchical ROLLUP totals (region → nation → grand total) — absent
    from the reference (SURVEY §2.4 note) but free with Spark; grouping()
    distinguishes subtotal rows, labeled 'ALL' in both engines so the
    null-vs-NaN cross-engine comparison never arises."""
    o, c = t(spark, sf_dir, "orders"), t(spark, sf_dir, "customer")
    n, r = t(spark, sf_dir, "nation"), t(spark, sf_dir, "region")
    j = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        j.rollup("r_name", "n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count("*").alias("n_orders"),
            F.grouping("n_name").alias("g_n"),  # grouping() only valid in the agg
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.when(F.col("g_n") == 1, "ALL").otherwise(F.col("n_name")).alias("nation"),
            "revenue",
            "n_orders",
        )
    )


@register(
    "t7_name_fanout",
    """
    WITH names AS (
      SELECT o_orderkey AS name_id, o_orderdate, o_orderstatus,
             o_orderpriority, o_custkey
      FROM orders WHERE o_orderkey % 20 = 0),
    tags AS (
      SELECT l_orderkey AS name_id,
             string_agg(DISTINCT l_returnflag, ',' ORDER BY l_returnflag) AS tag_bag
      FROM lineitem GROUP BY 1),
    quads AS (
      SELECT concat('https://example.org/name/', name_id) AS subject,
             'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS predicate,
             'https://example.org/def/GeographicalName' AS object_value,
             NULL AS object_datatype
      FROM names
      UNION ALL
      SELECT concat('https://example.org/name/', name_id),
             'https://schema.org/validFrom',
             strftime(o_orderdate, '%Y-%m-%d'),
             'http://www.w3.org/2001/XMLSchema#date'
      FROM names WHERE o_orderdate IS NOT NULL
      UNION ALL
      SELECT concat('https://example.org/name/', name_id),
             'https://schema.org/authority',
             concat('https://example.org/authority/', lower(replace(o_orderpriority, '-', ''))),
             NULL
      FROM names
      UNION ALL
      SELECT concat('https://example.org/name/', name_id),
             'https://schema.org/keywords', t.tag_bag, NULL
      FROM names n JOIN tags t USING (name_id)
      UNION ALL
      SELECT concat('https://example.org/name/', name_id),
             'http://www.w3.org/ns/prov#wasDerivedFrom',
             concat('https://example.org/name/', name_id // 2), NULL
      FROM names WHERE name_id // 2 != name_id AND (name_id // 2) % 20 = 0
    )
    SELECT subject, predicate, object_value, object_datatype FROM quads
    """,
    tags=["T7", "T8", "T9", "F7", "F8", "F19", "A5", "J11"],
)
def t7_name_fanout(spark, sf_dir):
    """The PNDB name transform shape (T7, the reference's richest): name row
    → typed node + xsd:date lifecycle literal (F8) + authority IRI (slug,
    F11) + COLLECTED per-name tag bag (A5/J11 — the N+1 per-row tag lookup
    becomes one groupBy+join, ref /root/reference/etl_pndb.py:385-395) +
    prov:wasDerivedFrom history edge (ref etl_pndb.py:358-369)."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 20 == 0)
    li = t(spark, sf_dir, "lineitem")
    tags = (
        li.groupBy(F.col("l_orderkey").alias("name_id"))
        .agg(F.concat_ws(",", F.sort_array(F.collect_set("l_returnflag"))).alias("tag_bag"))
    )
    names = o.select(
        F.col("o_orderkey").alias("name_id"), "o_orderdate", "o_orderpriority"
    ).join(tags, "name_id", "left")
    # quad_sql templates: identical expressions, one py4j parse for the
    # whole fan-out (see quads.quad_sql; this builder also runs inside
    # etl_end_to_end_counts)
    subj = "format_string('https://example.org/name/%s', name_id)"
    quads = fan_out_sql(
        names,
        quad_sql(subj, _RDF_TYPE, "'https://example.org/def/GeographicalName'", "iri"),
        quad_sql(subj, "https://schema.org/validFrom",
                 "date_format(o_orderdate, 'yyyy-MM-dd')", "literal",
                 object_datatype="http://www.w3.org/2001/XMLSchema#date",
                 cond="o_orderdate IS NOT NULL"),
        quad_sql(subj, "https://schema.org/authority",
                 "format_string('https://example.org/authority/%s', "
                 "lower(regexp_replace(o_orderpriority, '-', '')))", "iri"),
        quad_sql(subj, "https://schema.org/keywords", "tag_bag", "literal",
                 cond="tag_bag IS NOT NULL"),
        quad_sql(subj, "http://www.w3.org/ns/prov#wasDerivedFrom",
                 "format_string('https://example.org/name/%s', "
                 "CAST(FLOOR(name_id / 2) AS BIGINT))", "iri",
                 cond="FLOOR(name_id / 2) != name_id"
                 " AND FLOOR(name_id / 2) % 20 = 0"),
    )
    return quads.select("subject", "predicate", "object_value", "object_datatype")


@register(
    "t3_road_vocab_fanout",
    """
    WITH roads AS (
      SELECT s_suppkey AS road_id,
             replace(s_name, 'Supplier#', 'Road ') AS road_name,
             (['STREET','ROAD','AVENUE','LANE','DRIVE'])[(s_nationkey % 5) + 1] AS road_type
      FROM supplier),
    referenced AS (SELECT DISTINCT o_orderkey % 100 AS road_id FROM orders),
    enriched AS (
      SELECT r.*, (ref.road_id IS NULL) AS missing
      FROM roads r LEFT JOIN referenced ref ON r.road_id = ref.road_id),
    quads AS (
      SELECT concat('https://example.org/road/', road_id) AS subject,
             'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS predicate,
             'https://example.org/def/RoadObject' AS object_value
      FROM enriched
      UNION ALL
      SELECT concat('https://example.org/road/', road_id),
             'https://schema.org/name',
             concat(road_name, ' ', road_type)
      FROM enriched
      UNION ALL
      SELECT concat('https://example.org/road/', road_id),
             'https://example.org/def/roadType',
             concat('https://example.org/def/road-types/', lower(road_type))
      FROM enriched
      UNION ALL
      SELECT concat('https://example.org/road/', road_id),
             'https://example.org/def/missingFromAddresses', 'true'
      FROM enriched WHERE missing
    )
    SELECT subject, predicate, object_value FROM quads
    """,
    tags=["T2", "T3", "T4", "J4", "J5", "J13", "F1", "F11"],
)
def t3_road_vocab_fanout(spark, sf_dir):
    """The road transforms (T2-T4): road row → RoadObject + compound
    RoadName (name || ' ' || type, F1) + VOCAB-RESOLVED type concept IRI
    (J13 broadcast lookup with strict mode — every code must resolve, ref
    /root/reference/etl_qrt.py:139-149) + the missing-road flag via
    anti-join semantics (T4/J5, ref /root/reference/etl_lalf_road_missing_qrt.py)."""
    from cam_etl_spark.operators.vocab import lookup_concept, vocab_df

    s = t(spark, sf_dir, "supplier")
    o = t(spark, sf_dir, "orders")
    road_types = ["STREET", "ROAD", "AVENUE", "LANE", "DRIVE"]
    # selectExpr / quad_sql below: identical expressions, parsed in a
    # handful of py4j calls instead of a Column-chain per field (this
    # builder runs inside etl_end_to_end_counts too; see quads.quad_sql)
    rt_arr = "array(" + ", ".join(f"'{x}'" for x in road_types) + ")"
    roads = s.selectExpr(
        "s_suppkey AS road_id",
        "regexp_replace(s_name, 'Supplier#', 'Road ') AS road_name",
        f"element_at({rt_arr}, CAST(s_nationkey % {len(road_types)} + 1 AS INT))"
        " AS road_type",
    )
    # J13: the type code resolves through the broadcast vocab, fail-fast
    vocab = vocab_df(
        spark,
        {rt: f"https://example.org/def/road-types/{rt.lower()}" for rt in road_types},
    )
    # validate_now=False: the quad fan-out below provably evaluates
    # type_iri, so the inline strict guard cannot be pruned — skip the
    # eager gate's extra action.
    roads = lookup_concept(
        roads, vocab, "road_type", out_col="type_iri", strict=True, validate_now=False
    )
    # T4: roads never referenced by an address (J4 dedup-then-flag). ONE
    # left join against the deduped reference keys with
    # missing := ref IS NULL — the oracle's own shape (enroads CTE) — in
    # place of the old anti-join + re-join-back pair: the anti-join's
    # TRUE/absent flag and this join's TRUE/FALSE flag are
    # indistinguishable to the only consumer (the CASE WHEN missing quad
    # guard treats NULL and FALSE alike), and one broadcast join replaces
    # two (guide §2.4).
    referenced = (
        o.select((F.col("o_orderkey") % 100).alias("road_id"))
        .dropDuplicates()
        .withColumn("__ref", F.lit(True))
    )
    enriched = roads.join(referenced, "road_id", "left").withColumn(
        "missing", F.col("__ref").isNull()
    )
    subj = "format_string('https://example.org/road/%s', road_id)"
    quads = fan_out_sql(
        enriched,
        quad_sql(subj, _RDF_TYPE, "'https://example.org/def/RoadObject'", "iri"),
        quad_sql(subj, "https://schema.org/name",
                 "concat_ws(' ', road_name, road_type)", "literal"),
        quad_sql(subj, "https://example.org/def/roadType", "type_iri", "iri"),
        quad_sql(subj, "https://example.org/def/missingFromAddresses",
                 "'true'", "literal", cond="missing"),
    )
    return quads.select("subject", "predicate", "object_value")


@register(
    "t2_road_name_normalization",
    """
    WITH roads AS (
      SELECT s_suppkey AS road_id,
             CASE s_suppkey % 4
               WHEN 0 THEN concat('GREEN  HILL ', replace(s_name, 'Supplier#', ''))
               WHEN 1 THEN concat('O''CONNOR ', replace(s_name, 'Supplier#', ''))
               WHEN 2 THEN concat('MARY - ANNE ', replace(s_name, 'Supplier#', ''))
               ELSE concat('PLAIN ', replace(s_name, 'Supplier#', ''))
             END AS road_name,
             CASE s_nationkey % 5 WHEN 0 THEN 'STREET' WHEN 1 THEN 'ROAD'
               WHEN 2 THEN 'XXX' WHEN 3 THEN 'LANE' ELSE 'DRIVE' END AS type_label,
             CASE s_suppkey % 3 WHEN 0 THEN 'NORTH' WHEN 1 THEN 'SOUTH'
               ELSE NULL END AS suffix_label
      FROM supplier),
    named AS (
      SELECT road_id,
             trim(regexp_replace(
               replace(replace(regexp_replace(
                 concat_ws(' ', road_name, type_label, suffix_label),
                 '\\bXXX\\b', '', 'g'), ' - ', ' '), '''', ''),
               '\\s+', ' ', 'g')) AS road_name_basic
      FROM roads),
    qrt AS (
      SELECT concat('QRT-', road_id) AS qrt_road_id, road_name_basic
      FROM named WHERE road_id % 2 = 0)
    SELECT n.road_id, n.road_name_basic, q.qrt_road_id,
           CASE WHEN q.qrt_road_id IS NOT NULL THEN 1 ELSE 0 END AS qrt_found
    FROM named n LEFT JOIN qrt q ON n.road_name_basic = q.road_name_basic
    """,
    tags=["T2", "T4", "J3", "J13", "F1", "F2", "F4"],
)
def t2_road_name_normalization(spark, sf_dir):
    """The road-name construction + QRT matching (T2/T4): build
    qrt_road_name_basic from name + vocab-resolved type + optional suffix
    (ref /root/reference/etl-notes.md:74-98), run the reference's cleanup
    passes — XXX suppressed-type removal, ' - ' compound and apostrophe
    stripping, whitespace collapse (ref /root/reference/etl-notes.md:100-148)
    — then left-join QRT on the derived name to set qrt_road_id/qrt_found
    (ref /root/reference/etl-notes.md:182-236). The reference does this as
    six sequential SQL UPDATE passes; here it is one select over one scan,
    and the match is a shuffle equi-join on the derived key (J3) that AQE
    can downgrade to broadcast when the QRT side is small."""
    from cam_etl_spark.functions.strings import clean_display_name
    from cam_etl_spark.operators.vocab import lookup_concept, vocab_df

    s = t(spark, sf_dir, "supplier")
    raw = F.replace(F.col("s_name"), F.lit("Supplier#"), F.lit(""))
    m4 = F.col("s_suppkey") % 4
    road_name = (
        F.when(m4 == 0, F.concat(F.lit("GREEN  HILL "), raw))
        .when(m4 == 1, F.concat(F.lit("O'CONNOR "), raw))
        .when(m4 == 2, F.concat(F.lit("MARY - ANNE "), raw))
        .otherwise(F.concat(F.lit("PLAIN "), raw))
    )
    roads = s.select(
        F.col("s_suppkey").alias("road_id"),
        road_name.alias("road_name"),
        (F.col("s_nationkey") % 5).cast("string").alias("type_code"),
        F.when(F.col("s_suppkey") % 3 == 0, "N")
        .when(F.col("s_suppkey") % 3 == 1, "S")
        .alias("suffix_code"),
    )
    # J13: both codes resolve through broadcast vocab joins, like the
    # reference's lf_road_name_type / lf_road_name_suffix UPDATE joins.
    type_vocab = vocab_df(
        spark, {"0": "STREET", "1": "ROAD", "2": "XXX", "3": "LANE", "4": "DRIVE"}
    )
    suffix_vocab = vocab_df(spark, {"N": "NORTH", "S": "SOUTH"})
    roads = lookup_concept(roads, type_vocab, "type_code", out_col="type_label")
    roads = lookup_concept(roads, suffix_vocab, "suffix_code", out_col="suffix_label")
    named = roads.select(
        "road_id",
        clean_display_name(
            F.concat_ws(" ", "road_name", "type_label", "suffix_label")
        ).alias("road_name_basic"),
    )
    qrt = named.filter(F.col("road_id") % 2 == 0).select(
        F.format_string("QRT-%s", F.col("road_id")).alias("qrt_road_id"),
        F.col("road_name_basic").alias("qrt_name"),
    )
    return (
        named.join(qrt, named.road_name_basic == qrt.qrt_name, "left")
        .select(
            "road_id",
            "road_name_basic",
            "qrt_road_id",
            F.when(F.col("qrt_road_id").isNotNull(), 1).otherwise(0).alias("qrt_found"),
        )
    )


@register(
    "surface_token_search",
    """
    WITH toks AS (
      SELECT DISTINCT doc_id,
             unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
      FROM documents),
    hits AS (
      SELECT doc_id, count(*) AS n_matched
      FROM toks WHERE tok IN ('spark', 'scan', 'sort')
      GROUP BY 1)
    SELECT h.doc_id, d.n_chars
    FROM hits h JOIN documents d USING (doc_id)
    WHERE h.n_matched = 3
    ORDER BY h.doc_id LIMIT 50
    """,
    tags=["S11", "F5", "query-surface", "fts"],
)
def surface_token_search(spark, sf_dir):
    """Tokenized AND search — the Lucene text-index query shape (ref
    /root/reference/fuseki/qali.ttl:62-79; query sanitization
    /root/reference/meili/main.py:57-76): docs containing ALL query tokens,
    via an inverted-index explode + distinct-hit count == n_tokens. The
    token filter prunes the exploded frame before the aggregation."""
    from cam_etl_spark.functions.text import tokens

    q_tokens = ["spark", "scan", "sort"]
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.array_distinct(tokens(F.lower(F.trim(F.col("text")))))).alias("tok")
    )
    hits = (
        toks.filter(F.col("tok").isin(q_tokens))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_matched"))
        .filter(F.col("n_matched") == len(q_tokens))
    )
    return (
        hits.join(d.select("doc_id", "n_chars"), "doc_id")
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
        .limit(50)
    )


@register(
    "surface_phrase_search",
    """
    WITH lsts AS (
      SELECT doc_id, string_split_regex(lower(text), '[^a-z0-9]+') AS lst
      FROM documents),
    toks AS (
      SELECT doc_id, lst[p + 1] AS term, p AS pos
      FROM lsts, unnest(range(len(lst))) AS r(p)
      WHERE lst[p + 1] <> ''),
    t0 AS (SELECT doc_id, pos AS p0 FROM toks WHERE term = 'spark'),
    t1 AS (SELECT doc_id, pos - 1 AS p0 FROM toks WHERE term = 'window')
    SELECT doc_id, count(*) AS n_occurrences, min(p0)::int AS first_pos
    FROM t0 JOIN t1 USING (doc_id, p0)
    GROUP BY doc_id
    """,
    tags=["S11", "F5", "query-surface", "fts", "phrase"],
)
def surface_phrase_search(spark, sf_dir):
    """Positional-index phrase search (operators/similarity.phrase_search):
    documents containing the exact token sequence "spark window", with
    occurrence count and first position. The phrase-query shape the
    reference's FTS engines answer from a Lucene positional index (ref
    /root/reference/fuseki/qali.ttl:62-79, /root/reference/meili/main.py:
    92-180) — here the (doc, term, pos) postings are built in one
    posexplode pass and adjacency is an equi-join on (doc_id, pos+i),
    which Catalyst shuffles like any join; no regex scan of the full
    text. Positions are assigned before dropping empty tokens so both
    engines derive them identically from the raw split."""
    from cam_etl_spark.operators.similarity import phrase_search

    d = t(spark, sf_dir, "documents")
    return phrase_search(d, ["spark", "window"])


@register(
    "a8_percentiles",
    """
    SELECT o_orderstatus AS status,
           round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
           round(quantile_cont(o_totalprice, 0.99), 4) AS p99
    FROM orders GROUP BY 1
    """,
    tags=["A3", "percentiles"],
)
def a8_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per group (Spark ``percentile`` ==
    DuckDB ``quantile_cont``) — not in the reference (its profiling used
    plain counts) but table stakes for an analytics engine. Exact
    percentile is a full sort per group; at 100 TB swap in
    ``approx_percentile`` (t-digest, mergeable partial agg)."""
    return (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
            F.round(F.expr("percentile(o_totalprice, 0.99)"), 4).alias("p99"),
        )
    )


@register(
    "a9_pivot_status_matrix",
    """
    SELECT o_orderpriority AS priority,
           round(sum(o_totalprice) FILTER (o_orderstatus = 'F'), 2) AS f_revenue,
           round(sum(o_totalprice) FILTER (o_orderstatus = 'O'), 2) AS o_revenue,
           round(sum(o_totalprice) FILTER (o_orderstatus = 'P'), 2) AS p_revenue
    FROM orders GROUP BY 1
    """,
    tags=["A3", "pivot"],
)
def a9_pivot_status_matrix(spark, sf_dir):
    """Pivot: status columns per priority row (the wide matrix shape of the
    reference's exploration probes). ``groupBy().pivot(values)`` with the
    value list pre-declared — one pass, no extra job to discover columns."""
    return (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.round(F.sum("o_totalprice"), 2))
        .select(
            "priority",
            F.col("F").alias("f_revenue"),
            F.col("O").alias("o_revenue"),
            F.col("P").alias("p_revenue"),
        )
    )


@register(
    "a10_cube_counts",
    """
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           CASE WHEN grouping(o_orderpriority) = 1 THEN 'ALL'
                ELSE o_orderpriority END AS priority,
           count(*) AS n
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=["A3", "cube"],
)
def a10_cube_counts(spark, sf_dir):
    """CUBE over (status, priority): all four grouping-set combinations in
    one pass (Expand + single aggregation — not four scans)."""
    return (
        t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), F.grouping("o_orderpriority").alias("g_p"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.when(F.col("g_p") == 1, "ALL").otherwise(F.col("o_orderpriority")).alias("priority"),
            "n",
        )
    )


@register(
    "a12_grouping_sets",
    """
    SELECT CASE WHEN grouping(o_orderstatus) = 1 THEN 'ALL'
                ELSE o_orderstatus END AS status,
           CASE WHEN grouping(o_orderpriority) = 1 THEN 'ALL'
                ELSE o_orderpriority END AS priority,
           grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS gid,
           count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    tags=["A3", "grouping-sets"],
)
def a12_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS — the asymmetric aggregation plan ROLLUP and
    CUBE (a7/a10) cannot express: per-status totals, per-priority totals,
    and the grand total in ONE Expand + aggregation, with grouping_id
    disambiguating which set each row came from (the reference computes
    these reconciliation counts as separate scans — SURVEY §5.3)."""
    o = t(spark, sf_dir, "orders")
    grouped = o.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.count("*").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
        F.grouping("o_orderstatus").alias("g_s"),
        F.grouping("o_orderpriority").alias("g_p"),
    )
    return grouped.select(
        F.when(F.col("g_s") == 1, "ALL").otherwise(F.col("o_orderstatus")).alias("status"),
        F.when(F.col("g_p") == 1, "ALL").otherwise(F.col("o_orderpriority")).alias("priority"),
        (F.col("g_s") * 2 + F.col("g_p")).cast("int").alias("gid"),
        "n",
        "total",
    )


@register(
    "u4_union_schema_evolution",
    """
    WITH old_rows AS (
      SELECT c_custkey AS cust_id, c_name AS name, NULL::VARCHAR AS segment
      FROM customer WHERE c_custkey % 2 = 0),
    new_rows AS (
      SELECT c_custkey AS cust_id, c_name AS name, c_mktsegment AS segment
      FROM customer WHERE c_custkey % 2 = 1)
    SELECT cust_id, name, segment FROM old_rows
    UNION ALL
    SELECT cust_id, name, segment FROM new_rows
    """,
    tags=["U1", "schema-evolution"],
)
def u4_union_schema_evolution(spark, sf_dir):
    """Schema-evolution union: an old extract lacking a column unions with
    a new extract that has it, via unionByName(allowMissingColumns=True)
    — the missing column padding with NULLs by NAME, not position (a
    positional unionAll would silently misalign; the reference's
    multi-generation exports make this the realistic merge shape)."""
    c = t(spark, sf_dir, "customer")
    old_rows = c.filter(F.col("c_custkey") % 2 == 0).select(
        F.col("c_custkey").alias("cust_id"), F.col("c_name").alias("name")
    )
    new_rows = c.filter(F.col("c_custkey") % 2 == 1).select(
        F.col("c_custkey").alias("cust_id"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
    )
    return old_rows.unionByName(new_rows, allowMissingColumns=True)


@register(
    "surface_multiline_address",
    """
    WITH addresses AS (
      SELECT o_orderkey::varchar AS addr_id,
             (o_orderkey % 100)::varchar AS road_id,
             CASE WHEN o_orderkey % 3 = 0 THEN (o_orderkey % 50 + 1)::varchar END AS unit_no,
             (o_orderkey % 300 + 1)::varchar AS street_no_first
      FROM orders WHERE o_orderstatus != 'P' AND o_orderkey % 50 = 0),
    roads AS (SELECT s_suppkey::varchar AS road_id,
                     replace(s_name, 'Supplier#', 'Road ') AS road_name,
                     (['STREET','ROAD','AVENUE','LANE','DRIVE'])[(s_nationkey % 5) + 1] AS road_type,
                     s_nationkey::varchar AS locality_code
              FROM supplier),
    localities AS (SELECT n_nationkey::varchar AS locality_code, r_name AS locality_name
                   FROM nation JOIN region ON n_regionkey = r_regionkey)
    SELECT concat('https://example.org/address/', a.addr_id) AS subject,
           concat_ws(chr(10),
             CASE WHEN a.unit_no IS NOT NULL THEN 'UNIT ' || a.unit_no END,
             a.street_no_first || coalesce(' ' || rd.road_name || ' ' || rd.road_type, ''),
             upper(l.locality_name)) AS block_label
    FROM addresses a
    LEFT JOIN roads rd ON a.road_id = rd.road_id
    LEFT JOIN localities l ON rd.locality_code = l.locality_code
    """,
    tags=["F18", "T13", "query-surface"],
)
def surface_multiline_address(spark, sf_dir):
    """The MULTI-LINE postal rendering — the Jinja block template of the
    reference's web app (ref /root/reference/cam/compound_naming.py:38-90:
    unit line, street line, locality line) as concat_ws('\\n') with
    null-skipped lines. Byte-exact across engines including the newlines."""
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderstatus") != "P") & (F.col("o_orderkey") % 50 == 0)
    )
    s = t(spark, sf_dir, "supplier")
    n, r = t(spark, sf_dir, "nation"), t(spark, sf_dir, "region")
    road_types = ["STREET", "ROAD", "AVENUE", "LANE", "DRIVE"]
    roads = s.select(
        F.col("s_suppkey").cast("string").alias("road_id"),
        F.regexp_replace("s_name", "Supplier#", "Road ").alias("road_name"),
        F.element_at(F.array(*[F.lit(x) for x in road_types]),
                     (F.col("s_nationkey") % 5 + 1).cast("int")).alias("road_type"),
        F.col("s_nationkey").cast("string").alias("locality_code"),
    )
    locs = n.join(r, n.n_regionkey == r.r_regionkey).select(
        F.col("n_nationkey").cast("string").alias("locality_code"),
        F.col("r_name").alias("locality_name"),
    )
    a = o.select(
        F.col("o_orderkey").cast("string").alias("addr_id"),
        (F.col("o_orderkey") % 100).cast("string").alias("road_id"),
        F.when(F.col("o_orderkey") % 3 == 0,
               (F.col("o_orderkey") % 50 + 1).cast("string")).alias("unit_no"),
        (F.col("o_orderkey") % 300 + 1).cast("string").alias("street_no_first"),
    )
    j = a.join(F.broadcast(roads), "road_id", "left").join(F.broadcast(locs), "locality_code", "left")
    street_line = F.concat(
        F.col("street_no_first"),
        F.when(F.col("road_name").isNotNull(),
               F.concat(F.lit(" "), F.col("road_name"), F.lit(" "), F.col("road_type"))
               ).otherwise(F.lit("")),
    )
    return j.select(
        F.format_string("https://example.org/address/%s", F.col("addr_id")).alias("subject"),
        F.concat_ws(
            "\n",
            F.when(F.col("unit_no").isNotNull(), F.concat(F.lit("UNIT "), F.col("unit_no"))),
            street_line,
            F.upper("locality_name"),
        ).alias("block_label"),
    )


@register(
    "s10_geocode_csv_export",
    f"""
    SELECT s_suppkey AS objectid,
           concat(s_nationkey, '/', 'SP', s_nationkey % 5) AS lotplan,
           round({lon_sql('s_suppkey * 7 + 3')}, 6) AS longitude,
           round({lat_sql('s_suppkey * 11 + 5')}, 6) AS latitude,
           concat('POINT (', round({lon_sql('s_suppkey * 7 + 3')}, 6),
                  ' ', round({lat_sql('s_suppkey * 11 + 5')}, 6), ')') AS wkt
    FROM supplier ORDER BY objectid
    """,
    tags=["S10", "F1", "F13", "P1"],
)
def s10_geocode_csv_export(spark, sf_dir):
    """The ESRI geocode CSV export shape (S10, ref
    /root/reference/get_geocodes_as_csv_for_esri.py:44-110): aliased
    projection + concat lotplan + WKT column, ordered for a stable file.
    The CSV sink itself is io.write_csv; the query is the exported frame."""
    from cam_etl_spark.functions.spatial import wkt_point

    s = t(spark, sf_dir, "supplier")
    lon = F.round(F.expr(lon_sql("s_suppkey * 7 + 3")), 6)
    lat = F.round(F.expr(lat_sql("s_suppkey * 11 + 5")), 6)
    return s.select(
        F.col("s_suppkey").alias("objectid"),
        F.format_string("%s/SP%s", F.col("s_nationkey"), F.col("s_nationkey") % 5).alias("lotplan"),
        lon.alias("longitude"),
        lat.alias("latitude"),
        wkt_point(lon, lat).alias("wkt"),
    ).orderBy("objectid")


@register(
    "j10_knn_haversine",
    f"""
    WITH pts AS (SELECT c_custkey AS query_id,
                        {lon_sql('c_custkey')} AS qlon,
                        {lat_sql('c_custkey')} AS qlat
                 FROM customer WHERE c_custkey % 25 = 0),
         tgt AS (SELECT s_suppkey AS target_id,
                        {lon_sql('s_suppkey * 7 + 3')} AS tlon,
                        {lat_sql('s_suppkey * 11 + 5')} AS tlat
                 FROM supplier),
         scored AS (
           SELECT query_id, target_id,
                  round(2 * 6371.0088 * asin(sqrt(
                    sin(radians(tlat - qlat) / 2) ^ 2 +
                    cos(radians(qlat)) * cos(radians(tlat)) *
                    sin(radians(tlon - qlon) / 2) ^ 2)), 3) AS km,
                  row_number() OVER (PARTITION BY query_id ORDER BY
                    2 * 6371.0088 * asin(sqrt(
                      sin(radians(tlat - qlat) / 2) ^ 2 +
                      cos(radians(qlat)) * cos(radians(tlat)) *
                      sin(radians(tlon - qlon) / 2) ^ 2)), target_id) AS rn
           FROM pts CROSS JOIN tgt)
    SELECT query_id, target_id, km FROM scored WHERE rn = 1
    """,
    tags=["J10", "F15", "W2"],
)
def j10_knn_haversine(spark, sf_dir):
    """Nearest target by GEODESIC (haversine) distance — the spherical F15
    the planar j10 approximates; identical great-circle formula in both
    engines, deterministic tie-break."""
    from cam_etl_spark.functions.spatial import haversine_km

    c = t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 25 == 0)
    s = t(spark, sf_dir, "supplier")
    pts = c.select(F.col("c_custkey").alias("query_id"),
                   F.expr(lon_sql("c_custkey")).alias("qlon"), F.expr(lat_sql("c_custkey")).alias("qlat"))
    tgt = s.select(F.col("s_suppkey").alias("target_id"),
                   F.expr(lon_sql("s_suppkey * 7 + 3")).alias("tlon"),
                   F.expr(lat_sql("s_suppkey * 11 + 5")).alias("tlat"))
    km = haversine_km(F.col("qlat"), F.col("qlon"), F.col("tlat"), F.col("tlon"))
    scored = pts.crossJoin(F.broadcast(tgt)).withColumn("km_raw", km)
    w = Window.partitionBy("query_id").orderBy(F.col("km_raw").asc(), F.col("target_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", "target_id", F.round("km_raw", 3).alias("km"))
    )


@register(
    "clean_corpus_pipeline",
    f"""
    WITH fp AS (
      SELECT doc_id, md5(trim(regexp_replace(regexp_replace(lower(text),
                 '[[:punct:]]', '', 'g'), '\\s+', ' ', 'g'))) AS fingerprint
      FROM documents),
    exact_keep AS (
      SELECT min(doc_id) AS doc_id FROM fp GROUP BY fingerprint),
    toksw AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
      FROM documents),
    {shingle_inter('toksw')},
    near_pairs AS (
      SELECT id_a, id_b
      FROM inter
      {JACCARD_FILTER}),
    survivors AS (
      SELECT e.doc_id FROM exact_keep e
      WHERE e.doc_id NOT IN (SELECT id_b FROM near_pairs)),
    quality AS (
      SELECT doc_id FROM documents
      WHERE length(text) >= 100
        AND len(string_split_regex(trim(text), '\\s+')) >= 20)
    SELECT s.doc_id FROM survivors s JOIN quality q USING (doc_id)
    """,
    tags=["pipeline", "dedup-exact", "dedup-jaccard", "text-quality"],
)
def clean_corpus_pipeline(spark, sf_dir):
    """END-TO-END corpus cleaning — the composition a training-data
    pipeline actually runs: (1) exact dedup keeps the lowest-id doc per
    normalized fingerprint, (2) near-dup removal drops the higher id of
    every Jaccard-0.5 pair (prefix-filtered exact pairs), (3) the quality
    gate (length + token floor). Three operators, one surviving-ids frame;
    each stage's shuffle key differs so AQE pipelines them."""
    from cam_etl_spark.functions.text import token_count
    from cam_etl_spark.operators.dedup import duplicate_groups, ngram_jaccard_pairs
    from cam_etl_spark.operators.dedup import exact_dedup

    d = t(spark, sf_dir, "documents")
    kept = exact_dedup(d)  # lowest-id representative per fingerprint
    near = ngram_jaccard_pairs(d, k=3, threshold=0.5).select(F.col("id_b").alias("doc_id")).distinct()
    survivors = kept.join(near, "doc_id", "left_anti")
    quality = (F.length("text") >= 100) & (token_count(F.col("text")) >= 20)
    return survivors.filter(quality).select("doc_id")


@register(
    "a11_approx_aggregates",
    """
    SELECT l_returnflag AS flag,
           count(*) AS n_rows,
           count(DISTINCT l_orderkey) AS exact_orders,
           TRUE AS cd_ok,
           TRUE AS p50_ok
    FROM lineitem GROUP BY 1
    """,
    tags=["A2", "approx"],
)
def a11_approx_aggregates(spark, sf_dir):
    """Sketch-based aggregates for 100 TB profiling: HLL++ distinct counts
    and t-digest percentiles — mergeable partial aggregates (one shuffle of
    sketch bytes, never of rows), where the exact forms (a2/a8) sort or
    de-duplicate whole columns.

    Error-bound oracle (was rows-only): sketches are approximate by
    construction, so the oracle-checked statement is the ERROR BOUND, not
    the sketch value — HLL++ at rsd=0.01 within 5% of the exact distinct
    count, approx_percentile(accuracy=1000) landing inside the exact
    [p45, p55] band (its rank error is ≤ n/1000). DuckDB pins the exact
    counts and TRUE per group; a sketch regression breaks the hash.

    Plan shape: the exact distinct count runs as its OWN two-level
    aggregation (groupBy(flag, orderkey) → groupBy(flag)) joined back on
    the 3-row flag key — mixing count_distinct into the sketch groupBy
    triggers Catalyst's Expand rewrite, which drags every other aggregate
    buffer (16 KB HLL register arrays, percentile value arrays) through
    doubled rows and merges: measured 12.5 s vs 2-3 s split, at sf0.01.
    rsd=0.02 (4 K registers) keeps observed error ≤3.3% across
    sf0.001-0.1 — inside the 5% bound with margin, at a quarter of the
    rsd=0.01 sketch size that dominated the merge cost."""
    li = t(spark, sf_dir, "lineitem")
    flag = F.col("l_returnflag").alias("flag")
    sketches = li.groupBy(flag).agg(
        F.count("*").alias("n_rows"),
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
        F.expr("approx_percentile(l_extendedprice, 0.5, 1000)").alias("approx_p50"),
        F.expr("percentile(l_extendedprice, 0.45)").alias("p45"),
        F.expr("percentile(l_extendedprice, 0.55)").alias("p55"),
    )
    exact = (
        li.groupBy(flag, F.col("l_orderkey"))
        .agg(F.lit(1).alias("_one"))
        .groupBy("flag")
        .agg(F.count("*").alias("exact_orders"))
    )
    return (
        sketches.join(exact, "flag")
        .select(
            "flag",
            "n_rows",
            "exact_orders",
            (
                F.abs(F.col("approx_orders") - F.col("exact_orders"))
                <= 0.05 * F.col("exact_orders")
            ).alias("cd_ok"),
            (
                (F.col("approx_p50") >= F.col("p45"))
                & (F.col("approx_p50") <= F.col("p55"))
            ).alias("p50_ok"),
        )
    )


@register(
    "surface_bm25_ranking",
    f"""
    WITH toks AS (
        SELECT doc_id, tt.term
        {TERMS}
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
           WHERE term IN ('spark', 'window', 'hash') GROUP BY 1, 2),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)
    SELECT tf.doc_id,
           round(sum(ln((n_docs - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE) + 1.0::DOUBLE)
                     * tf * (1.2::DOUBLE + 1) /
                     (tf + 1.2::DOUBLE * (1 - 0.75::DOUBLE + 0.75::DOUBLE * dl.dl / avgdl))), 4)
               AS score,
           count(*) AS n_terms
    FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
    GROUP BY tf.doc_id
    ORDER BY score DESC, doc_id
    LIMIT 50
    """,
    tags=["S11", "F5", "text", "fts"],
    bench=True,
    plan={**PIPELINE_PLAN, "Exchange hashpartitioning": (0, 6), "BroadcastHashJoin": (2, None)},
)
def surface_bm25_ranking(spark, sf_dir):
    """BM25 full-text ranking over the documents corpus — the scoring the
    reference delegates to Meilisearch / Lucene FTS (ref
    /root/reference/meili/index_addr.py:86-160, /root/reference/fuseki/
    qali.ttl:62-79) expressed as pure DataFrame algebra so it runs IN the
    engine at corpus scale. Shape: one tokenize pass feeds both the
    doc-length profile and the (query-terms-only) term frequencies; df/N/
    avgdl are tiny aggregates broadcast back onto the tf rows, so the only
    at-scale shuffles are the two token groupBys (partial-agg combines
    map-side). Scores are rounded in both engines before the top-k order so
    libm ulp differences can't flip the cutoff."""
    d = t(spark, sf_dir, "documents")
    query_terms = ["spark", "window", "hash"]
    k1, b = 1.2, 0.75

    toks = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("term")
    ).filter(F.col("term") != "")
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    tf = (
        toks.filter(F.col("term").isin(query_terms))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))

    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    denom = F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    contrib = idf * F.col("tf") * (k1 + 1) / denom
    return (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(contrib), 4).alias("score"), F.count("*").alias("n_terms"))
        .orderBy(F.desc("score"), "doc_id")
        .limit(50)
    )


def _t10_oracle() -> str:
    """DuckDB has no sha1, so (exactly like catalog._f10_oracle) the
    uuid5 mints are carried as precomputed CPython ``uuid.uuid5``
    VALUES fixtures over the testdata key domains — addresses over
    custkey 0..14999 and property names over the o_orderkey % 40 = 0
    selection of 0..149999 (both cover sf0.1); beyond the domain an
    explicit sentinel makes an oversized sf fail loudly."""
    import uuid as _uuid

    addr_ns = _uuid.uuid5(
        _uuid.NAMESPACE_URL,
        "https://linked.data.gov.au/dataset/qld-addr/address/",
    )
    prop_ns = _uuid.uuid5(
        _uuid.NAMESPACE_URL,
        "https://linked.data.gov.au/dataset/qld-addr/property/",
    )
    arows = ",".join(
        f"({k},'{_uuid.uuid5(addr_ns, str(k))}')"
        for k in range(15000)
    )
    prows = ",".join(
        f"({k},'{_uuid.uuid5(prop_ns, str(k))}')"
        for k in range(0, 150000, 40)
    )
    return f"""
    WITH afix(k, u) AS (VALUES {arows}),
         pfix(k, u) AS (VALUES {prows}),
    links AS (
      SELECT o.o_orderkey AS prop_id, c.c_custkey AS addr_id
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE o.o_orderkey % 40 = 0),
    en AS (
      SELECT l.prop_id,
             coalesce(af.u,
                      'FIXTURE-DOMAIN-EXCEEDED-REGENERATE-_t10_oracle'
             ) AS addr_uuid,
             coalesce(pf.u,
                      'FIXTURE-DOMAIN-EXCEEDED-REGENERATE-_t10_oracle'
             ) AS prop_uuid
      FROM links l LEFT JOIN afix af ON af.k = l.addr_id
                   LEFT JOIN pfix pf ON pf.k = l.prop_id),
    quads AS (
      SELECT concat(
               'https://linked.data.gov.au/dataset/qld-addr/address/',
               addr_uuid) AS subject,
             'https://schema.org/hasPart' AS predicate,
             concat(addr_uuid, '-', prop_id,
                    '-property-name') AS object_value,
             'bnode' AS object_kind
      FROM en
      UNION ALL
      SELECT concat(addr_uuid, '-', prop_id, '-property-name'),
             'https://schema.org/additionalType',
             'https://linked.data.gov.au/def/addr-part-types/propertyName',
             'iri'
      FROM en
      UNION ALL
      SELECT concat(addr_uuid, '-', prop_id, '-property-name'),
             'https://schema.org/value',
             concat('https://linked.data.gov.au/dataset/qld-addr/gn/',
                    prop_uuid),
             'iri'
      FROM en)
    SELECT subject, predicate, object_value, object_kind,
           'urn:qali:graph:addresses' AS graph
    FROM quads
    """


@register(
    "t10_property_on_address",
    _t10_oracle,  # callable: two uuid5 VALUES fixtures (~900 KB)
    tags=["T10", "T1", "F10", "F12", "J1"],
    plan={
        "Exchange hashpartitioning": (0, 0),
        "BroadcastHashJoin": (1, None),
        "CartesianProduct": (0, 0),
    },
)
def t10_property_on_address(spark, sf_dir):
    """The property-name-on-address link transform (T10 — the last §2
    ID to get its own entry, ref
    /root/reference/etl_lalf_property_name_on_address.py:32-58): each
    (property-name, address) link row fans out to the reference's
    exact three-quad shape in the addresses named graph — the address
    IRI (uuid5 of addr_id in the qld-addr address namespace,
    ref cam/etl/lalf_address.py:6-27) gains an sdo:hasPart blank node
    labeled "{addr_uuid}-{prop_id}-property-name"
    (ref :44), typed addr-pt:propertyName via sdo:additionalType and
    valued with the geographical-name IRI (uuid5 of prop_id in the
    property namespace, ref cam/etl/lalf_place_name.py:6-13). The
    source join (place names -> addresses, ref :78-82) is modeled as
    orders (o_orderkey % 40 = 0 as property-name links) joined to
    customer; both uuid5 mints run NATIVE (sha1 + hex surgery,
    functions/ids.py uuid5_expr — no Python in the hot path), so at
    100 TB this is one broadcast-or-shuffle equi-join plus a
    columnar explode."""
    import uuid as _uuid

    from cam_etl_spark.functions.ids import uuid5_expr

    addr_ns = _uuid.uuid5(
        _uuid.NAMESPACE_URL,
        "https://linked.data.gov.au/dataset/qld-addr/address/",
    )
    prop_ns = _uuid.uuid5(
        _uuid.NAMESPACE_URL,
        "https://linked.data.gov.au/dataset/qld-addr/property/",
    )
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 40 == 0)
    c = t(spark, sf_dir, "customer")
    links = o.select(
        F.col("o_orderkey").alias("prop_id"),
        F.col("o_custkey").alias("addr_id"),
    ).join(c.select(F.col("c_custkey").alias("addr_id")), "addr_id")
    en = links.select(
        "prop_id",
        uuid5_expr(addr_ns, F.col("addr_id").cast("string"))
        .alias("addr_uuid"),
        uuid5_expr(prop_ns, F.col("prop_id").cast("string"))
        .alias("prop_uuid"),
    )
    bnode = "concat_ws('-', addr_uuid, CAST(prop_id AS STRING), 'property-name')"
    addr_iri = (
        "format_string('https://linked.data.gov.au/dataset/qld-addr/address/%s',"
        " addr_uuid)"
    )
    gn_iri = (
        "format_string('https://linked.data.gov.au/dataset/qld-addr/gn/%s',"
        " prop_uuid)"
    )
    g = "urn:qali:graph:addresses"
    quads = fan_out_sql(
        en,
        quad_sql(addr_iri, "https://schema.org/hasPart", bnode, "bnode", graph=g),
        quad_sql(bnode, "https://schema.org/additionalType",
                 "'https://linked.data.gov.au/def/addr-part-types/propertyName'",
                 "iri", graph=g),
        quad_sql(bnode, "https://schema.org/value", gn_iri, "iri", graph=g),
    )
    return quads.select(
        "subject", "predicate", "object_value", "object_kind", "graph"
    )
