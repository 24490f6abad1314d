"""Catalog part 2: spatial joins, hierarchy recursion, quad fan-out, and the
training-data-pipeline extensions (dedup, similarity search, text analysis,
multimodal, streaming-shaped aggregation).

Lon/lat test geometry is synthesized deterministically from integer keys so
the spatial operators have an exact SQL oracle (QLD-ish coordinate ranges).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from cam_etl_spark.plans.catalog import (
    CHECKPOINT_PLAN,
    ONE_ROLLUP_PLAN,
    PIPELINE_PLAN,
    ROLLUP_PLAN,
    SCAN_ONLY_PLAN,
    WIDENED_DECODE_PLAN,
    fixture_dir,
    lat_sql,
    lon_sql,
    map_rows,
    register,
    sampled_docs,
    shard_files,
    t,
    task_per_item,
    widen,
    widen_table,
)
from cam_etl_spark.plans.oracle_sql import (
    CENTS,
    CHECKPOINT_PHASES,
    COSINE_TOP5,
    CUSTOMER_QUADS,
    DHASH_NEAR_PAIRS,
    HIERARCHY_ROOTS,
    JACCARD_FILTER,
    L2_NB_357,
    L2_STEPS,
    LANG_DOC_STATS,
    LATEST_EVENT_PER_USER,
    LSH_RECALL_OK,
    MD5_BYTES,
    MICRO_TOTALS,
    MP3_REGION_BOUNDS,
    MP3_STEREO_STATS,
    MP3_STEREO_VALUES,
    MPEG_AGG_COLS,
    NEAR_DUP_COMPONENTS,
    ORDERS_SEVENTH_DELETED,
    ORDER_BUCKET_STATS,
    ORDER_CENTS,
    ORDER_COLUMN_CHECKSUMS,
    ORDER_FEED_BY_STATUS,
    ORDER_STATUS_CENTS,
    ORDER_UPSERT,
    PART_SHAPES,
    PCM_STATS,
    REPEATED_SPAN_ISLANDS,
    SCFSI_EFF,
    SEGDIST,
    SHINGLE_SET,
    TABLE_3B3_SQL,
    TERMS,
    TK,
    TOKS,
    click_view_join,
    digest_image_oracle,
    doc_sample,
    int16_sample,
    l1_micro,
    l2_micro,
    md5_digest,
    near_dup_pairs,
)
from cam_etl_spark.streaming.transforms import file_stream, run_available_now, run_to_count

# ---------------------------------------------------------------------------
# Spatial joins (SURVEY J9, J10/W2, F15)
# ---------------------------------------------------------------------------


@register(
    "j10_knn_nearest",
    f"""
    WITH pts AS (SELECT c_custkey AS query_id,
                        {lon_sql('c_custkey')} AS qx,
                        {lat_sql('c_custkey')} AS qy
                 FROM customer WHERE c_custkey % 10 = 0),
         tgt AS (SELECT s_suppkey AS target_id,
                        {lon_sql('s_suppkey * 7 + 3')} AS tx,
                        {lat_sql('s_suppkey * 11 + 5')} AS ty
                 FROM supplier)
    SELECT query_id, target_id, round(distance, 6) AS distance FROM (
      SELECT p.query_id, t.target_id,
             sqrt((qx - tx) ^ 2 + (qy - ty) ^ 2) AS distance,
             row_number() OVER (PARTITION BY p.query_id
                                ORDER BY sqrt((qx - tx) ^ 2 + (qy - ty) ^ 2), t.target_id) AS rn
      FROM pts p CROSS JOIN tgt t)
    WHERE rn = 1
    """,
    tags=["J10", "W2", "F15"],
    bench=True,
    plan={**CHECKPOINT_PLAN, "Exchange hashpartitioning": (0, 1), "BroadcastHashJoin": (3, None)},
)
def j10_knn_nearest(spark, sf_dir):
    """Nearest-target spatial match — the PostGIS ``<->`` KNN operator
    (ref /root/reference/etl_lalf_road_qrt_spatial_match.py:80-87), executed
    as an exact grid-bucketed candidate join with escalating ring search
    (operators.knn.knn_join_exact) — no crossJoin of the target set; the
    broadcast brute-force path stays as the pytest baseline. Tiers sized
    from the synthetic geometry: measured max 1-NN distance is 0.72° at
    sf0.1 / 2.6° at sf0.01 / 5.8° at sf0.001, and the 64° tier covers the
    whole 16°×19° domain. Tie-break: distance asc, target_id asc."""
    from cam_etl_spark.operators.knn import knn_join_exact

    c = t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 10 == 0)
    s = t(spark, sf_dir, "supplier")
    pts = c.select(
        F.col("c_custkey").alias("query_id"),
        F.expr(lon_sql("c_custkey")).alias("x"),
        F.expr(lat_sql("c_custkey")).alias("y"),
    )
    tgt = s.select(
        F.col("s_suppkey").alias("target_id"),
        F.expr(lon_sql("s_suppkey * 7 + 3")).alias("x"),
        F.expr(lat_sql("s_suppkey * 11 + 5")).alias("y"),
    )
    out = knn_join_exact(pts, tgt, tiers=(1.0, 8.0, 64.0))
    return out.select("query_id", "target_id", F.round("distance", 6).alias("distance"))


@register(
    "j10_knn_candidates_filtered",
    f"""
    WITH pts AS (SELECT c_custkey AS query_id, c_nationkey AS qnation,
                        {lon_sql('c_custkey')} AS qx,
                        {lat_sql('c_custkey')} AS qy
                 FROM customer WHERE c_custkey % 10 = 0),
         tgt AS (SELECT s_suppkey AS target_id, s_nationkey AS tnation,
                        {lon_sql('s_suppkey * 7 + 3')} AS tx,
                        {lat_sql('s_suppkey * 11 + 5')} AS ty
                 FROM supplier),
         ranked AS (
           SELECT p.query_id, t.target_id, qnation, tnation,
                  sqrt((qx - tx) ^ 2 + (qy - ty) ^ 2) AS distance,
                  row_number() OVER (PARTITION BY p.query_id
                                     ORDER BY sqrt((qx - tx) ^ 2 + (qy - ty) ^ 2),
                                              t.target_id) AS cand_rank
           FROM pts p CROSS JOIN tgt t),
         filtered AS (
           SELECT query_id, target_id, cand_rank,
                  row_number() OVER (PARTITION BY query_id ORDER BY cand_rank) AS final_rank
           FROM ranked WHERE cand_rank <= 5 AND qnation = tnation)
    SELECT query_id, target_id, cand_rank FROM filtered WHERE final_rank = 1
    """,
    tags=["J10", "W2"],
)
def j10_knn_candidates_filtered(spark, sf_dir):
    """The reference's exact KNN semantics: top-N candidates by distance
    FIRST, then the attribute-equality filter, then keep 1 — a matching
    target at rank N+1 is legitimately missed
    (ref /root/reference/etl_lalf_road_qrt_spatial_match.py:70-87,
    SURVEY §7.3)."""
    from cam_etl_spark.operators.knn import knn_join

    c = t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 10 == 0)
    s = t(spark, sf_dir, "supplier")
    pts = c.select(
        F.col("c_custkey").alias("query_id"),
        F.col("c_nationkey").alias("qnation"),
        F.expr(lon_sql("c_custkey")).alias("x"),
        F.expr(lat_sql("c_custkey")).alias("y"),
    )
    tgt = s.select(
        F.col("s_suppkey").alias("target_id"),
        F.col("s_nationkey").alias("tnation"),
        F.expr(lon_sql("s_suppkey * 7 + 3")).alias("x"),
        F.expr(lat_sql("s_suppkey * 11 + 5")).alias("y"),
    )
    out = knn_join(
        pts,
        tgt,
        candidates=5,
        keep=1,
        name_filter=F.col("qnation") == F.col("tnation"),
        strategy="broadcast",
    )
    return out.select("query_id", "target_id", "cand_rank")


@register(
    "j9_point_in_polygon",
    f"""
    WITH pts AS (SELECT c_custkey AS custkey,
                        {lon_sql('c_custkey')} AS x,
                        {lat_sql('c_custkey')} AS y
                 FROM customer),
         rects AS (SELECT r_regionkey AS zone_id,
                          138 + r_regionkey * 3.2 AS xmin,
                          138 + (r_regionkey + 1) * 3.2 AS xmax,
                          -29.0 AS ymin, -10.0 AS ymax
                   FROM region)
    SELECT custkey, zone_id
    FROM pts JOIN rects ON x >= xmin AND x < xmax AND y >= ymin AND y < ymax
    """,
    tags=["J9", "F16"],
)
def j9_point_in_polygon(spark, sf_dir):
    """Point-in-polygon zone assignment via broadcast range join — the
    postcode ST_Intersects join (ref
    /root/reference/cam/tables/lf_address.py:80-81); polygons here are the
    axis-aligned case, general polygons swap in a contains-UDF/Sedona."""
    from cam_etl_spark.operators.knn import point_in_rect_join

    c = t(spark, sf_dir, "customer")
    r = t(spark, sf_dir, "region")
    pts = c.select(
        F.col("c_custkey").alias("custkey"),
        F.expr(lon_sql("c_custkey")).alias("x"),
        F.expr(lat_sql("c_custkey")).alias("y"),
    )
    rects = r.select(
        F.col("r_regionkey").alias("zone_id"),
        (F.lit(138) + F.col("r_regionkey") * 3.2).alias("xmin"),
        (F.lit(138) + (F.col("r_regionkey") + 1) * 3.2).alias("xmax"),
        F.lit(-29.0).alias("ymin"),
        F.lit(-10.0).alias("ymax"),
    )
    return point_in_rect_join(pts, rects).select("custkey", "zone_id")


@register(
    "j9_point_in_polygon_grid",
    f"""
    WITH pts AS (SELECT c_custkey AS custkey,
                        {lon_sql('c_custkey')} AS x,
                        {lat_sql('c_custkey')} AS y
                 FROM customer),
         polys AS (SELECT n_nationkey AS poly_id,
                          138 + (n_nationkey * 61) % 1600 / 100.0 + 0.0037 AS cx,
                          -29 + (n_nationkey * 43) % 1900 / 100.0 + 0.0041 AS cy,
                          0.8 + (n_nationkey % 5) * 0.3 AS a,
                          0.6 + (n_nationkey % 7) * 0.25 AS b
                   FROM nation)
    SELECT custkey, poly_id
    FROM pts JOIN polys
      ON abs(x - cx) / a + abs(y - cy) / b < 1 - 1e-9
    """,
    tags=["J9", "F16"],
)
def j9_point_in_polygon_grid(spark, sf_dir):
    """Point-in-polygon with NO broadcast and NO cross join — the 100 TB
    path when the polygon side is itself large (nationwide cadastre rather
    than the reference's few hundred postcodes,
    ref /root/reference/cam/tables/lf_address.py:80-81). Both sides are
    grid-bucketed; the (cx, cy) cell equi-join is the only shuffle; the
    general even-odd ray-cast then filters candidates
    (operators.knn.point_in_polygon_join_grid).

    Polygons are diamonds (4-vertex convex hulls) synthesized from nation
    keys, so the oracle can state membership as the exact L1 inequality
    |dx|/a + |dy|/b < 1 while Spark runs the general ray-cast over the
    vertex array. A 1e-9 guard band excludes on-boundary points on BOTH
    sides so float rounding between the two predicates can never flip a
    row (ray-cast and the diamond inequality provably agree off-boundary
    for convex polygons)."""
    from cam_etl_spark.operators.knn import point_in_polygon_join_grid

    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    pts = c.select(
        F.col("c_custkey").alias("custkey"),
        F.expr(lon_sql("c_custkey")).alias("x"),
        F.expr(lat_sql("c_custkey")).alias("y"),
    )
    k = F.col("n_nationkey")
    cx = F.lit(138) + (k * 61 % 1600) / 100.0 + 0.0037
    cy = F.lit(-29) + (k * 43 % 1900) / 100.0 + 0.0041
    a = F.lit(0.8) + (k % 5) * 0.3
    b = F.lit(0.6) + (k % 7) * 0.25
    vert = lambda vx, vy: F.struct(vx.alias("x"), vy.alias("y"))  # noqa: E731
    polys = n.select(
        k.alias("poly_id"),
        cx.alias("pcx"),
        cy.alias("pcy"),
        a.alias("pa"),
        b.alias("pb"),
        F.array(
            vert(cx + a, cy), vert(cx, cy + b), vert(cx - a, cy), vert(cx, cy - b)
        ).alias("vertices"),
    )
    joined = point_in_polygon_join_grid(pts, polys, cell_size=2.0)
    guard = (
        F.abs(F.col("x") - F.col("pcx")) / F.col("pa")
        + F.abs(F.col("y") - F.col("pcy")) / F.col("pb")
        < 1 - 1e-9
    )
    return joined.filter(guard).select("custkey", "poly_id")


# ---------------------------------------------------------------------------
# Recursive hierarchy (SURVEY J12)
# ---------------------------------------------------------------------------


@register(
    "j12_hierarchy_roots",
    HIERARCHY_ROOTS,
    tags=["J12"],
    bench=True,
    plan={**CHECKPOINT_PLAN, "Exchange hashpartitioning": (0, 0)},
)
def j12_hierarchy_roots(spark, sf_dir):
    """Recursive parent-chain resolution — the site-hierarchy WITH RECURSIVE
    (ref /root/reference/etl-notes.md:663-722) as an iterative frontier loop
    (operators/hierarchy.py: per-iteration localCheckpoint + early
    termination control; j17_recursive_cte_native is the declarative
    Spark 4.1 WITH RECURSIVE twin). Edges synthesized: parent(k) = k//8."""
    from cam_etl_spark.operators.hierarchy import resolve_roots

    c = t(spark, sf_dir, "customer")
    edges = c.select(
        F.col("c_custkey").alias("id"),
        F.when(F.col("c_custkey") >= 8, F.floor(F.col("c_custkey") / 8).cast("long")).alias(
            "parent_id"
        ),
    )
    return resolve_roots(edges, "id", "parent_id").select("id", "root_id", "depth")


# ---------------------------------------------------------------------------
# Row → quads fan-out (SURVEY §2.8) + N-Quads-shaped output
# ---------------------------------------------------------------------------


def _customer_quads(spark, sf_dir):
    """The customer quad templates shared by t1_quad_fanout and
    s7_nquads_sink_roundtrip (not deduped)."""
    from cam_etl_spark.quads import fan_out_sql, quad_sql

    subj = "format_string('https://example.org/customer/%s', c_custkey)"
    g = "urn:example:graph:customers"
    return fan_out_sql(
        t(spark, sf_dir, "customer"),
        quad_sql(subj, "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
                 "'https://schema.org/Person'", "iri", graph=g),
        quad_sql(subj, "https://schema.org/name", "c_name", "literal", graph=g),
        quad_sql(subj, "https://example.org/def/nation",
                 "format_string('https://example.org/nation/%s', c_nationkey)",
                 "iri", graph=g),
        quad_sql(subj, "https://schema.org/creditScore",
                 "CAST(round(c_acctbal, 2) AS STRING)", "literal", graph=g,
                 cond="c_acctbal > 0"),
    )


@register(
    "t1_quad_fanout",
    f"""
    WITH {CUSTOMER_QUADS}
    SELECT predicate, count(*) AS n_quads,
           count(DISTINCT subject) AS n_subjects
    FROM quads GROUP BY 1
    """,
    tags=["T1", "P7", "F9", "S7", "U2"],
    bench=True,
    plan={**PIPELINE_PLAN, "Exchange hashpartitioning": (0, 3)},
)
def t1_quad_fanout(spark, sf_dir):
    """The engine's core transform: one row → N conditionally-emitted quads
    (ref /root/reference/etl_lalf_address.py:254-690) as an array/explode
    columnar flatMap (SURVEY §2.8) — stays in whole-stage codegen, no Python.
    Null-guarded emission (P7): the acctbal quad only exists when > 0."""
    from cam_etl_spark.quads import dedup_quads

    quads = dedup_quads(_customer_quads(spark, sf_dir))
    return quads.groupBy("predicate").agg(
        F.count("*").alias("n_quads"), F.countDistinct("subject").alias("n_subjects")
    )


# ---------------------------------------------------------------------------
# Training-data pipeline: dedup (exact, jaccard, minhash-LSH, simhash)
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    """
    SELECT doc_id FROM (
      SELECT doc_id, row_number() OVER (
        PARTITION BY md5(trim(regexp_replace(regexp_replace(lower(text),
                       '[[:punct:]]', '', 'g'), '\\s+', ' ', 'g')))
        ORDER BY doc_id) AS rn
      FROM documents)
    WHERE rn = 1
    """,
    tags=["dedup-exact", "A4", "U2"],
)
def dedup_exact(spark, sf_dir):
    """Exact dedup by normalized-content fingerprint: keep the lowest doc_id
    per group. One shuffle on the md5 fingerprint — hash-groupBy dedup."""
    from cam_etl_spark.operators.dedup import exact_dedup

    d = t(spark, sf_dir, "documents")
    return exact_dedup(d).select("doc_id")


@register(
    "dedup_substring_spans",
    f"""
    WITH {REPEATED_SPAN_ISLANDS}
    SELECT doc_id, min(pos)::bigint AS span_start,
           (max(pos) + 5)::bigint AS span_end,
           (max(pos) + 5 - min(pos))::bigint AS span_tokens
    FROM isl GROUP BY doc_id, island
    """,
    tags=["dedup", "substring", "exact-substr", "lee-2022", "A4"],
    bench=True,
    plan={**PIPELINE_PLAN, "Exchange hashpartitioning": (0, 2)},
)
def dedup_substring_spans(spark, sf_dir):
    """Exact substring-level duplicate spans — Lee et al. 2022's
    ExactSubstr (arXiv:2107.06499): every k-token window occurring >= 2
    times in the corpus marks its region duplicated; maximal regions are
    the union of overlapping duplicated windows, merged as a
    gaps-and-islands window. k=5 whitespace tokens here (the paper's 50
    BPE tokens scaled to the fixture corpus; the operator takes k as a
    parameter). The oracle replays tokenize → gram-digest → duplicate
    filter → island merge in pure SQL; the fixture corpus's planted
    phrase repeats yield both whole-document and partial interior spans,
    so a wrong merge boundary or off-by-one in the window arithmetic
    hash-fails."""
    from cam_etl_spark.operators.dedup import exact_substring_spans

    d = widen_table(spark, sf_dir, "documents")
    return exact_substring_spans(d, k=5).select(
        "doc_id", "span_start", "span_end", "span_tokens"
    )


@register(
    "dedup_substring_removal",
    f"""
    WITH {REPEATED_SPAN_ISLANDS},
    spans AS (
      SELECT doc_id, min(pos) AS s, max(pos) + 5 AS e
      FROM isl GROUP BY doc_id, island),
    keep AS (
      SELECT t.doc_id, u.i, t.tk[u.i + 1] AS tok
      FROM toks t, unnest(range(len(t.tk))) AS u(i)
      WHERE NOT EXISTS (SELECT 1 FROM spans sp
                        WHERE sp.doc_id = t.doc_id
                          AND u.i >= sp.s AND u.i < sp.e)),
    clean AS (
      SELECT t.doc_id,
             coalesce(k.txt, '') AS clean_text
      FROM toks t LEFT JOIN (
        SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS txt
        FROM keep GROUP BY doc_id) k USING (doc_id))
    SELECT doc_id,
           md5(clean_text) AS clean_md5,
           (CASE WHEN clean_text = '' THEN 0
                 ELSE len(string_split(clean_text, ' ')) END)::bigint
             AS n_kept_tokens
    FROM clean
    """,
    tags=["dedup", "substring", "exact-substr", "lee-2022"],
)
def dedup_substring_removal(spark, sf_dir):
    """The REMOVAL half of Lee et al.'s ExactSubstr, end-to-end: detect
    maximal duplicated spans (same recurrence as dedup_substring_spans)
    and reconstruct every document with the covered tokens dropped
    (operators/dedup.remove_duplicate_spans — one left join + a
    positional array filter). Output is md5 of the cleaned text plus the
    surviving token count per document, so the oracle hash-checks the
    exact byte-level reconstruction, not just span arithmetic."""
    from cam_etl_spark.operators.dedup import (
        exact_substring_spans,
        remove_duplicate_spans,
    )

    d = t(spark, sf_dir, "documents")
    spans = exact_substring_spans(d, k=5)
    clean = remove_duplicate_spans(d, spans)
    n_kept = F.when(F.col("clean_text") == "", F.lit(0)).otherwise(
        F.size(F.split("clean_text", " "))
    )
    return clean.select(
        "doc_id",
        F.md5("clean_text").alias("clean_md5"),
        n_kept.cast("long").alias("n_kept_tokens"),
    )


@register(
    "dedup_ngram_jaccard",
    near_dup_pairs(),
    tags=["dedup-jaccard"],
    bench=True,
    plan={**CHECKPOINT_PLAN, "Exchange hashpartitioning": (0, 5), "BroadcastHashJoin": (4, None)},
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact n-gram (3-word shingle) Jaccard near-dup pairs at threshold
    0.5. Candidate pairs come from an inverted-index equi-join on the
    shingle (shuffle ∝ corpus size), never a cross join."""
    from cam_etl_spark.operators.dedup import ngram_jaccard_pairs

    # (widen_table here measured NET ZERO at sf0.1: the repartition
    # exchange costs what the wider shingle checkpoint saves)
    d = t(spark, sf_dir, "documents")
    out = ngram_jaccard_pairs(d, k=3, threshold=0.5)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


@register(
    "dedup_minhash_lsh",
    near_dup_pairs(),
    tags=["dedup-minhash"],
    bench=True,
    plan={**CHECKPOINT_PLAN, "Exchange hashpartitioning": (0, 0), "BroadcastHashJoin": (3, None)},
)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash (16 seeded xxhash64) + LSH banding (8 bands × 2 rows — LSH
    threshold (1/b)^(1/r) ≈ 0.35, matched to the 0.5 jaccard cut; 4×4's
    ≈ 0.71 under-recalls moderate-similarity pairs) + exact-Jaccard
    verification of candidates only. The band bucket is the shuffle key —
    near-dups co-locate; everything else spreads.

    Oracle: the EXACT all-pairs jaccard set — i.e. the oracle asserts
    banding recall is 100% on this corpus. That is a corpus-dependent fact,
    not a MinHash guarantee (a pair at jaccard exactly 0.5 collides with
    prob 1-(1-0.25)^8 ≈ 0.90), but the seeded hashes make it DETERMINISTIC:
    measured recall is 16/16ths at sf0.001/0.01/0.1 (real near-dup pairs in
    the corpus sit well above the 0.5 cut, where banding probability ≈ 1),
    and tests/test_operators.py locks the set equality at all three SFs."""
    from cam_etl_spark.operators.dedup import minhash_dedup_pairs

    # (widen_table here measured NET ZERO at sf0.1 — see
    # dedup_ngram_jaccard)
    d = t(spark, sf_dir, "documents")
    return minhash_dedup_pairs(d, num_hashes=16, bands=8, k=3, threshold=0.5).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


@register(
    "dedup_simhash",
    """
    WITH toks AS (
      SELECT DISTINCT doc_id,
             unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
      FROM documents),
    hashes AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::bigint AS h FROM toks),
    votes AS (
      SELECT doc_id, j,
             sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM hashes CROSS JOIN (SELECT unnest(range(60)) AS j)
      GROUP BY 1, 2),
    sims AS (
      SELECT doc_id, sum(CASE WHEN v > 0 THEN (1::bigint << j) ELSE 0 END)::bigint AS sim
      FROM votes GROUP BY 1)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.sim::ubigint, b.sim::ubigint))::int AS hamming
    FROM sims a JOIN sims b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sim::ubigint, b.sim::ubigint)) <= 3
    """,
    tags=["dedup-simhash"],
    bench=True,
    plan={**PIPELINE_PLAN, "Exchange hashpartitioning": (0, 6), "BroadcastHashJoin": (1, None)},
)
def dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs (hamming ≤ 3 over a 60-bit hash of distinct
    tokens). Spark plan pairs via pigeonhole segment blocking (any pair
    within 3 bits shares one of 4 15-bit segments) — the oracle brute-forces
    the same semantics."""
    from cam_etl_spark.operators.dedup import simhash, simhash_near_pairs

    # widen: the tiny-SF scan arrives as ONE split, serializing the
    # tokenize → hash → packed-vote aggregation chain on a single core
    # (the whole timed run was 1-task stages); no-op at real scale.
    d = widen_table(spark, sf_dir, "documents", "doc_id", "text")
    sims = simhash(d)
    return simhash_near_pairs(sims, max_hamming=3, blocks=4).select(
        F.col("id_a"), F.col("id_b"), F.col("hamming").cast("int").alias("hamming")
    )


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------


@register(
    "ann_cosine_topk",
    COSINE_TOP5,
    tags=["ann", "similarity"],
    bench=True,
    plan={**PIPELINE_PLAN, "Exchange hashpartitioning": (0, 1)},
)
def ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-5 neighbours for query vectors (vec_id < 10):
    broadcast the query side, scan the corpus once, fold the dot product
    JVM-side with zip_with/aggregate. The exactness baseline for ANN."""
    from cam_etl_spark.operators.similarity import knn_brute_cosine

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return knn_brute_cosine(emb, queries, k=5)


@register(
    "ann_lsh_buckets",
    LSH_RECALL_OK,
    tags=["ann", "similarity-lsh"],
)
def ann_lsh_buckets(spark, sf_dir):
    """LSH-bucketed ANN (8 bands x 4 random hyperplanes, OR-amplified):
    candidates only within matching (band, signature) buckets — the join key
    replaces the corpus-wide scan.

    Approximate by construction, so the oracle-checked statement is a
    RECALL INVARIANT, not result equality: for every query, the LSH top-5
    must contain ≥2 of the exact top-5 (left-semi join against the
    brute-force baseline, computed in the same plan). The bound is the
    measured deterministic minimum across sf0.001/0.01/0.1 (per-query
    overlap 2–5; seeded hyperplanes → fixed per corpus); the oracle pins
    recall_ok TRUE per query, so any regression below the bound is a
    hash-fail, not a silent quality loss. Raw neighbour output stays
    pytest-covered (tests/test_similarity.py)."""
    from cam_etl_spark.operators.similarity import knn_brute_cosine, knn_lsh_cosine

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = knn_brute_cosine(emb, queries, k=5)
    approx = knn_lsh_cosine(emb, queries, dim=64, k=5, n_planes=4, n_bands=8)
    hits = exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
    return (
        hits.groupBy("query_id")
        .agg(F.count("*").alias("n_hit"))
        .select(
            "query_id",
            F.lit(5).alias("n_exact"),
            (F.col("n_hit") >= 2).alias("recall_ok"),
        )
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "text_quality_signals",
    """
    SELECT doc_id,
           CASE WHEN trim(text) = '' THEN 0
                ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
           length(text) AS n_chars,
           round(CASE WHEN length(text) = 0 THEN 0.0
                 ELSE length(regexp_replace(text, '[^[:punct:]]', '', 'g'))::double
                      / length(text) END, 6) AS punct_ratio,
           CASE WHEN length(text) >= 100
                 AND len(string_split_regex(trim(text), '\\s+')) >= 20
                THEN 1 ELSE 0 END AS passes_quality
    FROM documents
    """,
    tags=["text-quality", "token-count"],
    bench=True,
    plan={**PIPELINE_PLAN, "Exchange hashpartitioning": (0, 0)},
)
def text_quality_signals(spark, sf_dir):
    """Quality scoring: token count, char count, punctuation ratio, and a
    length gate — the scan-time quality signals of a training-data pipeline.
    All JVM expressions; one pass over the corpus."""
    from cam_etl_spark.functions.text import punct_ratio, token_count

    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        F.length("text").alias("n_chars"),
        F.round(punct_ratio(F.col("text")), 6).alias("punct_ratio"),
        F.when(
            (F.length("text") >= 100) & (token_count(F.col("text")) >= 20), 1
        )
        .otherwise(0)
        .alias("passes_quality"),
    )


@register(
    "text_fingerprint",
    """
    SELECT doc_id,
           md5(trim(regexp_replace(regexp_replace(lower(text),
               '[[:punct:]]', '', 'g'), '\\s+', ' ', 'g'))) AS fingerprint
    FROM documents
    """,
    tags=["text-fingerprint", "F12"],
)
def text_fingerprint(spark, sf_dir):
    """Normalized-content document fingerprint (md5 of
    lower+depunct+whitespace-collapsed text) — the exact-dup key."""
    from cam_etl_spark.functions.text import doc_fingerprint

    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", doc_fingerprint(F.col("text")).alias("fingerprint"))


def _langid_sql() -> str:
    from cam_etl_spark.functions.text import STOPWORDS

    ratio_exprs = []
    for lang, words in STOPWORDS.items():
        arr = ", ".join(f"'{w}'" for w in words)
        ratio_exprs.append(
            f"""CASE WHEN len(toks) = 0 THEN 0.0 ELSE
                len(list_filter(toks, x -> list_contains([{arr}], x)))::double
                / len(toks) END AS r_{lang}"""
        )
    ratios = ",\n           ".join(ratio_exprs)
    langs = list(STOPWORDS)
    # first language (in fixed order) achieving the max score wins
    best = "CASE "
    for lang in langs:
        others = " AND ".join(f"r_{lang} >= r_{o}" for o in langs if o != lang)
        best += f"WHEN {others} THEN '{lang}' "
    best += "END"
    return f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {ratios}
      FROM (SELECT doc_id, lang,
                   list_transform(string_split_regex(lower(trim(text)), '\\s+'),
                                  x -> regexp_replace(x, '[[:punct:]]', '', 'g')) AS toks
            FROM documents))
    SELECT doc_id, lang AS lang_actual, {best} AS lang_guess,
           round(greatest(r_en, r_es, r_fr, r_de), 6) AS best_score
    FROM scored
    """


@register("text_langid", _langid_sql(), tags=["lang-id"])
def text_langid(spark, sf_dir):
    """Stopword-ratio language ID: score each language's tiny stopword list
    against the token stream, argmax with a fixed tie order (en,es,fr,de).
    A cheap n-gram-family heuristic that runs as pure expressions."""
    from cam_etl_spark.functions.text import STOPWORDS, stopword_ratio

    d = t(spark, sf_dir, "documents")
    langs = list(STOPWORDS)
    scored = d.select(
        "doc_id",
        F.col("lang").alias("lang_actual"),
        *[stopword_ratio(F.col("text"), lang).alias(f"r_{lang}") for lang in langs],
    )
    guess = None
    for lang in langs:
        cond = None
        for o in langs:
            if o != lang:
                c = F.col(f"r_{lang}") >= F.col(f"r_{o}")
                cond = c if cond is None else (cond & c)
        guess = (
            F.when(cond, F.lit(lang)) if guess is None else guess.when(cond, F.lit(lang))
        )
    return scored.select(
        "doc_id",
        "lang_actual",
        guess.alias("lang_guess"),
        F.round(F.greatest(*[F.col(f"r_{lang}") for lang in langs]), 6).alias("best_score"),
    )


# ---------------------------------------------------------------------------
# Events: JSON extraction + streaming-shaped windowed aggregation
# ---------------------------------------------------------------------------


@register(
    "f22_json_extract",
    """
    SELECT event_type,
           count(*) AS n_events,
           sum(json_extract_string(props, '$.k')::int)::bigint AS sum_k
    FROM events GROUP BY 1
    """,
    tags=["F22", "A3"],
)
def f22_json_extract(spark, sf_dir):
    """Semi-structured props extraction (JSON string column → typed value)
    + grouped aggregation."""
    e = t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.get_json_object("props", "$.k").cast("int")).alias("sum_k"),
    )


@register(
    "stream_window_agg",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM events GROUP BY 1, 2
    """,
    tags=["streaming", "W1"],
    bench=True,
    plan={**PIPELINE_PLAN, "Exchange hashpartitioning": (0, 1)},
)
def stream_window_agg(spark, sf_dir):
    """Tumbling-window aggregation via the STREAM-SAFE transform
    (streaming/transforms.py): the identical function runs under
    readStream+watermark (pytest-verified); in batch its window start equals
    date_trunc('hour') — which is the oracle."""
    from cam_etl_spark.streaming.transforms import windowed_event_counts

    e = t(spark, sf_dir, "events")
    return windowed_event_counts(e, "1 hour")


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------


@register(
    "multimodal_decode",
    """
    SELECT doc_id AS media_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS checksum,
           (('0x' || substr(md5(text), 1, 8))::bigint % 1920 + 1)::int AS width,
           (('0x' || substr(md5(text), 1, 8))::bigint // 1920 % 1080 + 1)::int AS height
    FROM documents
    """,
    tags=["multimodal"],
)
def multimodal_decode(spark, sf_dir):
    """Opaque-binary media decode plumbing: documents as binary payloads →
    mapInPandas Arrow-batched fake decoder (real codecs are stubbed, see
    multimodal/__init__.py) emitting typed metadata. The oracle reproduces
    the deterministic fake (md5-derived dimensions)."""
    from cam_etl_spark.multimodal import decode_media, documents_as_media

    d = t(spark, sf_dir, "documents")
    media = documents_as_media(d)
    return decode_media(media).select("media_id", "n_bytes", "checksum", "width", "height")


@register(
    "multimodal_decode_real",
    """
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'wav' END AS format,
           (CASE WHEN doc_id % 2 = 0 THEN (doc_id % 31) + 1 END)::int AS width,
           (CASE WHEN doc_id % 2 = 0 THEN (doc_id % 17) + 1 END)::int AS height,
           (CASE WHEN doc_id % 2 = 0 THEN 3
                 ELSE ((doc_id // 2) % 2) + 1 END)::int AS n_channels,
           (CASE WHEN doc_id % 2 = 1 THEN 8000 * ((doc_id % 3) + 1) END)::int
               AS sample_rate,
           (CASE WHEN doc_id % 2 = 1 THEN (doc_id % 100) + 1 END)::bigint AS n_frames,
           (CASE WHEN doc_id % 2 = 0
                 THEN 54 + 4 * ((3 * ((doc_id % 31) + 1) + 3) // 4) * ((doc_id % 17) + 1)
                 ELSE 44 + ((doc_id % 100) + 1) * (((doc_id // 2) % 2) + 1) * 2
            END)::bigint AS n_bytes,
           CASE WHEN doc_id % 2 = 1
                THEN ((doc_id % 100) + 1) / (8000.0 * ((doc_id % 3) + 1)) END
               AS duration_s
    FROM documents
    """,
    tags=["multimodal", "decode"],
)
def multimodal_decode_real(spark, sf_dir):
    """REAL media decode, not the stub: synthesize_struct_media writes
    standards-compliant 24-bit BMPs (even doc_id) and PCM WAVs (odd) with
    doc_id-derived geometry, then decode_media_struct parses the actual
    binary headers with pure ``struct`` (multimodal/codecs.py — the
    shapefile-reader technique). The oracle recomputes every decoded field
    (dims, channels, sample geometry, exact file size incl. BMP 4-byte row
    padding, IEEE duration) from the generator formulas — a decoder that
    misreads any header field hash-fails. Only compressed codecs
    (JPEG/PNG/MP3) remain stubbed; they genuinely need external libs."""
    from cam_etl_spark.multimodal import decode_media_struct, synthesize_struct_media

    d = t(spark, sf_dir, "documents")
    return decode_media_struct(synthesize_struct_media(d))


# ---------------------------------------------------------------------------
# Temporal joins (as-of, interval/range) — operators/temporal.py
# ---------------------------------------------------------------------------


@register(
    "temporal_asof_join",
    """
    WITH clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
         views  AS (SELECT user_id, ts, value FROM events WHERE event_type = 'view')
    SELECT c.event_id AS click_id,
           c.user_id AS user_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
           strftime(v.ts, '%Y-%m-%d %H:%M:%S.%f') AS view_ts,
           round(v.value, 4) AS view_value
    FROM clicks c ASOF JOIN views v
      ON c.user_id = v.user_id AND c.ts >= v.ts
    """,
    tags=["temporal", "asof"],
    bench=True,
    plan={**PIPELINE_PLAN, "Exchange hashpartitioning": (0, 1)},
)
def temporal_asof_join(spark, sf_dir):
    """AS-OF join (event attribution): each click picks up the most recent
    view by the same user at-or-before it. Spark has no ASOF JOIN; the
    operator is ONE shuffle — union both sides tagged + a window carry-
    forward per key (operators/temporal.asof_join) — not a per-row range
    probe. The oracle is DuckDB's native ASOF JOIN."""
    from cam_etl_spark.operators.temporal import asof_join

    e = t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    views = e.filter(F.col("event_type") == "view").select("user_id", "ts", "value")
    j = asof_join(clicks, views, on="user_id", right_payload=["value"])
    return j.select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("click_ts"),
        F.date_format("asof_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("view_ts"),
        F.round("asof_value", 4).alias("view_value"),
    )


@register(
    "temporal_interval_join",
    """
    WITH clicks AS (SELECT event_id AS click_id, ts FROM events WHERE event_type = 'click'),
         wins   AS (SELECT event_id AS error_id,
                           ts - INTERVAL 5 MINUTE AS start_ts,
                           ts + INTERVAL 5 MINUTE AS end_ts
                    FROM events WHERE event_type = 'error')
    SELECT c.click_id, w.error_id
    FROM clicks c JOIN wins w ON c.ts BETWEEN w.start_ts AND w.end_ts
    """,
    tags=["temporal", "range"],
)
def temporal_interval_join(spark, sf_dir):
    """Keyless range join (log↔window correlation): clicks falling inside
    ±5-minute windows around error events. Catalyst plans a pure inequality
    join as BroadcastNestedLoopJoin (every point × every interval);
    operators/temporal.interval_join buckets time so only co-bucketed pairs
    are materialized, and each pair exactly once (a point is in one
    bucket). Oracle: DuckDB inequality join."""
    from cam_etl_spark.operators.temporal import interval_join

    e = t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "ts"
    )
    wins = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        (F.col("ts") - F.expr("INTERVAL 5 MINUTES")).alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("end_ts"),
    )
    return interval_join(clicks, wins, bucket_seconds=300).select("click_id", "error_id")


@register(
    "graph_connected_components",
    """
    WITH RECURSIVE
    edges AS (
      SELECT o_custkey AS a,
             1000000 + (o_custkey % 50) * 6 + o_orderkey % 6 AS b
      FROM orders),
    und AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
    walk(node, lab) AS (
      SELECT a, a FROM und
      UNION
      SELECT u.b, w.lab FROM walk w JOIN und u ON w.node = u.a)
    SELECT node, min(lab) AS component FROM walk GROUP BY 1
    """,
    tags=["graph-cc", "J12"],
)
def graph_connected_components(spark, sf_dir):
    """Undirected connected components over a deterministic bipartite graph
    (customers ↔ synthetic order buckets; customers sharing a bucket are
    transitively linked — exactly the mod-50 classes). Spark has no native
    CC; operators/graph.py runs alternating large-star/small-star (O(log n)
    rounds, each two node-keyed shuffles). Oracle: DuckDB recursive-CTE
    min-label closure over the same graph."""
    from cam_etl_spark.operators.graph import connected_components

    o = t(spark, sf_dir, "orders")
    edges = o.select(
        F.col("o_custkey").alias("src"),
        (F.lit(1000000) + (F.col("o_custkey") % 50) * 6 + F.col("o_orderkey") % 6).alias("dst"),
    )
    return connected_components(edges)


@register(
    "multimodal_mixed_dispatch",
    """
    SELECT doc_id AS media_id,
           CASE doc_id % 9 WHEN 0 THEN 'bmp' WHEN 1 THEN 'wav' WHEN 2 THEN 'avi'
                WHEN 3 THEN 'png' WHEN 4 THEN 'gif' WHEN 5 THEN 'tiff'
                WHEN 6 THEN 'jpeg' WHEN 7 THEN 'flac'
                ELSE 'mpeg1_audio' END AS fmt,
           (CASE doc_id % 9
                WHEN 0 THEN (doc_id % 31) + 1
                WHEN 2 THEN (doc_id % 12) + 1
                WHEN 3 THEN (doc_id % 13) + 1
                WHEN 4 THEN (doc_id % 14) + 1
                WHEN 5 THEN (doc_id % 17) + 1
                WHEN 6 THEN ((doc_id % 5) + 1) * 8
           END)::int AS width,
           (CASE doc_id % 9
                WHEN 0 THEN (doc_id % 17) + 1
                WHEN 2 THEN (doc_id % 8) + 1
                WHEN 3 THEN (doc_id % 11) + 1
                WHEN 4 THEN (doc_id % 9) + 1
                WHEN 5 THEN (doc_id % 7) + 1
                WHEN 6 THEN ((doc_id % 3) + 1) * 8
           END)::int AS height,
           (CASE doc_id % 9
                WHEN 1 THEN (doc_id % 100) + 1
                WHEN 2 THEN (doc_id % 6) + 2
                WHEN 7 THEN (doc_id % 60) + 1
                WHEN 8 THEN (doc_id % 3) + 1
           END)::int AS n_frames,
           (CASE doc_id % 9
                WHEN 1 THEN 8000 * ((doc_id % 3) + 1)
                WHEN 7 THEN (CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                             WHEN 2 THEN 32000 ELSE 48000 END)
                WHEN 8 THEN 32000
           END)::int AS sample_rate
    FROM documents
    """,
    tags=["multimodal", "dispatch", "decode"],
)
def multimodal_mixed_dispatch(spark, sf_dir):
    """One mixed-format media column through the magic-byte dispatcher:
    every document becomes one of NINE real payloads (BMP, PCM WAV,
    AVI, PNG, GIF87a, TIFF, baseline JPEG, FLAC, MPEG-1 audio Layer I —
    all natively encoded), and decode_payload must sniff each format and
    report its geometry. The oracle replays the per-format dimension
    formulas keyed on doc_id % 9, so a dispatch mix-up (e.g. a TIFF read
    as BMP) or any header mis-parse changes a value. The FLAC arm varies
    channel count, stereo decorrelation mode, LPC use, and sample rate
    by doc_id; the MPEG arm varies frame count — the dispatcher
    exercises full codecs, not one happy path. This is the
    heterogeneous-lake reality of a multimodal training corpus: one
    binary column, formats only distinguishable by content."""
    import hashlib

    from cam_etl_spark.multimodal.codecs import (
        decode_payload,
        encode_avi,
        encode_bmp,
        encode_gif,
        encode_png,
        encode_tiff,
        encode_wav,
    )
    from cam_etl_spark.multimodal.flac import encode_flac
    from cam_etl_spark.multimodal.jpeg import encode_jpeg_gray_blocks
    from cam_etl_spark.multimodal.mpegaudio import encode_layer1_frame

    def run(did, text):
        d = int(did)
        seed = hashlib.md5((text or "").encode()).digest()
        k = d % 9
        if k == 0:
            buf = encode_bmp(d % 31 + 1, d % 17 + 1, seed)
        elif k == 1:
            buf = encode_wav(d % 100 + 1, 8000 * (d % 3 + 1), (d >> 1) % 2 + 1)
        elif k == 2:
            buf = encode_avi(d % 12 + 1, d % 8 + 1, d % 6 + 2, pixels=seed)
        elif k == 3:
            buf = encode_png(d % 13 + 1, d % 11 + 1, seed)
        elif k == 4:
            buf = encode_gif(d % 14 + 1, d % 9 + 1, seed)
        elif k == 5:
            buf = encode_tiff(d % 17 + 1, d % 7 + 1, seed, rows_per_strip=2)
        elif k == 6:
            buf = encode_jpeg_gray_blocks(d % 5 + 1, d % 3 + 1, seed)
        elif k == 7:  # FLAC: digest int16, varied channel/LPC/rate
            ns = d % 60 + 1
            sig = [
                (seed[(2 * j) % 16] + 256 * seed[(2 * j + 1) % 16]) - 32768
                for j in range(ns)
            ]
            rate = [8000, 16000, 32000, 48000][d % 4]
            # selectors must be independent of d % 9 (== 7 here):
            # d % 3 would be the constant 1, pinning one mode and
            # never exercising LPC — d // 9 varies freely
            v = d // 9
            lpc = 2 if v % 3 == 0 else None
            if d % 2 == 0:
                mode = ["left_side", "right_side", "mid_side"][v % 3]
                rchan = [~s for s in sig]  # NOT stays in int16 range
                buf = encode_flac(
                    (sig, rchan), rate, lpc_order=lpc, stereo_mode=mode
                )
            else:
                buf = encode_flac(sig, rate, lpc_order=lpc)
        else:  # MPEG-1 audio Layer I, 1-3 back-to-back frames
            alloc = [seed[(sb * 3 + 1) % 16] % 8 for sb in range(32)]
            active = [sb for sb in range(32) if alloc[sb]]
            scf = [seed[(sb + 2) % 16] % 63 for sb in active]
            codes = [
                [
                    (seed[(sb + j) % 16] + d)
                    % ((1 << (alloc[sb] + 1)) - 1)
                    for j in range(12)
                ]
                for sb in active
            ]
            frame = encode_layer1_frame(alloc, scf, codes)
            buf = frame * (d % 3 + 1)
        m = decode_payload(buf)
        # audio formats report interchannel samples/frames in
        # format-specific keys; surface them in the frame-count
        # column (same unit family as WAV frames)
        n_frames = m.get("n_frames")
        if m["format"] == "flac":
            n_frames = m["n_samples"]
        yield {
            "media_id": d,
            "fmt": m["format"],
            "width": m.get("width"),
            "height": m.get("height"),
            "n_frames": n_frames,
            "sample_rate": m.get("sample_rate"),
        }

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    return map_rows(
        d, run,
        "media_id long, fmt string, width int, height int, "
        "n_frames int, sample_rate int",
    )


@register(
    "similarity_mmr_select",
    """
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    cand AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cv,
             round(list_cosine_similarity(embedding::DOUBLE[], qv), 6) AS rel
      FROM embeddings CROSS JOIN q WHERE vec_id <> 0
      ORDER BY rel DESC, cid ASC LIMIT 20),
    s1 AS (SELECT cid, cv, rel FROM cand ORDER BY rel DESC, cid ASC LIMIT 1),
    r2 AS (
      SELECT c.cid, c.cv, c.rel,
             round(0.7 * c.rel
                   - (1.0::DOUBLE - 0.7::DOUBLE)
                     * round(list_cosine_similarity(c.cv, s1.cv), 6), 6) AS mmr
      FROM cand c CROSS JOIN s1 WHERE c.cid <> s1.cid),
    s2 AS (SELECT cid, cv, rel FROM r2 ORDER BY mmr DESC, cid ASC LIMIT 1),
    r3 AS (
      SELECT c.cid, c.rel,
             round(0.7 * c.rel
                   - (1.0::DOUBLE - 0.7::DOUBLE)
                     * greatest(
                         round(list_cosine_similarity(c.cv, s1.cv), 6),
                         round(list_cosine_similarity(c.cv, s2.cv), 6)), 6) AS mmr
      FROM cand c CROSS JOIN s1 CROSS JOIN s2
      WHERE c.cid <> s1.cid AND c.cid <> s2.cid),
    s3 AS (SELECT cid, rel FROM r3 ORDER BY mmr DESC, cid ASC LIMIT 1)
    SELECT 1 AS rank, s1.cid AS vec_id, s1.rel AS relevance FROM s1
    UNION ALL SELECT 2, s2.cid, s2.rel FROM s2
    UNION ALL SELECT 3, s3.cid, s3.rel FROM s3
    """,
    tags=["similarity", "mmr", "retrieval", "iterative"],
    bench=True,
    plan={**PIPELINE_PLAN, "Exchange hashpartitioning": (0, 0)},
)
def similarity_mmr_select(spark, sf_dir):
    """Maximal-marginal-relevance diversified retrieval (operators/
    similarity.mmr_select): greedy 3-of-20 selection balancing relevance
    to the query (vector 0's embedding) against similarity to what is
    already selected — the RAG diversification step plain top-k lacks.
    The corpus is scanned once for relevance (broadcast query vector);
    each greedy step is a TakeOrdered(1) over the 20-row broadcast pool.
    All cosines and MMR scores round to 6 decimals with id tie-breaks in
    both engines; the oracle unrolls the three greedy steps."""
    from cam_etl_spark.operators.similarity import mmr_select

    e = t(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id") == 0)
    return mmr_select(e.filter(F.col("vec_id") != 0), qv, k=3, pool=20, lam=0.7)


@register(
    "text_corpus_composition",
    """
    WITH stats AS (
      SELECT lang, source, count(*) AS n_docs, sum(n_chars)::BIGINT AS n_chars
      FROM documents GROUP BY 1, 2),
    toks AS (
      SELECT lang, source, count(*) AS n_tokens
      FROM documents,
           unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tt(term)
      WHERE tt.term <> '' GROUP BY 1, 2),
    tot AS (SELECT sum(n_tokens)::DOUBLE AS all_tokens FROM toks)
    SELECT s.lang, s.source, s.n_docs,
           t.n_tokens::BIGINT AS n_tokens, s.n_chars,
           round(t.n_tokens / all_tokens, 6) AS token_share
    FROM stats s JOIN toks t USING (lang, source) CROSS JOIN tot
    """,
    tags=["A3", "dataset-card", "text-analysis"],
    bench=True,
    plan={**PIPELINE_PLAN, "Exchange hashpartitioning": (0, 3), "BroadcastHashJoin": (1, None)},
)
def text_corpus_composition(spark, sf_dir):
    """The dataset-card composition report: documents, tokens, characters,
    and corpus-wide token share per (language, source) cell — the
    at-a-glance mixture table every training corpus release ships and
    every temperature-mix decision starts from (sample_temperature_mix
    consumes exactly these shares). One tokenize pass, one grouped
    aggregation, a 1-row broadcast total for the shares."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "lang", "source",
        F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("term"),
    ).filter(F.col("term") != "")
    per_cell_tokens = toks.groupBy("lang", "source").agg(
        F.count("*").alias("n_tokens")
    )
    per_cell_docs = d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("n_chars")
    )
    total = per_cell_tokens.agg(
        F.sum("n_tokens").cast("double").alias("all_tokens")
    )
    return (
        per_cell_docs.join(per_cell_tokens, ["lang", "source"])
        .crossJoin(F.broadcast(total))
        .select(
            "lang", "source", "n_docs", "n_tokens", "n_chars",
            F.round(F.col("n_tokens") / F.col("all_tokens"), 6).alias("token_share"),
        )
    )


@register(
    "s14_partition_backfill",
    """
    WITH src AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             o_orderkey % 8 AS day_part
      FROM orders),
    final AS (
      SELECT o_orderkey, day_part,
             CASE WHEN day_part = 3 THEN o_totalprice * 2
                  ELSE o_totalprice END AS o_totalprice
      FROM src)
    SELECT day_part::bigint AS day_part, count(*)::bigint AS n_rows,
           round(sum(o_totalprice), 2) AS total_price
    FROM final GROUP BY 1
    """,
    tags=["sink", "backfill", "dynamic-partition-overwrite", "S9"],
)
def s14_partition_backfill(spark, sf_dir):
    """Idempotent partition BACKFILL — the operational sink pattern every
    scheduled 100 TB pipeline needs: write a day-partitioned table, then
    re-run ONE day's corrected data with dynamic partitionOverwriteMode
    so only that partition is replaced (static mode would wipe the other
    seven). The final table must show exactly one doubled partition and
    seven untouched ones — the oracle. Also proves partition pruning on
    the re-read: the day filter reaches PartitionFilters, not a scan."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        (F.col("o_orderkey") % 8).alias("day_part"),
    )
    work = fixture_dir(sf_dir, "cam_etl_backfill_fixture")
    path = work + "/days"
    o.write.partitionBy("day_part").mode("overwrite").parquet(path)
    # corrected re-run for day 3 only (prices doubled), dynamic overwrite
    fixed = o.filter(F.col("day_part") == 3).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    (
        fixed.write.partitionBy("day_part")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(path)
    )
    out = spark.read.parquet(path)
    return out.groupBy(F.col("day_part").cast("long").alias("day_part")).agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@register(
    "multimodal_flac_decode",
    f"""
    WITH {md5_digest(cols='(doc_id % 300) + 1 AS ns')},
    sig AS (
      SELECT doc_id, ns,
             list_transform(range(ns),
               j -> {int16_sample('((2*j) % 16) + 1', '((2*j+1) % 16) + 1')}) AS s
      FROM dg)
    SELECT doc_id AS media_id, ns::bigint AS n_samples,
           list_sum(s)::bigint AS sum_samples,
           list_min(s)::bigint AS min_s, list_max(s)::bigint AS max_s
    FROM sig
    """,
    tags=["multimodal", "decode", "flac", "audio"],
)
def multimodal_flac_decode(spark, sf_dir):
    """REAL FLAC decode, hash-checked: digest-derived int16 signals are
    FLAC-encoded (multimodal/flac.py — CONSTANT/FIXED-predictor
    subframes, Rice residuals, CRC-8/CRC-16 verified) and decoded back
    through the full bitstream path; losslessness means the decoded
    sample statistics replay as pure digest arithmetic in the oracle —
    the compressed-audio analogue of the JPEG/GIF/TIFF entries, and one
    Arrow mapInPandas scan with zero shuffles at any corpus size."""
    import hashlib

    import numpy as np

    from cam_etl_spark.multimodal.flac import decode_flac, encode_flac

    def run(did, text):
        d = int(did)
        seed = hashlib.md5((text or "").encode()).digest()
        dig = np.frombuffer(seed, dtype=np.uint8).astype(np.int64)
        ns = d % 300 + 1
        j = np.arange(ns)
        raw = dig[(2 * j) % 16] + 256 * dig[(2 * j + 1) % 16]
        sig = np.where(raw >= 32768, raw - 65536, raw)
        m = decode_flac(encode_flac([int(v) for v in sig]))
        got = np.array(m["samples"], dtype=np.int64)
        assert m["n_samples"] == ns
        yield {
            "media_id": d,
            "n_samples": ns,
            "sum_samples": int(got.sum()),
            "min_s": int(got.min()),
            "max_s": int(got.max()),
        }

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    return map_rows(
        d, run,
        "media_id long, n_samples long, sum_samples long, min_s long, max_s long",
    )


@register(
    "multimodal_flac_lpc_decode",
    f"""
    WITH {md5_digest(cols='(doc_id % 350) + 8 AS ns')},
    sig AS (
      SELECT doc_id, ns,
             list_transform(range(ns),
               j -> {int16_sample('((2*j) % 16) + 1', '((2*j+1) % 16) + 1')}) AS lch,
             list_transform(range(ns),
               j -> {int16_sample('((2*j+5) % 16) + 1', '((2*j+11) % 16) + 1')}) AS rch
      FROM dg)
    SELECT doc_id AS media_id, ns::bigint AS n_samples,
           (CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 44100
            ELSE 96000 END)::bigint AS sample_rate,
           list_sum(lch)::bigint AS sum_left,
           list_sum(rch)::bigint AS sum_right,
           list_min(lch)::bigint AS min_left,
           list_max(rch)::bigint AS max_right
    FROM sig
    """,
    tags=["multimodal", "decode", "flac", "audio", "stereo", "lpc"],
)
def multimodal_flac_lpc_decode(spark, sf_dir):
    """REAL stereo/LPC FLAC decode, hash-checked: digest-derived int16
    stereo signals are FLAC-encoded with quantized Levinson-Durbin LPC
    subframes (order 1-4, rotating by doc_id) and all three stereo
    decorrelation modes (left/side, right/side, mid/side — side channel
    at 17 bits per the spec), then decoded back through the full
    bitstream path with CRC-8/16 verification and ASSERTED bit-exact
    against the originals. Losslessness means the decoded per-channel
    statistics replay as pure digest arithmetic in the oracle. High-
    entropy digest signals also exercise the Rice ESCAPE partition
    (verbatim residuals) wherever it beats Rice coding. One Arrow
    mapInPandas scan, zero shuffles at any corpus size."""
    import hashlib

    import numpy as np

    from cam_etl_spark.multimodal.flac import decode_flac, encode_flac

    def run(did, text):
        d = int(did)
        seed = hashlib.md5((text or "").encode()).digest()
        dig = np.frombuffer(seed, dtype=np.uint8).astype(np.int64)
        ns = d % 350 + 8
        j = np.arange(ns)
        raw_l = dig[(2 * j) % 16] + 256 * dig[(2 * j + 1) % 16]
        raw_r = dig[(2 * j + 5) % 16] + 256 * dig[(2 * j + 11) % 16]
        left = np.where(raw_l >= 32768, raw_l - 65536, raw_l)
        right = np.where(raw_r >= 32768, raw_r - 65536, raw_r)
        mode = ["left_side", "right_side", "mid_side"][d % 3]
        rate = [8000, 44100, 96000][d % 3]
        buf = encode_flac(
            ([int(v) for v in left], [int(v) for v in right]),
            rate,
            lpc_order=d % 4 + 1,
            stereo_mode=mode,
        )
        m = decode_flac(buf)
        got = np.array(m["samples"], dtype=np.int64)
        assert m["channels"] == 2 and m["n_samples"] == ns
        assert np.array_equal(got[0::2], left), f"left mismatch doc {d}"
        assert np.array_equal(got[1::2], right), f"right mismatch doc {d}"
        yield {
            "media_id": d,
            "n_samples": ns,
            "sample_rate": m["sample_rate"],
            "sum_left": int(left.sum()),
            "sum_right": int(right.sum()),
            "min_left": int(left.min()),
            "max_right": int(right.max()),
        }

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    return map_rows(
        d, run,
        "media_id long, n_samples long, sample_rate long, "
        "sum_left long, sum_right long, min_left long, max_right long",
    )


@register(
    "multimodal_mpeg_audio_decode",
    f"""
    WITH {md5_digest()},
    -- Layer I (even doc_id): alloc in 0..7 per subband, nb = alloc+1 bits
    l1sb AS (
      SELECT doc_id, d, sb,
             d[((sb*7 + 1) % 16) + 1] % 8 AS a,
             d[((sb*3 + 5) % 16) + 1] % 63 AS scf
      FROM dg, range(32) t(sb) WHERE doc_id % 2 = 0),
    l1s AS (
      SELECT doc_id, sb,
             CAST(round((2.0 * pow(2.0, -scf/3.0)
                   * ((1::BIGINT << (a + 1)) / (((1::BIGINT << (a + 1)) - 1)::DOUBLE))
                   * (((d[((sb + j*5) % 16) + 1] * 31 + j*7 + doc_id)
                       % ((1::BIGINT << (a + 1)) - 1))
                      / ((1::BIGINT << a)::DOUBLE)
                      - 1.0 + pow(2.0, -a::DOUBLE))) * 1000000.0) AS BIGINT) AS micro
      FROM l1sb, range(12) u(j) WHERE a > 0),
    l1agg AS (
      SELECT doc_id, 1 AS layer,
             count(DISTINCT sb) AS n_active_sb, count(*) AS n_active_samples,
             sum(micro)::BIGINT AS sum_val_micro,
             max(abs(micro))::BIGINT AS max_abs_micro
      FROM l1s GROUP BY doc_id),
    -- Layer II (odd doc_id): table 3-B.2a classes, scfsi expansion,
    -- grouped 3/5/9-step classes share the same closed-form requantizer
    l2sb AS (
      SELECT doc_id, d, sb,
             d[((sb*5 + 2) % 16) + 1]
               % (1 + CASE WHEN sb < 3 THEN 3 WHEN sb < 23 THEN 5 ELSE 2 END) AS a,
             d[((sb*3 + 4) % 16) + 1] % 4 AS scfsi,
             d[((sb*2 + 3) % 16) + 1] % 63 AS s0,
             d[((sb*2 + 8) % 16) + 1] % 63 AS s1,
             d[((sb*2 + 13) % 16) + 1] % 63 AS s2
      FROM dg, range(27) t(sb) WHERE doc_id % 2 = 1),
    l2cls AS (
      SELECT *,
             {L2_STEPS},
             {SCFSI_EFF}
      FROM l2sb WHERE a > 0),
    l2nb AS (
      SELECT *, (CASE steps WHEN 3 THEN 2 WHEN 5 THEN 3 WHEN 7 THEN 3
                 WHEN 9 THEN 4 WHEN 15 THEN 4 END) AS nb,
             (CASE WHEN steps IN (3, 5, 9) THEN 0.5
                   ELSE pow(2.0, (1 - (CASE steps WHEN 3 THEN 2 WHEN 5 THEN 3
                        WHEN 7 THEN 3 WHEN 9 THEN 4 WHEN 15 THEN 4 END))::DOUBLE)
              END) AS dd
      FROM l2cls),
    l2s AS (
      SELECT doc_id, sb,
             {l2_micro('(d[((sb + i*7 + 1) % 16) + 1] * 29 + i*11 + doc_id) % steps')}
      FROM l2nb, range(36) u(i)),
    l2agg AS (
      SELECT doc_id, 2 AS layer,
             count(DISTINCT sb) AS n_active_sb, count(*) AS n_active_samples,
             sum(micro)::BIGINT AS sum_val_micro,
             max(abs(micro))::BIGINT AS max_abs_micro
      FROM l2s GROUP BY doc_id)
    SELECT doc_id AS media_id, layer::bigint AS layer,
           n_active_sb::bigint AS n_active_sb,
           n_active_samples::bigint AS n_active_samples,
           sum_val_micro, max_abs_micro
    FROM (SELECT * FROM l1agg UNION ALL SELECT * FROM l2agg)
    """,
    tags=["multimodal", "decode", "mpeg", "audio", "layer1", "layer2"],
)
def multimodal_mpeg_audio_decode(spark, sf_dir):
    """REAL MPEG-1 Audio Layer I/II decode (ISO 11172-3,
    multimodal/mpegaudio.py), hash-checked in the requantized
    SUBBAND domain — the coefficient-domain oracle discipline of the
    progressive-JPEG entry: digest-derived allocations, scalefactors
    (with all four Layer II scfsi expansion modes), and sample codes are
    packed into spec-compliant frames (Layer I even docs: 4-bit
    allocation + 12 samples/subband; Layer II odd docs: allocation table
    3-B.2a incl. GROUPED 3/5/9-step triplet codes), decoded back through
    the full bitstream path, ASSERTED code-exact, and requantized via
    the spec's closed-form C/D constants — which is exactly what the
    SQL oracle replays. One Arrow mapInPandas scan, zero shuffles at
    any corpus size. PCM synthesis exists (synthesize_pcm) but is
    deliberately outside the oracle: the spec's Table 3-B.3 window is a
    printed table with no closed form (see its docstring)."""
    import hashlib

    from cam_etl_spark.multimodal import micro6
    from cam_etl_spark.multimodal.mpegaudio import (
        B2A_SBLIMIT,
        b2a_steps_list,
        decode_mpeg1_audio,
        encode_layer1_frame,
        encode_layer2_frame,
    )

    def run(did, text):
        d = int(did)
        dig = hashlib.md5((text or "").encode()).digest()
        if d % 2 == 0:  # Layer I
            alloc = [dig[(sb * 7 + 1) % 16] % 8 for sb in range(32)]
            active = [sb for sb in range(32) if alloc[sb]]
            scf = [dig[(sb * 3 + 5) % 16] % 63 for sb in active]
            codes = [
                [
                    (dig[(sb + j * 5) % 16] * 31 + j * 7 + d)
                    % ((1 << (alloc[sb] + 1)) - 1)
                    for j in range(12)
                ]
                for sb in active
            ]
            buf = encode_layer1_frame(alloc, scf, codes)
            m = decode_mpeg1_audio(buf)
            f = m["frames"][0]
            assert m["layer"] == 1 and f["codes"] == codes
            assert [t[0] for t in f["scf"]] == scf
        else:  # Layer II, table 3-B.2a
            def amax(sb):
                return 3 if sb < 3 else (5 if sb < 23 else 2)

            alloc = [
                dig[(sb * 5 + 2) % 16] % (amax(sb) + 1)
                for sb in range(B2A_SBLIMIT)
            ]
            active = [sb for sb in range(B2A_SBLIMIT) if alloc[sb]]
            scfsi = [dig[(sb * 3 + 4) % 16] % 4 for sb in active]
            stored = [
                (
                    dig[(sb * 2 + 3) % 16] % 63,
                    dig[(sb * 2 + 8) % 16] % 63,
                    dig[(sb * 2 + 13) % 16] % 63,
                )
                for sb in active
            ]
            codes = []
            for sb in active:
                steps = b2a_steps_list(sb)[alloc[sb] - 1]
                codes.append(
                    [
                        (dig[(sb + i * 7 + 1) % 16] * 29 + i * 11 + d)
                        % steps
                        for i in range(36)
                    ]
                )
            buf = encode_layer2_frame(alloc, scfsi, stored, codes)
            m = decode_mpeg1_audio(buf)
            f = m["frames"][0]
            assert m["layer"] == 2 and f["codes"] == codes
            assert f["scfsi"] == scfsi
        vals = [micro6(v) for row in f["values"] for v in row]
        yield {
            "media_id": d,
            "layer": m["layer"],
            "n_active_sb": len(f["active"]),
            "n_active_samples": len(vals),
            "sum_val_micro": sum(vals),
            "max_abs_micro": max(abs(v) for v in vals),
        }

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    return map_rows(
        d, run,
        "media_id long, layer long, n_active_sb long, n_active_samples long, "
        "sum_val_micro long, max_abs_micro long",
    )


@register(
    "f23_variant_semistructured",
    """
    WITH raw AS (
      SELECT doc_id,
             '{"id": ' || doc_id || ', "lang": "'
             || (CASE doc_id % 3 WHEN 0 THEN 'en'
                 WHEN 1 THEN 'de' ELSE 'fr' END)
             || '", "tags": ["t' || (doc_id % 4) || '", "t' || (doc_id % 7)
             || '"], "meta": {"score": ' || (doc_id % 100)
             || ', "flag": ' || (CASE WHEN doc_id % 2 = 0
                                 THEN 'true' ELSE 'false' END) || '}}' AS j
      FROM documents)
    SELECT json_extract_string(j, '$.lang') AS lang,
           count(*)::bigint AS n_docs,
           sum(json_extract(j, '$.meta.score')::bigint)::bigint AS total_score,
           sum(CASE WHEN json_extract(j, '$.meta.flag') = 'true'
                    THEN 1 ELSE 0 END)::bigint AS n_flagged,
           count(DISTINCT json_extract_string(j, '$.tags[1]'))::bigint
             AS n_second_tags
    FROM raw GROUP BY 1
    """,
    tags=["F22", "variant", "semi-structured", "spark4"],
)
def f23_variant_semistructured(spark, sf_dir):
    """Semi-structured data through Spark 4's VARIANT type — the modern
    engine path for JSON-shaped columns (parse once into the binary
    variant encoding, then typed path extraction without re-parsing;
    contrast f22_json_extract's string-at-a-time get_json_object):
    parse_json → variant_get with typed casts over nested objects,
    arrays, and booleans, then a grouped rollup. At scale the variant
    column shreds/prunes like any binary column and each path extraction
    is a single vectorized pass. Oracle replays the fixture and every
    path with DuckDB's JSON functions."""
    d = t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    j = F.concat(
        F.lit('{"id": '), did.cast("string"), F.lit(', "lang": "'),
        F.when(did % 3 == 0, "en").when(did % 3 == 1, "de").otherwise("fr"),
        F.lit('", "tags": ["t'), (did % 4).cast("string"),
        F.lit('", "t'), (did % 7).cast("string"),
        F.lit('"], "meta": {"score": '), (did % 100).cast("string"),
        F.lit(', "flag": '),
        F.when(did % 2 == 0, "true").otherwise("false"),
        F.lit("}}"),
    )
    v = d.select(F.parse_json(j).alias("v"))
    return v.groupBy(
        F.variant_get("v", "$.lang", "string").alias("lang")
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.variant_get("v", "$.meta.score", "long")).alias("total_score"),
        F.sum(
            F.when(F.variant_get("v", "$.meta.flag", "boolean"), 1).otherwise(0)
        ).alias("n_flagged"),
        F.countDistinct(F.variant_get("v", "$.tags[1]", "string")).alias(
            "n_second_tags"
        ),
    )


@register(
    "s13_json_quarantine",
    """
    WITH raw AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 3
                  THEN '{"id": ' || doc_id || ', "lang": "en", "score":'
                  WHEN doc_id % 11 = 5
                  THEN 'not json at all #' || doc_id
                  ELSE '{"id": ' || doc_id || ', "lang": "'
                       || (CASE doc_id % 3 WHEN 0 THEN 'en'
                           WHEN 1 THEN 'de' ELSE 'fr' END)
                       || '", "score": ' || (doc_id % 100) || '}' END AS line
      FROM documents),
    parsed AS (
      SELECT doc_id, line,
             CASE WHEN json_valid(line) THEN line ELSE NULL END AS ok
      FROM raw)
    SELECT coalesce(json_extract_string(ok, '$.lang'), '_corrupt') AS lang,
           count(*)::bigint AS n_rows,
           sum(CASE WHEN ok IS NULL THEN 1 ELSE 0 END)::bigint AS n_quarantined,
           coalesce(sum(json_extract(ok, '$.score')::bigint), 0)::bigint
             AS total_score
    FROM parsed GROUP BY 1
    """,
    tags=["S3", "json", "quarantine", "malformed-input"],
)
def s13_json_quarantine(spark, sf_dir):
    """Malformed-input QUARANTINE for JSON ingestion — the from_json
    PERMISSIVE-mode discipline (the JSON twin of S3's NUL-scrubbed CSV):
    a fixture stream of JSON lines where two deterministic congruence
    classes are corrupt (truncated object / non-JSON garbage) parses
    with a corrupt-record escape column instead of failing the job; bad
    rows quarantine under a '_corrupt' key with their count, good rows
    aggregate normally. Scan-shaped (from_json is a native expression;
    no Python, no shuffle beyond the final rollup). The oracle replays
    the fixture and the valid/corrupt split with json_valid."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    d = t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    line = (
        F.when(
            did % 7 == 3,
            F.concat(F.lit('{"id": '), did.cast("string"), F.lit(', "lang": "en", "score":')),
        )
        .when(did % 11 == 5, F.concat(F.lit("not json at all #"), did.cast("string")))
        .otherwise(
            F.concat(
                F.lit('{"id": '), did.cast("string"), F.lit(', "lang": "'),
                F.when(did % 3 == 0, "en").when(did % 3 == 1, "de").otherwise("fr"),
                F.lit('", "score": '), (did % 100).cast("string"), F.lit("}"),
            )
        )
    )
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("lang", StringType()),
            StructField("score", LongType()),
            StructField("_corrupt", StringType()),
        ]
    )
    parsed = d.select(did.alias("doc_id"), line.alias("line")).select(
        "doc_id",
        F.from_json(
            "line", schema, {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"}
        ).alias("j"),
    )
    return parsed.groupBy(
        F.coalesce(
            F.when(F.col("j._corrupt").isNull(), F.col("j.lang")), F.lit("_corrupt")
        ).alias("lang")
    ).agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("j._corrupt").isNotNull(), 1).otherwise(0)).alias(
            "n_quarantined"
        ),
        F.coalesce(
            F.sum(F.when(F.col("j._corrupt").isNull(), F.col("j.score"))), F.lit(0)
        ).alias("total_score"),
    )


@register(
    "spatial_zorder_cluster",
    """
    WITH pts AS (
      SELECT c_custkey AS id,
             (c_custkey * 37) % 1600 AS gx,
             (c_custkey * 53) % 1900 AS gy
      FROM customer),
    keyed AS (
      SELECT id, gx, gy,
             list_sum(list_transform(range(11),
               b -> ((gx >> b) & 1) * (2**(2*b))::bigint
                  + ((gy >> b) & 1) * (2**(2*b+1))::bigint))::bigint AS zkey
      FROM pts)
    SELECT (zkey >> 13)::bigint AS file_bucket,
           count(*)::bigint AS n_points,
           min(zkey)::bigint AS min_z,
           max(zkey)::bigint AS max_z,
           sum(CASE WHEN gx >= 400 AND gx < 800
                     AND gy >= 600 AND gy < 1000 THEN 1 ELSE 0 END)::bigint
             AS n_in_window
    FROM keyed GROUP BY 1
    """,
    tags=["spatial", "zorder", "clustering", "layout", "F13"],
    plan={"HashAggregate": (2, None), "Exchange": (1, None)},
)
def spatial_zorder_cluster(spark, sf_dir):
    """Z-order (Morton) clustering for spatial layout — the multi-dim
    analogue of s9's graph partition pruning: interleave the quantized
    grid coordinates into a 1-D locality-preserving key
    (functions/spatial.zorder_key, pure shift/mask algebra), bucket by
    the key's high bits (the 'file' unit a writer would sort into), and
    report per-bucket extent plus how a bbox query's rows concentrate
    into few buckets (n_in_window is zero for most buckets — the pruning
    win min/max stats deliver at 100 TB). Grid coordinates derive from
    the key in pure integer math, so the oracle replays interleave,
    bucketing, and window counts exactly."""
    from cam_etl_spark.functions.spatial import zorder_key

    c = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        (F.col("c_custkey") * 37 % 1600).alias("gx"),
        (F.col("c_custkey") * 53 % 1900).alias("gy"),
    )
    keyed = c.select(
        "id", "gx", "gy", zorder_key(F.col("gx"), F.col("gy"), bits=11).alias("zkey")
    )
    in_window = (
        (F.col("gx") >= 400) & (F.col("gx") < 800)
        & (F.col("gy") >= 600) & (F.col("gy") < 1000)
    )
    return keyed.groupBy(
        F.shiftright("zkey", 13).alias("file_bucket")
    ).agg(
        F.count("*").alias("n_points"),
        F.min("zkey").alias("min_z"),
        F.max("zkey").alias("max_z"),
        F.sum(F.when(in_window, 1).otherwise(0)).alias("n_in_window"),
    )


@register(
    "rag_chunk_windows",
    f"""
    WITH toks AS (
      SELECT doc_id,
             {TK}
      FROM documents),
    sized AS (
      SELECT doc_id, tk, len(tk) AS n,
             CASE WHEN len(tk) <= 32 THEN 1
                  ELSE 1 + ((len(tk) - 32 + 24 - 1) // 24) END AS n_chunks
      FROM toks WHERE len(tk) > 0),
    chunks AS (
      SELECT doc_id, u.i AS chunk_id, u.i * 24 AS start_tok,
             least(32, n - u.i * 24) AS n_tokens,
             array_to_string(tk[u.i * 24 + 1 : u.i * 24 + least(32, n - u.i * 24)], ' ')
               AS chunk_text
      FROM sized, unnest(range(n_chunks)) AS u(i))
    SELECT doc_id, chunk_id::bigint AS chunk_id, start_tok::bigint AS start_tok,
           n_tokens::bigint AS n_tokens, md5(chunk_text) AS chunk_md5
    FROM chunks
    """,
    tags=["rag", "chunking", "text-analysis"],
)
def rag_chunk_windows(spark, sf_dir):
    """RAG-ingestion chunking: overlapping token windows (size 32, stride
    24 — 8 tokens of overlap so retrieval never loses a boundary-spanning
    fact), the step between a cleaned corpus and per-chunk embedding.
    Scan-shaped: one sequence+posexplode per document, no shuffle at all —
    at 100 TB this pipelines straight into the embedding mapInPandas
    stage. Chunk text is emitted as md5 so the oracle byte-checks the
    exact window content including the clipped final window."""
    d = t(spark, sf_dir, "documents")
    size, stride = 32, 24
    toks = d.select(
        "doc_id",
        F.filter(
            F.split(F.coalesce("text", F.lit("")), r"\s+"), lambda x: x != ""
        ).alias("tk"),
    ).filter(F.size("tk") > 0)
    n = F.size("tk")
    n_chunks = F.when(n <= size, F.lit(1)).otherwise(
        1 + F.floor((n - size + stride - 1) / stride).cast("int")
    )
    return (
        toks.select(
            "doc_id",
            "tk",
            n.alias("n"),
            F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id", "_i"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("long"),
            (F.col("chunk_id") * stride).cast("long").alias("start_tok"),
            F.least(F.lit(size), F.col("n") - F.col("chunk_id") * stride)
            .cast("long")
            .alias("n_tokens"),
            F.md5(
                F.array_join(
                    F.slice(
                        "tk",
                        F.col("chunk_id") * stride + 1,
                        F.least(F.lit(size), F.col("n") - F.col("chunk_id") * stride),
                    ),
                    " ",
                )
            ).alias("chunk_md5"),
        )
    )


@register(
    "data_split_by_domain",
    r"""
    WITH raw AS (
      SELECT doc_id,
             (CASE WHEN doc_id % 2 = 0
                   THEN 'www.site' || (doc_id % 20) || '.com'
                   ELSE 'site' || (doc_id % 20) || '.com' END) AS host
      FROM documents),
    dom AS (
      SELECT doc_id, regexp_replace(host, '^www\.', '') AS domain FROM raw),
    lab AS (
      SELECT doc_id, domain,
             ('0x' || substr(md5(domain), 1, 15))::bigint % 100 AS b
      FROM dom)
    SELECT domain,
           CASE WHEN b < 80 THEN 'train'
                WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
           count(*)::bigint AS n_docs,
           count(DISTINCT doc_id)::bigint AS n_distinct_docs
    FROM lab GROUP BY 1, 2
    """,
    tags=["splits", "leakage-control", "group-consistent", "dedup"],
)
def data_split_by_domain(spark, sf_dir):
    """GROUP-CONSISTENT train/val/test split keyed by URL domain — the
    leakage control real pipelines use (per-document splits leak templated
    near-dups from one site across the train/test boundary; splitting on
    the domain hash pins every page of a site to ONE split). Reuses
    split_assign with the domain as the hash key: adding documents — or
    whole new crawls of an existing site — never moves a domain between
    splits. The output is keyed (domain, split): each domain appearing in
    exactly one split is visible in the row set itself, and the oracle
    replays host derivation, www-stripping, the portable 60-bit hash, and
    the 80/10/10 thresholds."""
    from cam_etl_spark.operators.sampling import split_assign

    d = t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    host = F.when(
        did % 2 == 0,
        F.concat(F.lit("www.site"), (did % 20).cast("string"), F.lit(".com")),
    ).otherwise(F.concat(F.lit("site"), (did % 20).cast("string"), F.lit(".com")))
    dom = d.select(
        "doc_id", F.regexp_replace(host, r"^www\.", "").alias("domain")
    )
    return (
        split_assign(dom, id_col="domain")
        .groupBy("domain", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("doc_id").alias("n_distinct_docs"),
        )
    )


@register(
    "text_quality_classifier",
    r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(coalesce(text, '')), '\s+'),
                         x -> x <> '') AS tk
      FROM documents),
    feats AS (
      SELECT doc_id, t.term FROM (
        SELECT doc_id,
               list_concat(tk,
                 CASE WHEN len(tk) < 2 THEN []
                      ELSE list_transform(range(len(tk) - 1),
                                          i -> tk[i+1] || ' ' || tk[i+2]) END
               ) AS terms
        FROM toks), unnest(terms) AS t(term)),
    counts AS (
      SELECT doc_id,
             ('0x' || substr(md5(term), 1, 8))::bigint % 64 AS bucket,
             count(*)::bigint AS c
      FROM feats GROUP BY 1, 2),
    wts AS (SELECT i AS bucket, (i * 2654435761) % 1000 / 1000.0 - 0.5 AS w
            FROM unnest(range(64)) AS u(i)),
    dot AS (
      SELECT doc_id, sum(c)::bigint AS n_feats,
             round(sum(c * w) / sum(c) + 0.05, 9) AS z
      FROM counts JOIN wts USING (bucket) GROUP BY 1)
    SELECT doc_id, n_feats,
           round(1.0 / (1.0 + exp(-z)), 6) AS score,
           round(1.0 / (1.0 + exp(-z)), 6) > 0.5 AS keep
    FROM dot
    """,
    tags=["quality-filter", "classifier", "hashing-trick", "text-analysis"],
    plan={"BroadcastExchange": (1, None), "CartesianProduct": (0, 0)},
)
def text_quality_classifier(spark, sf_dir):
    """Model-based quality filtering — the fastText-shaped linear
    classifier of CCNet (arXiv:1911.00359 §3.3) / GPT-3's quality filter:
    hashed unigram+bigram features (hashing trick, portable md5 buckets),
    L1-normalized sparse dot product against a broadcast weight table,
    sigmoid, threshold. Architecture-real, weights-synthetic (a
    deterministic stand-in for the vendored model binary — the
    distributed shape is identical; see operators/classifier.py module
    doc). Only shuffle: the (doc, bucket) count aggregation; weights are
    dim rows, broadcast. Oracle replays feature hashing, weights, and the
    round-before-threshold float path in SQL."""
    from cam_etl_spark.operators.classifier import (
        quality_classifier_scores,
        synthetic_weights,
    )

    d = t(spark, sf_dir, "documents")
    return quality_classifier_scores(d, synthetic_weights(spark, 64), dim=64)


@register(
    "text_url_canonicalize",
    r"""
    WITH raw AS (
      SELECT doc_id,
             (CASE doc_id % 3 WHEN 0 THEN 'http' WHEN 1 THEN 'HTTP' ELSE 'https' END)
             || '://'
             || (CASE WHEN doc_id % 2 = 0
                      THEN 'WWW.Site' || (doc_id % 20) || '.COM'
                      ELSE 'site' || (doc_id % 20) || '.com' END)
             || (CASE doc_id % 4 WHEN 0 THEN ':80' WHEN 1 THEN ':443' ELSE '' END)
             || '/docs/' || (doc_id % 50)
             || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
             || (CASE WHEN doc_id % 11 = 4 THEN ''
                      WHEN doc_id % 2 = 0
                      THEN '?utm_source=a&id=' || (doc_id % 10) || '&utm_campaign=b'
                      ELSE '?id=' || (doc_id % 10) END)
             || (CASE WHEN doc_id % 7 = 0 THEN '#sec' || (doc_id % 3)
                      WHEN doc_id % 7 = 3 THEN '#a?frag=' || (doc_id % 3)
                      ELSE '' END)
             AS url
      FROM documents),
    parts AS (
      SELECT doc_id, url,
             lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
             regexp_replace(lower(regexp_extract(url,
                 '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), '^www\.', '') AS auth0,
             regexp_replace(regexp_extract(url,
                 '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1), '(.)/$', '\1') AS path,
             array_to_string(list_filter(string_split(
                 regexp_extract(url, '^[^#?]*\?([^#]*)', 1), '&'),
                 x -> x <> '' AND NOT regexp_matches(x, '^utm_')), '&') AS qs
      FROM raw)
    SELECT doc_id, url,
           scheme || '://'
           || (CASE WHEN scheme = 'http' THEN regexp_replace(auth0, ':80$', '')
                    WHEN scheme = 'https' THEN regexp_replace(auth0, ':443$', '')
                    ELSE auth0 END)
           || path
           || (CASE WHEN qs <> '' THEN '?' || qs ELSE '' END) AS canonical
    FROM parts
    """,
    tags=["dedup", "url-canonicalization", "F2", "F4", "text-analysis"],
    bench=True,
    plan={**PIPELINE_PLAN, "Exchange hashpartitioning": (0, 0)},
)
def text_url_canonicalize(spark, sf_dir):
    """Web-corpus URL canonicalization (functions/strings.
    canonicalize_url) — the dedup key derivation for crawled pages:
    scheme/host lowercasing, www. and scheme-matching default-port
    stripping, utm_* tracking-parameter removal, fragment drop, and
    non-root trailing-slash normalization, all as scan-shaped column
    algebra. Fixture URLs mix every mess the rules target (including a
    MISMATCHED default port that must be kept); the oracle replays both
    the fixture construction and every rule in SQL."""
    from cam_etl_spark.functions.strings import canonicalize_url

    d = t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    url = F.concat(
        F.when(did % 3 == 0, "http").when(did % 3 == 1, "HTTP").otherwise("https"),
        F.lit("://"),
        F.when(
            did % 2 == 0, F.concat(F.lit("WWW.Site"), (did % 20).cast("string"), F.lit(".COM"))
        ).otherwise(F.concat(F.lit("site"), (did % 20).cast("string"), F.lit(".com"))),
        F.when(did % 4 == 0, ":80").when(did % 4 == 1, ":443").otherwise(""),
        F.lit("/docs/"),
        (did % 50).cast("string"),
        F.when(did % 5 == 0, "/").otherwise(""),
        F.when(did % 11 == 4, "")
        .when(
            did % 2 == 0,
            F.concat(F.lit("?utm_source=a&id="), (did % 10).cast("string"), F.lit("&utm_campaign=b")),
        )
        .otherwise(F.concat(F.lit("?id="), (did % 10).cast("string"))),
        F.when(did % 7 == 0, F.concat(F.lit("#sec"), (did % 3).cast("string")))
        .when(did % 7 == 3, F.concat(F.lit("#a?frag="), (did % 3).cast("string")))
        .otherwise(""),
    )
    return d.select(
        "doc_id", url.alias("url"), canonicalize_url(url).alias("canonical")
    )


@register(
    "j16_null_join_keys",
    """
    WITH a AS (SELECT c_custkey AS k, nullif(c_mktsegment, 'BUILDING') AS seg
               FROM customer WHERE c_custkey % 10 = 0),
    b AS (SELECT nullif(c_mktsegment, 'BUILDING') AS seg, count(*) AS n
          FROM customer GROUP BY 1)
    SELECT 'plain' AS join_kind, count(*) AS n_rows
    FROM a JOIN b ON a.seg = b.seg
    UNION ALL
    SELECT 'null_safe', count(*)
    FROM a JOIN b ON a.seg IS NOT DISTINCT FROM b.seg
    """,
    tags=["J1", "null-semantics", "P6"],
)
def j16_null_join_keys(spark, sf_dir):
    """NULL join keys: a plain equi-join silently drops every null-keyed
    row (NULL = NULL is NULL), while a null-safe join (<=> /
    IS NOT DISTINCT FROM) matches the null partitions to each other —
    the difference is the row-count delta this query pins. Matters
    because the reference's stringly model converts empty strings to
    NULLs at ingest (SURVEY §7.3); a pipeline that joins on such a
    column must CHOOSE which semantics it wants, and this pair keeps
    both behaviors oracle-locked."""
    c = t(spark, sf_dir, "customer")
    a = c.filter(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").alias("k"),
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg"),
    )
    b = (
        c.select(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg"))
        .groupBy("seg")
        .agg(F.count("*").alias("n"))
    )
    plain = (
        a.join(b, a["seg"] == b["seg"])
        .agg(F.count("*").alias("n_rows"))
        .select(F.lit("plain").alias("join_kind"), "n_rows")
    )
    nullsafe = (
        a.join(b, a["seg"].eqNullSafe(b["seg"]))
        .agg(F.count("*").alias("n_rows"))
        .select(F.lit("null_safe").alias("join_kind"), "n_rows")
    )
    return plain.unionByName(nullsafe)


@register(
    "w7_forward_fill",
    """
    SELECT user_id, event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           round(coalesce(
             last_value(CASE WHEN event_type <> 'error' THEN value END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING),
             -1), 4) AS filled_value
    FROM events WHERE user_id % 40 = 0
    """,
    tags=["W1", "forward-fill", "gap-filling"],
)
def w7_forward_fill(spark, sf_dir):
    """Forward fill (last-observation-carried-forward): error events have
    no trustworthy reading, so each row takes the most recent non-error
    value in its user's stream — `last_value ... IGNORE NULLS` over a
    running frame, the sensor-gap-filling shape of telemetry cleaning.
    One user-partitioned sort; rows before any observation fill with a
    sentinel via coalesce. Deterministic (ts, event_id) ordering."""
    e = t(spark, sf_dir, "events").filter(F.col("user_id") % 40 == 0)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    reading = F.when(F.col("event_type") != "error", F.col("value"))
    return e.select(
        "user_id",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        F.round(
            F.coalesce(F.last(reading, ignorenulls=True).over(w), F.lit(-1.0)), 4
        ).alias("filled_value"),
    )


@register(
    "p9_null_semantics",
    """
    WITH src AS (
      SELECT c_mktsegment AS grp, nullif(c_mktsegment, 'BUILDING') AS seg
      FROM customer)
    SELECT grp,
           count(*)::BIGINT AS n_rows,
           count(seg)::BIGINT AS n_nonnull,
           sum(CASE WHEN seg = 'MACHINERY' THEN 1 ELSE 0 END)::BIGINT AS n_eq_true,
           sum(CASE WHEN (seg = 'MACHINERY') IS NULL THEN 1 ELSE 0 END)::BIGINT
               AS n_eq_null,
           sum(CASE WHEN seg IS NOT DISTINCT FROM 'MACHINERY' THEN 1 ELSE 0 END)::BIGINT
               AS n_nse_true,
           sum(CASE WHEN seg IS DISTINCT FROM 'MACHINERY' THEN 1 ELSE 0 END)::BIGINT
               AS n_distinct_true,
           sum(CASE WHEN seg IN ('MACHINERY', 'FURNITURE') THEN 1 ELSE 0 END)::BIGINT
               AS n_in_true,
           sum(CASE WHEN (seg IN ('MACHINERY', 'FURNITURE')) IS NULL THEN 1 ELSE 0 END)::BIGINT
               AS n_in_null
    FROM src GROUP BY 1
    """,
    tags=["P3", "P6", "F20", "null-semantics"],
)
def p9_null_semantics(spark, sf_dir):
    """Three-valued-logic torture: deterministic NULLs (nullif on one
    segment) pushed through the operators whose NULL behavior silently
    diverges between engines if either cuts corners — plain equality
    (NULL result), null-safe equality (<=> / IS NOT DISTINCT FROM),
    IS DISTINCT FROM, IN-list three-valued results, and count(*) vs
    count(col). Each count isolates one truth-table cell, so a single
    mishandled NULL changes a value, not just a row's presence. The
    stringly-NULL discipline is the reference's own trap (SURVEY §7.3:
    empty string vs NULL is significant)."""
    c = t(spark, sf_dir, "customer")
    src = c.select(
        F.col("c_mktsegment").alias("grp"),
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg"),
    )
    eq = F.col("seg") == "MACHINERY"
    nse = F.col("seg").eqNullSafe("MACHINERY")
    inn = F.col("seg").isin("MACHINERY", "FURNITURE")

    def count_true(cond, name):
        return F.sum(F.when(cond, 1).otherwise(0)).alias(name)

    return src.groupBy("grp").agg(
        F.count("*").alias("n_rows"),
        F.count("seg").alias("n_nonnull"),
        count_true(eq, "n_eq_true"),
        count_true(eq.isNull(), "n_eq_null"),
        count_true(nse, "n_nse_true"),
        count_true(~nse, "n_distinct_true"),
        count_true(inn, "n_in_true"),
        count_true(inn.isNull(), "n_in_null"),
    )


@register(
    "f15_polyline_length",
    """
    WITH src AS (
      SELECT o_orderkey AS order_id,
             ((o_orderkey % 1440)::DOUBLE * 0.25 - 180) AS x0,
             ((o_orderkey % 680)::DOUBLE * 0.25 - 85) AS y0,
             ((o_orderkey % 13) + 1)::DOUBLE * 0.25 AS dx,
             ((o_orderkey % 9) + 1)::DOUBLE * 0.25 AS dy,
             (o_orderkey % 5)::DOUBLE * 0.25 AS dy2
      FROM orders WHERE o_orderkey % 7 = 0),
    pts AS (
      SELECT order_id, x0, y0, x0 + dx AS x1, y0 - dy AS y1,
             x0 + dx + 0.5 AS x2, y0 - dy + dy2 AS y2
      FROM src),
    seg AS (
      SELECT order_id,
             2 * 6371.0088 * asin(sqrt(
               pow(sin(radians(y1 - y0) / 2), 2)
               + cos(radians(y0)) * cos(radians(y1))
                 * pow(sin(radians(x1 - x0) / 2), 2)))
             + 2 * 6371.0088 * asin(sqrt(
               pow(sin(radians(y2 - y1) / 2), 2)
               + cos(radians(y1)) * cos(radians(y2))
                 * pow(sin(radians(x2 - x1) / 2), 2))) AS km
      FROM pts)
    SELECT order_id, 3 AS n_vertices, round(km, 6) AS length_km
    FROM seg
    """,
    tags=["F15", "F13", "spatial", "linestring"],
)
def f15_polyline_length(spark, sf_dir):
    """Geodesic polyline length (ST_Length-on-geography for the
    reference's QRT road centrelines): three-vertex LINESTRING WKTs are
    synthesized from order-key formulas, parsed back with
    parse_wkt_linestring (pure column algebra, try_cast null safety) and
    measured with linestring_length_km — an F.aggregate of haversine
    segment lengths that stays in whole-stage codegen. The oracle
    replays the identical haversine recurrence on the raw formulas, so a
    WKT formatting, parsing, or segment-summation defect hash-fails."""
    from cam_etl_spark.functions.spatial import (
        linestring_length_km,
        parse_wkt_linestring,
    )

    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 0)
    x0 = (F.col("o_orderkey") % 1440).cast("double") * 0.25 - 180
    y0 = (F.col("o_orderkey") % 680).cast("double") * 0.25 - 85
    dx = ((F.col("o_orderkey") % 13) + 1).cast("double") * 0.25
    dy = ((F.col("o_orderkey") % 9) + 1).cast("double") * 0.25
    dy2 = (F.col("o_orderkey") % 5).cast("double") * 0.25
    pt = lambda x, y: F.concat_ws(" ", x.cast("string"), y.cast("string"))  # noqa: E731
    wkt = F.concat(
        F.lit("LINESTRING ("),
        pt(x0, y0),
        F.lit(", "),
        pt(x0 + dx, y0 - dy),
        F.lit(", "),
        pt(x0 + dx + 0.5, y0 - dy + dy2),
        F.lit(")"),
    )
    lines = o.select(F.col("o_orderkey").alias("order_id"), wkt.alias("wkt"))
    verts = parse_wkt_linestring(F.col("wkt"))
    return lines.select(
        "order_id",
        F.size(verts).alias("n_vertices"),
        F.round(linestring_length_km(verts), 6).alias("length_km"),
    )


@register(
    "graph_triangle_count",
    """
    WITH members AS (
      SELECT DISTINCT o_custkey AS node, (o_custkey % 50) AS grp
      FROM orders WHERE o_custkey % 3 = 0),
    edges AS (
      SELECT a.node AS a, b.node AS b
      FROM members a JOIN members b ON a.grp = b.grp AND a.node < b.node),
    tri AS (
      SELECT e1.a, e1.b, e2.b AS c
      FROM edges e1
      JOIN edges e2 ON e2.a = e1.b
      JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b)
    SELECT grp, count(*) AS n_triangles
    FROM tri JOIN members m ON m.node = tri.a
    GROUP BY 1
    """,
    tags=["graph", "triangles", "J12", "A3"],
)
def graph_triangle_count(spark, sf_dir):
    """Distributed triangle counting over the co-membership graph
    (customers sharing a mod-50 class form cliques): the standard
    oriented-edge algorithm — orient every edge low→high, then
    triangles are exactly the closed wedges e(a,b) ⋈ e(b,c) ⋈ e(a,c),
    each counted once. Orientation is THE scale trick: it bounds each
    node's out-degree by its lower-id neighbors, so the wedge join
    explodes on min-degree rather than full degree (the classic
    Suri-Vassilvitskii MapReduce formulation). Two equi-joins Catalyst
    shuffles on node keys; per-group totals keyed back through the
    membership table. Oracle: the identical relational form."""
    o = t(spark, sf_dir, "orders")
    members = (
        o.filter(F.col("o_custkey") % 3 == 0)
        .select(
            F.col("o_custkey").alias("node"), (F.col("o_custkey") % 50).alias("grp")
        )
        .distinct()
    )
    a = members.alias("ma")
    b = members.alias("mb")
    edges = a.join(
        b,
        (F.col("ma.grp") == F.col("mb.grp")) & (F.col("ma.node") < F.col("mb.node")),
    ).select(F.col("ma.node").alias("a"), F.col("mb.node").alias("b"))
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    e3 = edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(e3, (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")))
        .select(F.col("e1.a").alias("a"))
    )
    return (
        tri.join(members, tri["a"] == members["node"])
        .groupBy("grp")
        .agg(F.count("*").alias("n_triangles"))
    )


def _pagerank_oracle(n_iter: int) -> str:
    """Unrolled DuckDB twin of operators/graph.pagerank: one (dangling,
    contribs, ranks) CTE triple per iteration, per-iteration 10-decimal
    rounding, damping written as (1.0 - 0.85) so both engines evaluate
    the identical float expression."""
    parts = [
        """
    WITH edges AS (
      SELECT DISTINCT o_custkey AS src,
             1000000 + (o_custkey % 50) * 6 + o_orderkey % 6 AS dst
      FROM orders),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
    outdeg AS (SELECT src, count(*)::DOUBLE AS od FROM edges GROUP BY 1),
    r0 AS (SELECT node, round(1.0 / n, 10) AS pr FROM nodes CROSS JOIN nn)"""
    ]
    for i in range(1, n_iter + 1):
        p = i - 1
        parts.append(
            f""",
    d{i} AS (SELECT coalesce(sum(pr), 0) AS dang
             FROM r{p} LEFT JOIN outdeg ON r{p}.node = outdeg.src
             WHERE outdeg.src IS NULL),
    c{i} AS (SELECT e.dst AS node, sum(r.pr / o.od) AS c
             FROM edges e JOIN r{p} r ON e.src = r.node
             JOIN outdeg o ON e.src = o.src GROUP BY 1),
    r{i} AS (SELECT nodes.node,
                    round((1.0 - 0.85) / nn.n
                          + 0.85 * (coalesce(c{i}.c, 0) + d{i}.dang / nn.n),
                          10) AS pr
             FROM nodes LEFT JOIN c{i} USING (node)
             CROSS JOIN nn CROSS JOIN d{i})"""
        )
    parts.append(
        f"""
    SELECT node, round(pr, 6) AS pagerank FROM r{n_iter}"""
    )
    return "".join(parts)


@register(
    "graph_pagerank",
    _pagerank_oracle(3),
    tags=["graph", "pagerank", "J12", "iterative"],
    bench=True,
    plan={**CHECKPOINT_PLAN, "Exchange hashpartitioning": (0, 2), "BroadcastHashJoin": (1, None)},
)
def graph_pagerank(spark, sf_dir):
    """Three-iteration damped PageRank with dangling-mass redistribution
    over the same deterministic bipartite graph as
    graph_connected_components (customers → synthetic order hubs; hubs
    are all dangling, so the dangling term is genuinely exercised).
    operators/graph.pagerank: one dst-keyed shuffle per iteration, N and
    dangling mass observed by the localCheckpoints that truncate
    lineage. Oracle: the identical recurrence unrolled as one CTE triple
    per iteration."""
    from cam_etl_spark.operators.graph import pagerank

    o = t(spark, sf_dir, "orders")
    edges = o.select(
        F.col("o_custkey").alias("src"),
        (F.lit(1000000) + (F.col("o_custkey") % 50) * 6 + F.col("o_orderkey") % 6).alias("dst"),
    )
    return pagerank(edges, n_iter=3, damping=0.85)


@register(
    "dedup_clusters",
    f"""
    WITH RECURSIVE
    {NEAR_DUP_COMPONENTS}
    SELECT d.doc_id AS id,
           coalesce(c.component, d.doc_id) AS cluster_id,
           CASE WHEN coalesce(c.component, d.doc_id) = d.doc_id
                THEN 1 ELSE 0 END AS is_representative
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    """,
    tags=["dedup-cluster", "dedup-jaccard", "graph-cc"],
)
def dedup_clusters(spark, sf_dir):
    """The full near-dup dedup verdict: exact-jaccard pairs (threshold 0.5)
    → transitive connected-component clusters → keep-lowest-id
    representative per cluster, singletons for unpaired documents. This is
    the operator a training-data pipeline actually applies — pair lists
    alone under-delete when dups chain (A~B, B~C, A≁C). Oracle: the jaccard
    pair pipeline + recursive-CTE components in DuckDB."""
    from cam_etl_spark.operators.dedup import ngram_jaccard_pairs
    from cam_etl_spark.operators.graph import dedup_clusters as cluster_op

    d = t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, k=3, threshold=0.5)
    out = cluster_op(d, pairs)
    return out.select(
        "id",
        "cluster_id",
        F.when(F.col("is_representative"), 1).otherwise(0).alias("is_representative"),
    )


@register(
    "data_split_hash",
    """
    SELECT doc_id,
           CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id,
                 ('0x' || substr(md5(doc_id::varchar), 1, 15))::bigint % 100 AS b
          FROM documents)
    """,
    tags=["split", "F12"],
)
def data_split_hash(spark, sf_dir):
    """Deterministic train/val/test assignment by content-stable hash —
    reproducible on any cluster layout, unlike df.randomSplit whose
    selection depends on partitioning. Pure map-side projection (zero
    shuffle; the CASE folds into the scan projection)."""
    from cam_etl_spark.operators.sampling import split_assign

    d = t(spark, sf_dir, "documents")
    return split_assign(d).select("doc_id", "split")


@register(
    "sample_stratified",
    """
    SELECT doc_id, lang
    FROM (SELECT doc_id, lang,
                 ('0x' || substr(md5(doc_id::varchar), 1, 15))::bigint % 10000 AS b
          FROM documents)
    WHERE b < (CASE WHEN lang = 'en' THEN 0.05 WHEN lang = 'de' THEN 0.5
                    ELSE 0.2 END * 10000)::bigint
    """,
    tags=["sample", "F12"],
)
def sample_stratified(spark, sf_dir):
    """Per-language deterministic downsample (en 5%, de 50%, rest 20%) —
    the scalable replacement for sampleBy: selection is a hash predicate,
    so it pushes down to the scan and the kept set is stable under reruns
    and repartitioning."""
    from cam_etl_spark.operators.sampling import sample_stratified as op

    d = t(spark, sf_dir, "documents")
    return op(d, "lang", {"en": 0.05, "de": 0.5}, default_fraction=0.2).select(
        "doc_id", "lang"
    )


@register(
    "pack_sequences",
    """
    WITH toks AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
             ('0x' || substr(md5(doc_id::varchar), 1, 15))::bigint % 8 AS shard
      FROM documents),
    packed AS (
      SELECT doc_id, n_tokens, shard,
             sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tokens AS start
      FROM toks)
    SELECT doc_id, n_tokens, shard,
           concat(shard, '-', (start::bigint // 4096)) AS seq_id,
           (start::bigint % 4096) AS "offset"
    FROM packed
    """,
    tags=["packing", "W1"],
)
def pack_sequences(spark, sf_dir):
    """GPT-style stream packing into 4096-token context windows, sharded by
    hash so the running sum is a per-shard window (parallel), never a
    global single-reducer sort. Output: which window each document starts
    in and at what offset."""
    from cam_etl_spark.functions.text import token_count
    from cam_etl_spark.operators.sampling import pack_sequences as op

    d = t(spark, sf_dir, "documents")
    withtok = d.select("doc_id", token_count(F.col("text")).alias("n_tokens"))
    return op(withtok, "n_tokens", ctx_len=4096, num_shards=8).select(
        "doc_id", "n_tokens", "shard", "seq_id", "offset"
    )


@register(
    "stream_upsert_jdbc",
    LATEST_EVENT_PER_USER,
    tags=["streaming", "upsert", "jdbc", "S1"],
)
def stream_upsert_jdbc(spark, sf_dir):
    """Streaming upsert into a LIVE database
    (streaming/sinks.upsert_jdbc_sink): events flow through a file stream
    in micro-batches into a foreachBatch that stages each batch through
    Spark's parallel JDBC writers and applies ONE server-side MERGE into
    embedded Derby — the reference's actual sink shape (a database), with
    the keyed work done set-based inside the engine that owns the table.
    The per-key sequence folds the event_id tie-break into the number
    itself (ts_sec·10^8 + event_id — fits int64, event_id < 10^8 at every
    testdata sf — unique per key), so the winner is
    independent of micro-batch arrival order and the MERGE's ``>=`` guard
    stays retry-idempotent. Returns the table read back over JDBC; the
    oracle is the equivalent batch last-row-per-key window over the
    parquet source — a row lost or doubled anywhere in the
    stage→MERGE→read-back cycle hash-fails."""
    import hashlib

    from cam_etl_spark.streaming.sinks import upsert_jdbc_sink

    digest = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    url = f"jdbc:derby:/tmp/cam_etl_spark_derby/stream_{digest};create=true"
    drv = "org.apache.derby.jdbc.EmbeddedDriver"
    table = "STREAM_LATEST"

    # fresh target per run (Derby has no DROP IF EXISTS — swallow)
    jvm = spark.sparkContext._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        try:
            for tname in (table, f"{table}_STAGE"):
                try:
                    st.execute(f"DROP TABLE {tname}")
                except Exception as e:
                    if "does not exist" not in str(e):
                        raise
        finally:
            st.close()
    finally:
        conn.close()

    src = t(spark, sf_dir, "events").select(
        F.col("event_id").alias("EVENT_ID"),
        F.col("user_id").alias("USER_ID"),
        F.col("event_type").alias("EVENT_TYPE"),
        F.unix_timestamp("ts").alias("TS_SEC"),
        (F.unix_timestamp("ts") * F.lit(100_000_000) + F.col("event_id")).alias("SEQ"),
    )
    work = fixture_dir(sf_dir, "cam_etl_upsert_jdbc_fixture")
    stream = file_stream(src, work + "/in", per_trigger=2, files=4)
    q = upsert_jdbc_sink(
        stream, key_cols=["USER_ID"], seq_col="SEQ",
        url=url, table=table, checkpoint=work + "/ckpt", driver=drv,
        column_types="EVENT_TYPE VARCHAR(20)",
    )
    q.awaitTermination()
    back = (
        spark.read.format("jdbc")
        .option("url", url).option("dbtable", table).option("driver", drv)
        .load()
    )
    return back.select(
        F.col("USER_ID").alias("user_id"),
        F.col("EVENT_ID").alias("last_event_id"),
        F.col("EVENT_TYPE").alias("last_type"),
        F.col("TS_SEC").alias("ts_sec"),
    )


@register(
    "stream_upsert_snapshot",
    LATEST_EVENT_PER_USER,
    tags=["streaming", "upsert", "S11"],
)
def stream_upsert_snapshot(spark, sf_dir):
    """End-to-end streaming upsert (streaming/sinks.upsert_parquet_sink):
    events flow through a file stream in multiple micro-batches
    (maxFilesPerTrigger) into a foreachBatch merge — latest row per user_id
    wins by (ts_sec, event_id) — materialized as write-new-then-swap
    snapshots. Returns the final snapshot; the oracle is the equivalent
    batch last-row-per-key window. This IS executed as a real streaming
    query (not a batch stand-in): the merge path runs once per micro-batch
    against the previous snapshot."""
    from cam_etl_spark.streaming.sinks import read_upsert_snapshot, upsert_parquet_sink

    src = t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.unix_timestamp("ts").alias("ts_sec")
    )
    work = fixture_dir(sf_dir, "cam_etl_upsert_fixture")
    stream = file_stream(src, work + "/in", per_trigger=2, files=4)
    q = upsert_parquet_sink(
        stream, key_cols=["user_id"], seq_col="ts_sec",
        base_path=work + "/out", checkpoint=work + "/ckpt",
    )
    q.awaitTermination()
    snap = read_upsert_snapshot(spark, work + "/out")
    return snap.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_type"),
        "ts_sec",
    )


@register(
    "fuzzy_levenshtein_join",
    """
    WITH d AS (SELECT DISTINCT p_name AS name FROM part WHERE p_name IS NOT NULL),
    toks AS (
        SELECT name, tt.tk
        FROM d, unnest(string_split_regex(name, '\\s+')) AS tt(tk)
        WHERE tt.tk <> ''
    ),
    cand AS (
        SELECT DISTINCT a.name AS name_a, b.name AS name_b
        FROM toks a JOIN toks b ON a.tk = b.tk AND a.name < b.name
    )
    SELECT name_a, name_b, levenshtein(name_a, name_b) AS lev
    FROM cand
    WHERE levenshtein(name_a, name_b) <= 2
    """,
    tags=["J7", "F5", "fuzzy", "dedup"],
)
def fuzzy_levenshtein_join_q(spark, sf_dir):
    """Token-blocked Levenshtein fuzzy self-join on part names — the
    typo-tolerant name reconciliation the reference does with staged
    cleanup UPDATE passes (ref /root/reference/etl-notes.md:74-156).
    Candidate generation = token blocking (explode + equi-join), verify =
    edit distance on candidates only; the oracle applies the identical
    candidate rule, so the result is exact w.r.t. the operator contract."""
    from cam_etl_spark.operators.similarity import fuzzy_levenshtein_join

    p = t(spark, sf_dir, "part")
    return fuzzy_levenshtein_join(p, "p_name", max_distance=2)


@register(
    "similarity_tfidf_pairs",
    f"""
    WITH toks AS (
        SELECT doc_id, tt.term
        {TERMS}
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    stats AS (SELECT count(DISTINCT doc_id) AS n_docs FROM toks),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    pruned AS (
        SELECT tf.doc_id, tf.term, tf.tf * ln(n_docs::DOUBLE / df) AS w
        FROM tf JOIN dfreq USING (term) CROSS JOIN stats
        WHERE df >= 2 AND df <= n_docs * 1.0 AND df < n_docs
    ),
    norms AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM pruned GROUP BY 1),
    unit AS (
        SELECT p.doc_id, p.term, p.w / n.nrm AS u
        FROM pruned p JOIN norms n USING (doc_id)
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(sum(a.u * b.u), 4) AS cosine
    FROM unit a JOIN unit b USING (term)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING round(sum(a.u * b.u), 4) >= 0.9
    """,
    tags=["similarity", "tfidf", "all-pairs", "dedup"],
    bench=True,
    plan={**CHECKPOINT_PLAN, "Exchange hashpartitioning": (0, 0)},
)
def similarity_tfidf_pairs_q(spark, sf_dir):
    """All-pairs TF-IDF cosine similarity join over the documents corpus
    (operators/similarity.tfidf_cosine_pairs): one tokenize pass, df/N
    broadcast back onto the postings, dot products via a term-keyed
    postings self-join, cosines rounded before thresholding in both
    engines. Vector-space twin of the Jaccard AllPairs dedup join; the
    df-band prune (min_df/max_df_frac) is the documented scale lever for
    the O(sum df^2) candidate blowup."""
    from cam_etl_spark.operators.similarity import tfidf_cosine_pairs

    # widen: the strategy probe materializes tokenize+tf, which on the
    # tiny-SF single-split scan ran on one core (355 ms serial stage)
    d = widen_table(spark, sf_dir, "documents", "doc_id", "text")
    return tfidf_cosine_pairs(d, threshold=0.9, min_df=2, max_df_frac=1.0)


@register(
    "stream_stream_join",
    click_view_join('JOIN'),
    tags=["streaming", "J1", "temporal"],
)
def stream_stream_join(spark, sf_dir):
    """REAL stream-stream windowed inner join (streaming/transforms.
    interval_stream_join): clicks and views flow as two file streams in
    multiple micro-batches; Spark keeps both sides' join state in the state
    store, bounded by the watermark + time-range condition. The watermark
    exceeds the dataset's disorder so no pair is late-dropped and the
    result equals the batch interval join — which is the oracle."""
    from cam_etl_spark.streaming.transforms import interval_stream_join

    e = t(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "ts", "value")
    work = fixture_dir(sf_dir, "cam_etl_ssjoin_fixture")
    cs = file_stream(e.filter(F.col("event_type") == "click"), work + "/clicks",
                     per_trigger=2, files=4)
    vs = file_stream(e.filter(F.col("event_type") == "view"), work + "/views",
                     per_trigger=2, files=4)
    j = interval_stream_join(cs, vs, lookback="6 hours", watermark="90 days")
    out = run_available_now(j, work)
    return out.select(
        "click_id",
        "view_id",
        "user_id",
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("click_ts"),
        F.date_format("view_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("view_ts"),
        F.round("view_value", 4).alias("view_value"),
    )


@register(
    "s9_graph_partition_prune",
    """
    SELECT concat('https://example.org/nation/', n_nationkey) AS subject,
           'https://schema.org/name' AS predicate,
           n_name AS object_value,
           'literal' AS object_kind
    FROM nation
    """,
    tags=["S9", "S7", "partition-pruning", "sinks"],
)
def s9_graph_partition_prune(spark, sf_dir):
    """The quad table's physical layout contract (SURVEY §1.3: graph is
    the partition column; §4: graph= filters become partition pruning for
    free): quads from TWO named graphs — every customer name and every
    nation name — are written as one parquet table partitioned by graph,
    and the query reads back ONLY the nations graph. The scan must touch
    only that partition's files (tests/test_quads.py pins
    PartitionFilters in the plan); the oracle is the nation-side
    relational form alone, so any partition-column mixup or cross-graph
    leak fails on rows, not just on performance."""
    from cam_etl_spark.quads import fan_out_sql, quad_sql

    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    cq = fan_out_sql(
        c,
        quad_sql("format_string('https://example.org/customer/%s', c_custkey)",
                 "https://schema.org/name", "c_name", "literal",
                 graph="urn:example:graph:customers"),
    )
    nq = fan_out_sql(
        n,
        quad_sql("format_string('https://example.org/nation/%s', n_nationkey)",
                 "https://schema.org/name", "n_name", "literal",
                 graph="urn:example:graph:nations"),
    )
    work = fixture_dir(sf_dir, "cam_etl_s9prune_fixture")
    cq.unionByName(nq).write.mode("overwrite").partitionBy("graph").parquet(work)
    back = spark.read.parquet(work).filter(
        F.col("graph") == "urn:example:graph:nations"
    )
    return back.select("subject", "predicate", "object_value", "object_kind")


@register(
    "s5_vocab_source_lookup",
    """
    SELECT p_partkey AS part_id, p_brand AS brand,
           'https://example.org/def/brand/' || replace(lower(p_brand), '#', '-')
               AS concept_iri
    FROM part
    """,
    tags=["S5", "J13", "F11", "sources"],
)
def s5_vocab_source_lookup(spark, sf_dir):
    """The FULL S5 vocabulary-source path run in one query: a SKOS vocab
    (prefLabel + altLabel + inScheme per distinct brand) is serialized as
    a vendored-style N-Quads snapshot, loaded back through
    sources/vocab.skos_lookup_df (quad parse → pref-over-alt label
    ranking → scheme filter), and broadcast-joined onto every part row
    with operators/vocab.lookup_concept in STRICT mode — the reference's
    fetch-parse-pickle-resolve cycle (ref /root/reference/cam/etl/
    __init__.py:55-71) as engine dataflow. The oracle replays the concept
    IRI construction relationally; any defect in the snapshot writer,
    parser, label ranking, casefolding, or the strict join hash-fails
    (or aborts, for unresolved codes)."""
    from cam_etl_spark.operators.vocab import lookup_concept
    from cam_etl_spark.quads import fan_out_sql, quad_sql, write_nquads
    from cam_etl_spark.sources.vocab import skos_lookup_df

    p = t(spark, sf_dir, "part")
    scheme = "https://example.org/def/brand"
    brands = p.select("p_brand").distinct()
    iri = f"concat('{scheme}/', replace(lower(p_brand), '#', '-'))"
    skos = "http://www.w3.org/2004/02/skos/core#"
    g = "urn:example:graph:vocabs"
    vocab_quads = fan_out_sql(
        brands,
        quad_sql(iri, skos + "prefLabel", "p_brand", "literal", graph=g),
        quad_sql(iri, skos + "altLabel", "lower(p_brand)", "literal", graph=g),
        quad_sql(iri, skos + "inScheme", f"'{scheme}'", "iri", graph=g),
    )
    work = fixture_dir(sf_dir, "cam_etl_s5vocab_fixture")
    write_nquads(vocab_quads, work)
    lookup = skos_lookup_df(spark, work, scheme=scheme)
    resolved = lookup_concept(p, lookup, "p_brand", strict=True, validate_now=False)
    return resolved.select(
        F.col("p_partkey").alias("part_id"),
        F.col("p_brand").alias("brand"),
        "concept_iri",
    )


@register(
    "s7_nquads_sink_roundtrip",
    f"""
    WITH {CUSTOMER_QUADS}
    SELECT DISTINCT subject, predicate, object_value, object_kind,
           'urn:example:graph:customers' AS graph
    FROM quads
    """,
    tags=["S7", "S8", "S9", "U2", "sinks"],
)
def s7_nquads_sink_roundtrip(spark, sf_dir):
    """Full N-Quads SINK round trip, value-checked per quad (the T1 fan-out
    checks aggregates; this writes the actual .nq files): the customer
    quads are serialized with quads.write_nquads (global dedup, one part
    file per shuffle partition, hashed on subject — the S7 sink), read
    back through the escaping-aware parser, and every (subject,
    predicate, object_value, kind, graph) must match the relational
    oracle — so a term-escaping, formatting, or parser bug anywhere in
    the sink path hash-fails on real data, including names with
    punctuation."""
    from cam_etl_spark.quads import read_nquads, write_nquads

    quads = _customer_quads(spark, sf_dir)
    work = fixture_dir(sf_dir, "cam_etl_s7nq_fixture")
    write_nquads(quads, work)
    back = read_nquads(spark, work)
    return back.select("subject", "predicate", "object_value", "object_kind", "graph")


@register(
    "s3_csv_stringly_scan",
    """
    SELECT c_custkey AS cust_id, c_name AS name, c_mktsegment AS segment,
           round(c_acctbal, 2) AS acctbal
    FROM customer
    """,
    tags=["S3", "F21", "sources", "csv"],
)
def s3_csv_stringly_scan(spark, sf_dir):
    """REAL CSV source round trip with the NUL-scrub contract (upgrades
    S3/F21 from pytest-only to oracle-checked): customers are written to
    CSV DISTRIBUTED with a NUL byte injected inside every name (the
    corruption /root/reference/addressdb/remove_null_terminator_char.py
    removes with a file pre-pass), read back through
    io.read_csv_stringly — all-text columns, scrub as an expression at
    ingest — and then cast bronze→silver. The scrub must restore the
    exact original names and the text→typed casts must reproduce the
    parquet values, so the oracle is simply the original table."""
    from cam_etl_spark.io import read_csv_stringly

    c = t(spark, sf_dir, "customer")
    work = fixture_dir(sf_dir, "cam_etl_s3csv_fixture")
    dirty = c.select(
        "c_custkey",
        F.concat(
            F.substring("c_name", 1, 3), F.lit("\x00"), F.expr("substring(c_name, 4)")
        ).alias("c_name"),
        "c_mktsegment",
        "c_acctbal",
    )
    dirty.write.mode("overwrite").option("header", True).csv(work)

    raw = read_csv_stringly(spark, work)
    return raw.select(
        F.col("c_custkey").cast("long").alias("cust_id"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
        F.round(F.col("c_acctbal").cast("double"), 2).alias("acctbal"),
    )


@register(
    "s4_shapefile_scan",
    f"""
    WITH {PART_SHAPES},
           trim(substr(p_type, 1, 10)) AS ptype
    FROM geo
    """,
    tags=["S4", "shapefile", "sources", "F13"],
)
def s4_shapefile_scan(spark, sf_dir):
    """REAL ESRI shapefile round trip inside the catalog (upgrades S4
    from pytest-only to oracle-checked, like the Derby-backed S1): part
    rows become point/polyline features with quarter-degree coordinates,
    written as four standards-shaped .shp/.shx/.dbf trios
    (sources/shapefile.write_shapefile — the same engine-side writer the
    tests use), then read back DISTRIBUTED via read_shapefile
    (binaryFile per-file parallelism, struct parse in Arrow batches).
    The oracle replays the fixture formulas: WKT strings match because
    quarter multiples have exact shortest-repr formatting in both
    engines, and DBF width-10 truncation+strip is mirrored with
    substr+trim. Fixture build is a driver-side collect of the formula
    inputs only — the READ path under test is fully distributed."""
    from cam_etl_spark.sources.shapefile import (
        read_shapefile,
        shp_point,
        shp_polyline,
        write_shapefile,
    )

    p = t(spark, sf_dir, "part")
    rows = (
        p.filter(F.col("p_partkey") % 5 == 0)
        .select("p_partkey", "p_brand", "p_type")
        .collect()
    )
    work = fixture_dir(sf_dir, "cam_etl_s4shp_fixture")
    fields = [("PKEY", 10), ("BRAND", 10), ("PTYPE", 10)]
    shards: dict[int, tuple[list, list]] = {i: ([], []) for i in range(4)}
    for r in sorted(rows, key=lambda r: r["p_partkey"]):
        pk = r["p_partkey"]
        x = (pk % 1440) * 0.25 - 180
        y = (pk % 680) * 0.25 - 85
        shape = (
            shp_point(x, y)
            if pk % 2 == 0
            else shp_polyline([[(x, y), (x + 1.5, y + 0.75)]])
        )
        shapes, attrs = shards[pk % 4]
        shapes.append(shape)
        attrs.append([str(pk), r["p_brand"], r["p_type"]])
    for i, (shapes, attrs) in shards.items():
        write_shapefile(f"{work}/shard{i}", shapes, fields, attrs)

    feats = read_shapefile(spark, work)
    return feats.select(
        F.col("attributes")["PKEY"].cast("long").alias("pk"),
        "shape_type",
        F.col("geometry").alias("wkt"),
        F.col("attributes")["BRAND"].alias("brand"),
        F.col("attributes")["PTYPE"].alias("ptype"),
    )


@register(
    "s4_shapefile_datasource",
    f"""
    WITH {PART_SHAPES}
    FROM geo
    """,
    tags=["S4", "shapefile", "sources", "datasource-api"],
)
def s4_shapefile_datasource(spark, sf_dir):
    """Shapefile as a REGISTERED Spark format (Python DataSource API,
    Spark 4): ``spark.read.format("shapefile").load(path)`` with the
    driver planning partitions from the tiny .shx offset index and each
    task seeking only its own byte range of one big .shp/.dbf — the
    single-huge-file layout a statewide 100 TB dataset actually ships
    as, now composing with everything a built-in source does. Same
    fixture formulas (and thus the same oracle family) as
    s4_shapefile_scan, but ONE file read through 6 planned splits
    instead of many files through binaryFile."""
    from cam_etl_spark.sources.shapefile import (
        register_shapefile_source,
        shp_point,
        shp_polyline,
        write_shapefile,
    )

    p = t(spark, sf_dir, "part")
    rows = (
        p.filter(F.col("p_partkey") % 5 == 0)
        .select("p_partkey", "p_brand")
        .collect()
    )
    work = fixture_dir(sf_dir, "cam_etl_s4ds_fixture")
    fields = [("PKEY", 10), ("BRAND", 10)]
    shapes, attrs = [], []
    for r in sorted(rows, key=lambda r: r["p_partkey"]):
        pk = r["p_partkey"]
        x = (pk % 1440) * 0.25 - 180
        y = (pk % 680) * 0.25 - 85
        shapes.append(
            shp_point(x, y)
            if pk % 2 == 0
            else shp_polyline([[(x, y), (x + 1.5, y + 0.75)]])
        )
        attrs.append([str(pk), r["p_brand"]])
    write_shapefile(f"{work}/whole", shapes, fields, attrs)

    register_shapefile_source(spark)
    feats = (
        spark.read.format("shapefile")
        .option("num_splits", "6")
        .load(f"{work}/whole.shp")
    )
    return feats.select(
        F.col("attributes")["PKEY"].cast("long").alias("pk"),
        "shape_type",
        F.col("geometry").alias("wkt"),
        F.col("attributes")["BRAND"].alias("brand"),
    )


@register(
    "temporal_event_funnel",
    """
    WITH v AS (SELECT user_id, min(ts) AS v_ts
               FROM events WHERE event_type = 'view' GROUP BY 1),
    c AS (SELECT e.user_id, min(e.ts) AS c_ts
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.ts > v.v_ts GROUP BY 1),
    p AS (SELECT e.user_id, min(e.ts) AS p_ts
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.c_ts GROUP BY 1)
    SELECT v.user_id,
           (1 + (c.user_id IS NOT NULL)::int + (p.user_id IS NOT NULL)::int)
               AS depth,
           strftime(v_ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
           strftime(c_ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
           strftime(p_ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts
    FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
    """,
    tags=["temporal", "funnel", "W1", "A3"],
)
def temporal_event_funnel(spark, sf_dir):
    """Ordered event-funnel analysis: per user, the first view, the first
    click strictly AFTER that view, and the first purchase strictly after
    that click — the sequence-matching shape of product analytics (the
    reference's lifecycle-chain sequencing, T11/W1, generalized to
    cross-event ordering). Three type-filtered min aggregations chained
    by user-keyed joins with an ordering predicate; each stage's input is
    pre-filtered by the previous stage, so later stages shrink — no
    window over the full event stream, no per-user collect."""
    ev = t(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            (
                F.lit(1)
                + F.col("c_ts").isNotNull().cast("int")
                + F.col("p_ts").isNotNull().cast("int")
            ).alias("depth"),
            F.date_format("v_ts", "yyyy-MM-dd HH:mm:ss").alias("view_ts"),
            F.date_format("c_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
            F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        )
    )


@register(
    "stream_stream_left_outer",
    click_view_join('LEFT JOIN'),
    tags=["streaming", "J2", "temporal", "outer-join"],
)
def stream_stream_left_outer(spark, sf_dir):
    """REAL stream-stream LEFT OUTER join with watermark-driven null
    emission: unmatched clicks produce their null-match row only when the
    global watermark proves no matching view can still arrive. A finite
    stream would silently under-emit the tail (rows younger than the
    watermark delay stay in state forever), so the query uses the
    sentinel-and-resume pattern: run 1 ingests all real files under a
    90-day watermark (nothing late, nothing evicted), then a single
    far-future sentinel row is appended to BOTH sides and the SAME
    checkpoint is resumed — the sentinel advances both watermarks past
    every real click, flushing every pending null-match. Sentinels are
    filtered from the result, which must then equal the batch left
    interval join — the oracle."""
    import datetime

    from cam_etl_spark.streaming.transforms import interval_stream_join

    e = t(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "ts", "value")
    work = fixture_dir(sf_dir, "cam_etl_ssljoin_fixture")
    cs = file_stream(e.filter(F.col("event_type") == "click"), work + "/clicks",
                     per_trigger=2, files=4)
    vs = file_stream(e.filter(F.col("event_type") == "view"), work + "/views",
                     per_trigger=2, files=4)
    j = interval_stream_join(
        cs, vs, lookback="6 hours", watermark="90 days", how="left_outer"
    )
    run_available_now(j, work)
    mx = e.agg(F.max("ts").alias("mx")).collect()[0]["mx"]
    sentinel_ts = mx + datetime.timedelta(days=91)
    for side in ("clicks", "views"):
        spark.createDataFrame(
            [(-1, -1, "sentinel", sentinel_ts, 0.0)], e.schema
        ).write.mode("append").parquet(work + "/" + side)
    # resume from the checkpoint: the sentinel flushes pending state
    out = run_available_now(j, work).filter(F.col("click_id") >= 0)
    return out.select(
        "click_id",
        "view_id",
        "user_id",
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("click_ts"),
        F.date_format("view_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("view_ts"),
        F.round("view_value", 4).alias("view_value"),
    )


@register(
    "decontaminate_splits",
    f"""
    WITH {TOKS},
    shl AS (
      SELECT doc_id,
             {SHINGLE_SET} AS shingles
      FROM toks),
    sh AS (SELECT DISTINCT doc_id, s
           FROM (SELECT doc_id, unnest(shingles) AS s FROM shl)),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    pairs AS (
      SELECT id_a, id_b,
             round(n_inter::double / (sa.n + sb.n - n_inter), 6) AS jaccard
      FROM inter
      {JACCARD_FILTER}),
    sp AS (
      SELECT doc_id,
             CASE WHEN ('0x' || substr(md5(doc_id::varchar), 1, 15))::bigint % 100 < 80 THEN 'train'
                  WHEN ('0x' || substr(md5(doc_id::varchar), 1, 15))::bigint % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents)
    SELECT CASE WHEN a.split = 'train' THEN p.id_b ELSE p.id_a END AS eval_doc_id,
           CASE WHEN a.split = 'train' THEN b.split ELSE a.split END AS eval_split,
           CASE WHEN a.split = 'train' THEN p.id_a ELSE p.id_b END AS train_doc_id,
           p.jaccard
    FROM pairs p
    JOIN sp a ON p.id_a = a.doc_id
    JOIN sp b ON p.id_b = b.doc_id
    WHERE (a.split = 'train') <> (b.split = 'train')
    """,
    tags=["split", "dedup-jaccard", "decontamination"],
)
def decontaminate_splits(spark, sf_dir):
    """Eval-set decontamination — the training-pipeline pass that finds
    eval documents with a near-duplicate in train (so they'd leak
    benchmark answers into training). Composition: deterministic hash
    split (operators/sampling.split_assign) × exact shingle-Jaccard pairs
    (operators/dedup.ngram_jaccard_pairs) × the cross-split filter
    (operators/sampling.cross_split_contamination). The pair frame is tiny
    relative to the corpus, so the split joins probe it, not the corpus."""
    from cam_etl_spark.operators.dedup import ngram_jaccard_pairs
    from cam_etl_spark.operators.sampling import cross_split_contamination, split_assign

    d = t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, k=3, threshold=0.5).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )
    sp = split_assign(d).select("doc_id", "split")
    return cross_split_contamination(pairs, sp)


@register(
    "text_vocab_coverage",
    """
    WITH toks AS (
        SELECT d.lang, tt.term
        FROM documents d, unnest(string_split_regex(lower(d.text), '[^a-z0-9]+')) AS tt(term)
        WHERE tt.term <> ''
    ),
    vocab AS (
        SELECT term FROM (
            SELECT term, row_number() OVER (ORDER BY count(*) DESC, term) AS rnk
            FROM toks GROUP BY term)
        WHERE rnk <= 20
    )
    SELECT lang,
           count(*) AS n_tokens,
           count(*) FILTER (WHERE term NOT IN (SELECT term FROM vocab)) AS oov_tokens,
           round(count(*) FILTER (WHERE term NOT IN (SELECT term FROM vocab))::double
                 / count(*), 6) AS oov_rate
    FROM toks
    GROUP BY lang
    """,
    tags=["text", "vocab", "A3"],
)
def text_vocab_coverage(spark, sf_dir):
    """Vocabulary build + out-of-vocabulary profiling per language — the
    corpus-health check before tokenizer training. One tokenize pass feeds
    both the global top-K vocabulary (an agg whose result is tiny → rank →
    broadcast) and the per-language coverage agg; the corpus-scale token
    frame is scanned, never self-joined. Ranking ties break on the term so
    the vocab set is engine-independent."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "lang", F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("term")
    ).filter(F.col("term") != "")
    # top-K via orderBy+limit = TakeOrderedAndProject (per-partition top-K
    # folded on the driver) — no single-partition global window.
    vocab = (
        toks.groupBy("term")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("term"))
        .limit(20)
        .select("term", F.lit(True).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "term", "left")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias("oov_tokens"),
            F.round(
                F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
                / F.count("*"),
                6,
            ).alias("oov_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Training-data hygiene: PII scrubbing, repetition signals, domain mixing,
# semantic dedup
# ---------------------------------------------------------------------------


@register(
    "text_pii_redact",
    r"""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user' || doc_id || '@example.com or 555-'
                  || lpad((doc_id % 1000)::varchar, 3, '0') || '-'
                  || lpad(((doc_id * 7) % 10000)::varchar, 4, '0')
                  || ' from 10.' || (doc_id % 256)::varchar || '.0.'
                  || ((doc_id * 7) % 256)::varchar AS txt
      FROM documents),
    red AS (
      SELECT doc_id, txt,
             regexp_replace(regexp_replace(regexp_replace(txt,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
                 '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g') AS redacted
      FROM aug)
    SELECT doc_id,
           len(regexp_extract_all(txt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
           len(regexp_extract_all(txt, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b')) AS n_phone,
           len(regexp_extract_all(txt, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
           length(redacted) AS redacted_len,
           md5(redacted) AS redacted_md5
    FROM red
    """,
    tags=["text-pii", "F3"],
    bench=True,
    plan={**PIPELINE_PLAN, "Exchange hashpartitioning": (0, 0)},
)
def text_pii_redact(spark, sf_dir):
    """PII scrub over the corpus: per-class occurrence counts + typed-
    placeholder redaction, verified byte-for-byte via md5 of the redacted
    text. The synthetic corpus carries no organic PII, so a deterministic
    contact line (derived from doc_id, same expression in the oracle) is
    appended first — the redactor provably fires on every row. Patterns sit
    in the Java-regex ∩ RE2 subset so Spark and DuckDB agree exactly. Pure
    map-side projection: at 100 TB this is scan-shaped, zero shuffle."""
    from cam_etl_spark.functions.text import pii_counts, redact_pii

    d = t(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad(((F.col("doc_id") * 7) % 10000).cast("string"), 4, "0"),
            F.lit(" from 10."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".0."),
            ((F.col("doc_id") * 7) % 256).cast("string"),
        ).alias("txt"),
    )
    counts = pii_counts(F.col("txt"))
    red = redact_pii(F.col("txt"))
    return aug.select(
        "doc_id",
        counts["email"].alias("n_email"),
        counts["phone"].alias("n_phone"),
        counts["ipv4"].alias("n_ipv4"),
        F.length(red).alias("redacted_len"),
        F.md5(red).alias("redacted_md5"),
    )


@register(
    "text_repetition_signals",
    r"""
    WITH base AS (
      SELECT doc_id,
             string_split_regex(lower(trim(text)), '\s+') AS toks
      FROM documents),
    sized AS (
      SELECT doc_id, toks, len(toks) AS n, len(list_distinct(toks)) AS nd
      FROM base),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, n), i -> toks[i] || ' ' || toks[i+1])) AS b
      FROM sized WHERE n >= 2),
    cnt AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY doc_id, b),
    agg AS (SELECT doc_id, max(c) AS mx, sum(c) AS tot FROM cnt GROUP BY doc_id)
    SELECT s.doc_id,
           s.n AS n_tokens,
           round(CASE WHEN s.n = 0 THEN 0.0 ELSE 1.0 - s.nd::double / s.n END, 6)
               AS dup_word_frac,
           round(coalesce(a.mx::double / a.tot, 0.0), 6) AS top_bigram_frac
    FROM sized s LEFT JOIN agg a USING (doc_id)
    """,
    tags=["text-quality", "repetition"],
)
def text_repetition_signals(spark, sf_dir):
    """Gopher-style repetition quality signals: duplicate-word fraction and
    the fraction of bigram mass held by the single most frequent bigram —
    the cheap detectors for boilerplate/looping text. Per-doc bigram mode
    needs a count-distribution, so the plan explodes bigrams and aggregates
    twice, BOTH keyed on doc_id — the shuffles are corpus-partitioned,
    never global, and AQE coalesces the tiny tail. No Python in the path."""
    d = t(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id",
        F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("toks"),
    ).select(
        "doc_id",
        "toks",
        F.size("toks").alias("n"),
        F.size(F.array_distinct("toks")).alias("nd"),
    )
    bg = (
        sized.filter(F.col("n") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr("transform(sequence(0, n - 2), i -> concat(toks[i], ' ', toks[i+1]))")
            ).alias("b"),
        )
    )
    agg = (
        bg.groupBy("doc_id", "b")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("mx"), F.sum("c").alias("tot"))
    )
    return (
        sized.join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n").alias("n_tokens"),
            F.round(
                F.when(F.col("n") == 0, F.lit(0.0)).otherwise(
                    1.0 - F.col("nd").cast("double") / F.col("n")
                ),
                6,
            ).alias("dup_word_frac"),
            F.round(
                F.coalesce(F.col("mx").cast("double") / F.col("tot"), F.lit(0.0)), 6
            ).alias("top_bigram_frac"),
        )
    )


@register(
    "sample_temperature_mix",
    """
    WITH counts AS (SELECT source, count(*) AS n_s FROM documents GROUP BY source),
    weighted AS (SELECT source, n_s, pow(n_s, 0.5) AS w_s FROM counts),
    rates AS (
      SELECT source,
             round(least(1.0, 200.0 * w_s / (SELECT sum(w_s) FROM weighted) / n_s), 4)
                 AS keep_rate
      FROM weighted)
    SELECT d.doc_id, d.source
    FROM documents d JOIN rates r USING (source)
    WHERE ('0x' || substr(md5(d.doc_id::varchar), 1, 15))::bigint % 10000
          < (r.keep_rate * 10000)::bigint
    """,
    tags=["sample", "domain-mix"],
)
def sample_temperature_mix(spark, sf_dir):
    """Temperature-flattened domain mixture (~200 docs, alpha=0.5): rare
    sources are up-weighted toward uniform, the standard multi-domain LM
    data recipe. Rates come from one tiny count agg and broadcast back;
    membership is the engine-portable md5 hash predicate — zero corpus
    shuffle, stable under reruns and repartitioning."""
    from cam_etl_spark.operators.sampling import sample_temperature

    d = t(spark, sf_dir, "documents")
    return sample_temperature(d, "source", target_rows=200, alpha=0.5).select(
        "doc_id", "source"
    )


@register(
    "dedup_semantic_clusters",
    """
    WITH h AS (
      SELECT vec_id, embedding::DOUBLE[] AS vec,
             ('0x' || substr(md5(vec_id::varchar), 1, 15))::bigint AS hv
      FROM embeddings),
    cents AS (
      SELECT hv AS centroid_id, vec AS cvec
      FROM h ORDER BY hv ASC, vec_id ASC LIMIT 16),
    scored AS (
      SELECT h.vec_id, h.vec, c.centroid_id,
             round(list_cosine_similarity(h.vec, c.cvec), 6) AS cs
      FROM h CROSS JOIN cents c),
    assigned AS (
      SELECT vec_id, vec, centroid_id FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cs DESC, centroid_id ASC) AS rn
        FROM scored) WHERE rn = 1),
    dropped AS (
      SELECT DISTINCT b.vec_id AS drop_id
      FROM assigned a JOIN assigned b
        ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.vec, b.vec) >= 0.40)
    SELECT v.vec_id, v.centroid_id, (d.drop_id IS NULL) AS kept
    FROM assigned v LEFT JOIN dropped d ON v.vec_id = d.drop_id
    """,
    tags=["dedup-semantic", "dedup-embedding"],
)
def dedup_semantic_clusters(spark, sf_dir):
    """SemDeDup (arXiv:2303.09540): embedding space is clustered (16
    md5-hash-sampled centroids, broadcast assignment), then near-dup pairs
    are found WITHIN clusters only — pairwise work drops from corpus² to
    corpus²/k and every stage shuffles on the cluster id, so the plan is
    the one you'd run at 100 TB (more centroids, same shape). Greedy
    keep-lowest-id inside each neighborhood; oracle replays the identical
    pipeline in SQL (portable hash, 6dp-rounded assignment, same drop
    rule)."""
    from cam_etl_spark.operators.dedup import semantic_dedup

    e = t(spark, sf_dir, "embeddings")
    return semantic_dedup(e, threshold=0.40, n_clusters=16)


def _kmeans_oracle(k: int, n_iter: int) -> str:
    """DuckDB twin of operators/similarity.kmeans_lloyd, unrolled one
    (assign, mean, centroids) CTE triple per iteration. Mean components
    and assignment cosines are rounded exactly like the engine."""
    parts = [
        f"""
    WITH h AS (
      SELECT vec_id, embedding::DOUBLE[] AS vec,
             ('0x' || substr(md5(vec_id::varchar), 1, 15))::bigint AS hv
      FROM embeddings),
    c0 AS (
      SELECT hv AS cid, vec AS cvec
      FROM h ORDER BY hv ASC, vec_id ASC LIMIT {k})"""
    ]
    for i in range(1, n_iter + 1):
        p = i - 1
        parts.append(
            f""",
    a{i} AS (
      SELECT vec_id, vec, cid FROM (
        SELECT h.vec_id, h.vec, c.cid,
               row_number() OVER (PARTITION BY h.vec_id
                 ORDER BY round(list_cosine_similarity(h.vec, c.cvec), 6) DESC,
                          c.cid ASC) AS rn
        FROM h CROSS JOIN c{p} c) WHERE rn = 1),
    m{i} AS (
      SELECT cid, p, round(avg(vec[p + 1]), 6) AS mval
      FROM a{i}, unnest(range(len(vec))) AS u(p)
      GROUP BY 1, 2),
    v{i} AS (SELECT cid, list(mval ORDER BY p) AS cvec FROM m{i} GROUP BY 1),
    c{i} AS (
      SELECT c{p}.cid, coalesce(v{i}.cvec, c{p}.cvec) AS cvec
      FROM c{p} LEFT JOIN v{i} USING (cid))"""
        )
    parts.append(
        f""",
    af AS (
      SELECT vec_id, vec, cid FROM (
        SELECT h.vec_id, h.vec, c.cid,
               row_number() OVER (PARTITION BY h.vec_id
                 ORDER BY round(list_cosine_similarity(h.vec, c.cvec), 6) DESC,
                          c.cid ASC) AS rn
        FROM h CROSS JOIN c{n_iter} c) WHERE rn = 1)
    SELECT af.cid AS centroid_id, count(*) AS n_members,
           round(avg(list_cosine_similarity(af.vec, c.cvec)), 4) AS mean_cos
    FROM af JOIN c{n_iter} c ON c.cid = af.cid
    GROUP BY 1"""
    )
    return "".join(parts)


@register(
    "ann_pq_adc",
    """
    WITH h AS (
      SELECT vec_id, embedding::DOUBLE[] AS vec,
             ('0x' || substr(md5(vec_id::varchar), 1, 15))::bigint AS hv
      FROM embeddings),
    seeds AS (SELECT hv AS cid, vec FROM h ORDER BY hv ASC, vec_id ASC LIMIT 8),
    cb AS (
      SELECT u.s, cid, vec[u.s*16 + 1 : u.s*16 + 16] AS cvec
      FROM seeds, unnest(range(4)) AS u(s)),
    q AS (SELECT vec FROM h WHERE vec_id = 0),
    dt AS (
      SELECT s, cid, cvec,
             round(list_sum(list_transform(range(16),
                   i -> (q.vec[cb.s*16 + i + 1] - cb.cvec[i+1])
                      * (q.vec[cb.s*16 + i + 1] - cb.cvec[i+1]))), 6) AS q_dist
      FROM cb CROSS JOIN q),
    enc AS (
      SELECT vec_id, s, q_dist FROM (
        SELECT h.vec_id, dt.s, dt.q_dist,
               row_number() OVER (PARTITION BY h.vec_id, dt.s
                 ORDER BY round(list_sum(list_transform(range(16),
                   i -> (h.vec[dt.s*16 + i + 1] - dt.cvec[i+1])
                      * (h.vec[dt.s*16 + i + 1] - dt.cvec[i+1]))), 6) ASC,
                   dt.cid ASC) AS rn
        FROM h CROSS JOIN dt WHERE h.vec_id <> 0) WHERE rn = 1),
    adc AS (
      SELECT e0.vec_id,
             round(e0.q_dist + e1.q_dist + e2.q_dist + e3.q_dist, 6) AS adc
      FROM enc e0
      JOIN enc e1 ON e1.vec_id = e0.vec_id AND e1.s = 1
      JOIN enc e2 ON e2.vec_id = e0.vec_id AND e2.s = 2
      JOIN enc e3 ON e3.vec_id = e0.vec_id AND e3.s = 3
      WHERE e0.s = 0)
    SELECT vec_id, adc,
           row_number() OVER (ORDER BY adc ASC, vec_id ASC) AS rank
    FROM adc ORDER BY adc ASC, vec_id ASC LIMIT 10
    """,
    tags=["ann", "product-quantization", "adc", "similarity"],
    plan={
        "CartesianProduct": (0, 0),
        "BroadcastExchange": (1, None),
        "SortMergeJoin": (0, 0),
        "Exchange": (0, 6),
    },
)
def ann_pq_adc(spark, sf_dir):
    """Product-quantization ANN with asymmetric distance computation
    (Jégou et al. 2011) — the fourth leg of the ANN family
    (brute / LSH / IVF / PQ): 64-dim vectors quantized as 4 per-subspace
    code ids against hash-drawn codebooks; the query's distance to every
    (subspace, code) is tabulated ONCE and each corpus vector's ADC
    distance is 4 table lookups — the memory-bound scan that makes
    billion-vector search feasible. Broadcast codebook, one
    map-side-combined shuffle doing argmin-encode AND the fixed-order ADC
    sum together, TakeOrdered(10). Oracle replays the draw, encode
    rounding, tabulation, and ranking; fixed-order e0+e1+e2+e3 addition in
    both engines keeps the float path bit-stable."""
    from cam_etl_spark.operators.similarity import pq_adc_topk

    e = t(spark, sf_dir, "embeddings")
    return pq_adc_topk(e, query_id=0, m=4, ks=8, k=10, dim=64)


@register(
    "cluster_kmeans_lloyd",
    _kmeans_oracle(8, 2),
    tags=["clustering", "kmeans", "iterative", "embedding"],
)
def cluster_kmeans_lloyd(spark, sf_dir):
    """Two Lloyd iterations of k-means (k=8, cosine assignment, mean
    update) over the embeddings corpus — the centroid-refinement step the
    IVF/SemDeDup family samples around (operators/similarity.
    kmeans_lloyd). Assignment is a broadcast projection (the corpus never
    shuffles); the update is one (cluster, dim)-keyed shuffle per
    iteration; means and cosines are rounded identically in both engines
    so the unrolled-CTE oracle replays the whole recurrence."""
    from cam_etl_spark.operators.similarity import kmeans_lloyd

    e = t(spark, sf_dir, "embeddings")
    return kmeans_lloyd(e, k=8, n_iter=2)


@register(
    "multimodal_signal_stats",
    f"""
    WITH {md5_digest()},
    audio AS (
      SELECT doc_id,
             ((doc_id % 100) + 1) * (((doc_id // 2) % 2) + 1) AS ns,
             list_transform(
               range(((doc_id % 100) + 1) * (((doc_id // 2) % 2) + 1)),
               j -> {int16_sample('((2*j) % 16) + 1', '((2*j+1) % 16) + 1')}) AS s
      FROM dg WHERE doc_id % 2 = 1),
    image AS (
      SELECT doc_id, (doc_id % 31) + 1 AS w, (doc_id % 17) + 1 AS hh,
             ((((doc_id % 31) + 1) * 24 + 31) // 32) * 4 AS rsize, d
      FROM dg WHERE doc_id % 2 = 0)
    SELECT doc_id AS media_id, 'audio' AS media_type,
           ns::bigint AS n_samples,
           round(sqrt(list_sum(list_transform(s, x -> x::double * x)) / ns), 6) AS rms,
           list_max(list_transform(s, x -> abs(x)))::int AS peak,
           coalesce(list_sum(list_transform(range(ns - 1),
               j -> CASE WHEN s[j+1] * s[j+2] < 0 THEN 1 ELSE 0 END)), 0)::bigint
               AS n_zero_cross,
           NULL::bigint AS n_pixels, NULL::double AS mean_b,
           NULL::double AS mean_g, NULL::double AS mean_r
    FROM audio
    UNION ALL
    SELECT doc_id, 'image', NULL, NULL, NULL, NULL,
           (w * hh)::bigint,
           round(list_sum(list_transform(range(w*hh),
               i -> d[((i//w)*rsize + 3*(i%w)) % 16 + 1]))::double / (w*hh), 6),
           round(list_sum(list_transform(range(w*hh),
               i -> d[((i//w)*rsize + 3*(i%w) + 1) % 16 + 1]))::double / (w*hh), 6),
           round(list_sum(list_transform(range(w*hh),
               i -> d[((i//w)*rsize + 3*(i%w) + 2) % 16 + 1]))::double / (w*hh), 6)
    FROM image
    """,
    tags=["multimodal", "decode", "features"],
    bench=True,
    plan={**PIPELINE_PLAN, "Exchange hashpartitioning": (0, 0)},
)
def multimodal_signal_stats(spark, sf_dir):
    """SAMPLE-LEVEL multimodal features, real DSP over real files: PCM
    waveforms → RMS energy / peak amplitude / zero-crossing count; BMP
    pixel arrays (row padding stripped) → per-channel means. numpy over
    Arrow batches; nothing is trusted from the generator — the features
    come from re-parsing the binary payloads. The oracle REPLAYS the
    waveform in SQL: both encoders tile the text's md5 digest, so DuckDB
    reconstructs every int16 sample / pixel byte from first principles and
    recomputes the identical statistics — a one-byte decode error anywhere
    (sign handling, row padding, channel order, chunk offset) hash-fails.
    Scan-shaped at 100 TB: one mapInPandas pass, features partition with
    the payloads, zero shuffle."""
    from cam_etl_spark.multimodal import media_signal_features, synthesize_struct_media

    d = t(spark, sf_dir, "documents")
    feats = media_signal_features(synthesize_struct_media(d))
    return feats.select(
        "media_id",
        "media_type",
        "n_samples",
        F.round("rms", 6).alias("rms"),
        "peak",
        "n_zero_cross",
        "n_pixels",
        F.round("mean_b", 6).alias("mean_b"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_r", 6).alias("mean_r"),
    )


@register(
    "j_skew_salted_join",
    """
    WITH large AS (
      SELECT l_orderkey, l_linenumber, l_quantity,
             CASE WHEN l_orderkey % 10 < 7 THEN 1
                  ELSE (l_orderkey % 100)::bigint END AS hot_key
      FROM lineitem),
    dim AS (
      SELECT s_suppkey AS hot_key, s_name AS dim_name
      FROM supplier WHERE s_suppkey <= 100)
    SELECT l.l_orderkey, l.l_linenumber, l.hot_key, d.dim_name,
           round(l.l_quantity, 2) AS qty
    FROM large l JOIN dim d USING (hot_key)
    """,
    tags=["skew", "J1"],
    bench=True,
    plan={**PIPELINE_PLAN, "Exchange hashpartitioning": (0, 2)},
)
def j_skew_salted_join(spark, sf_dir):
    """Hot-key join under 70% skew (seven of ten lineitem rows share one
    key — the null-ish-default-road_id shape from the reference data, ref
    /root/reference/etl_lalf_road_qrt_spatial_match.py's unmatched roads):
    operators.skew.salted_join spreads the hot key across 8 salted
    reducers; the dim side replicates 8x (it is 100 rows — replication is
    the cheap side of the trade). The oracle is the PLAIN join: salting
    must be row-for-row invisible in the result, which the value hash
    pins exactly. At 100 TB this is the fallback when even AQE's skew
    split hot-spots a single reducer."""
    from cam_etl_spark.operators.skew import salted_join

    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    large = li.select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.when(F.col("l_orderkey") % 10 < 7, F.lit(1).cast("long"))
        .otherwise((F.col("l_orderkey") % 100).cast("long"))
        .alias("hot_key"),
    )
    dim = s.filter(F.col("s_suppkey") <= 100).select(
        F.col("s_suppkey").alias("hot_key"), F.col("s_name").alias("dim_name")
    )
    return salted_join(large, dim, on="hot_key", buckets=8).select(
        "l_orderkey",
        "l_linenumber",
        "hot_key",
        "dim_name",
        F.round("l_quantity", 2).alias("qty"),
    )


@register(
    "text_unigram_logprob",
    r"""
    WITH toks AS (
      SELECT doc_id, t.term
      FROM documents,
           unnest(string_split_regex(lower(trim(text)), '\s+')) AS t(term)
      WHERE t.term <> ''),
    vocab AS (SELECT term, count(*) AS c FROM toks GROUP BY term),
    total AS (SELECT sum(c) AS n FROM vocab),
    scored AS (
      SELECT toks.doc_id, ln(vocab.c::double / total.n) AS lp
      FROM toks JOIN vocab USING (term) CROSS JOIN total)
    SELECT doc_id,
           count(*) AS n_tokens,
           round(avg(lp), 6) AS avg_logprob,
           (avg(lp) > -6.0) AS quality_ok
    FROM scored
    GROUP BY doc_id
    """,
    tags=["text-quality", "lm-score"],
)
def text_unigram_logprob(spark, sf_dir):
    """Model-based quality scoring: each document's mean unigram
    log-likelihood under the corpus's own unigram distribution — the
    cheap perplexity proxy used to gate training data (low score =
    gibberish / rare-token soup). Fully distributed at 100 TB: token →
    frequency is an equi-join shuffled on the term (no broadcast of the
    vocab, which at web scale does NOT fit), then one doc_id-keyed agg;
    both shuffles partial-aggregate map-side. Self-scoring means no OOV
    branch (every term has count ≥ 1)."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("term"),
    ).filter(F.col("term") != "")
    vocab = toks.groupBy("term").agg(F.count("*").alias("c"))
    total = vocab.agg(F.sum("c").alias("n"))
    scored = (
        toks.join(vocab, "term")
        .crossJoin(F.broadcast(total))  # 1-row scalar: explicit broadcast
        .select("doc_id", F.log(F.col("c").cast("double") / F.col("n")).alias("lp"))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.round(F.avg("lp"), 6).alias("avg_logprob"),
        (F.avg("lp") > -6.0).alias("quality_ok"),
    )


@register(
    "text_bigram_perplexity",
    r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         x -> x <> '') AS tk
      FROM documents),
    uni AS (
      SELECT u.term, count(*)::bigint AS c1
      FROM toks, unnest(tk) AS u(term) GROUP BY 1),
    vsz AS (SELECT count(*)::bigint AS v FROM uni),
    bigr AS (
      SELECT doc_id, tk[i+1] AS w1, tk[i+2] AS w2
      FROM toks, unnest(range(len(tk) - 1)) AS u(i)
      WHERE len(tk) >= 2),
    bc AS (SELECT w1, w2, count(*)::bigint AS c12 FROM bigr GROUP BY 1, 2),
    scored AS (
      SELECT g.doc_id,
             log2((bc.c12 + 1)::double / (uni.c1 + vsz.v)) AS lp
      FROM bigr g JOIN bc USING (w1, w2)
      JOIN uni ON uni.term = g.w1 CROSS JOIN vsz)
    SELECT doc_id, count(*)::bigint AS n_bigrams,
           round(-avg(lp), 6) AS avg_nll,
           round(pow(2.0, -avg(lp)), 4) AS ppl
    FROM scored GROUP BY doc_id
    """,
    tags=["text-quality", "lm-score", "perplexity"],
    plan={"CartesianProduct": (0, 0)},
)
def text_bigram_perplexity(spark, sf_dir):
    """Bigram-LM perplexity scoring — the KenLM-shaped quality gate of
    CCNet-style pipelines, one order up from text_unigram_logprob: each
    document's perplexity under the corpus's own Laplace-smoothed bigram
    model, p(w2|w1) = (c12 + 1) / (c1 + V). Fully distributed at 100 TB:
    bigram and unigram tables are equi-join shuffles keyed on the term
    (NO vocab broadcast — a web-scale bigram table does not fit), both
    map-side partial-aggregated; the only scalar broadcast is the 1-row
    vocabulary size. Same avg-then-round float discipline as the unigram
    entry (hash-green across engines)."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda x: x != ""
        ).alias("tk"),
    )
    uni = toks.select(F.explode("tk").alias("term")).groupBy("term").agg(
        F.count("*").alias("c1")
    )
    vsz = uni.agg(F.count("*").alias("v"))
    n1 = F.size("tk") - 1
    bigr = toks.filter(F.size("tk") >= 2).select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("tk", 1, n1),
                F.slice("tk", 2, n1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")
    bc = bigr.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    scored = (
        bigr.join(bc, ["w1", "w2"])
        .join(uni.withColumnRenamed("term", "w1"), "w1")
        .crossJoin(F.broadcast(vsz))  # 1-row scalar: explicit broadcast
        .select(
            "doc_id",
            F.log2((F.col("c12") + 1).cast("double") / (F.col("c1") + F.col("v"))).alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(-F.avg("lp"), 6).alias("avg_nll"),
        F.round(F.pow(F.lit(2.0), -F.avg("lp")), 4).alias("ppl"),
    )


@register(
    "dedup_keep_best_quality",
    f"""
    WITH RECURSIVE
    {NEAR_DUP_COMPONENTS},
    members AS (
      SELECT d.doc_id AS id, d.n_chars AS quality,
             coalesce(c.component, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.node)
    SELECT id, quality, cluster_id,
           row_number() OVER (PARTITION BY cluster_id
                              ORDER BY quality DESC, id ASC) = 1 AS kept
    FROM members
    """,
    tags=["dedup-cluster", "dedup-jaccard", "graph-cc", "text-quality"],
)
def dedup_keep_best_quality(spark, sf_dir):
    """Quality-aware near-dup dedup — the production policy: within each
    transitive Jaccard-0.5 cluster keep the HIGHEST-quality member
    (n_chars here; any score column slots in), not the lowest id. Same
    large-star/small-star CC as dedup_clusters (O(log n) rounds, shuffles
    keyed on node ids); the survivor pick is one cluster-partitioned
    window over cluster-sized groups. Oracle: recursive-CTE components +
    the identical argmax rule."""
    from cam_etl_spark.operators.dedup import ngram_jaccard_pairs
    from cam_etl_spark.operators.graph import dedup_keep_best

    d = t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, k=3, threshold=0.5)
    return dedup_keep_best(d, pairs, quality_col="n_chars")


@register(
    "stream_sliding_window",
    """
    WITH expanded AS (
      SELECT e.event_type, e.value,
             date_trunc('hour', e.ts) - to_hours(k.k) AS window_start
      FROM events e, unnest([0, 1]) AS k(k)),
    agg AS (
      SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
             event_type,
             count(*) AS n_events,
             round(sum(value), 4) AS sum_value
      FROM expanded GROUP BY 1, 2)
    SELECT * FROM agg
    """,
    tags=["streaming", "W1", "sliding-window"],
)
def stream_sliding_window(spark, sf_dir):
    """SLIDING-window aggregation (2h windows, 1h slide — each event in
    exactly 2 overlapping windows), the rollup shape of a metrics /
    hypertable pipeline. The same function is stream-safe (watermark bounds
    state at duration+lateness; streaming equivalence pytest-locked like
    the tumbling variant). Oracle: explicit window expansion — every event
    joined to its two containing window starts, then the identical agg.
    At scale this is ONE shuffle keyed (window, type); state ∝ active
    windows × types, independent of corpus size."""
    from cam_etl_spark.streaming.transforms import sliding_event_counts

    e = t(spark, sf_dir, "events")
    return sliding_event_counts(e, "2 hours", "1 hour")


@register(
    "stream_dedup_watermark",
    """
    SELECT event_id, user_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           round(value, 4) AS value
    FROM events
    """,
    tags=["streaming", "U2", "dedup-exact"],
)
def stream_dedup_watermark(spark, sf_dir):
    """REAL streaming exactly-once dedup: the events table plus a 1/3
    duplicate tail flows as a file stream in multiple micro-batches;
    watermarked dropDuplicates keeps first-arrival per event_id across
    batches (state store holds ids only inside the watermark horizon —
    bounded at scale by horizon x arrival rate, not corpus size). The
    deduped stream must equal the original duplicate-free table — the
    oracle. Duplicates are written as SEPARATE files so maxFilesPerTrigger
    delivers them in later micro-batches: the dedup is genuinely
    cross-batch, not within-batch distinct."""
    from cam_etl_spark.streaming.stateful import stream_dedup

    e = t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    work = fixture_dir(sf_dir, "cam_etl_sdedup_fixture")
    src = file_stream(e, work + "/in", per_trigger=2, files=4)
    # duplicate tail arrives later (separate files appended to the dir)
    e.filter(F.col("event_id") % 3 == 0).repartition(2).write.mode("append").parquet(
        work + "/in"
    )
    out = run_available_now(
        stream_dedup(src, id_cols=["event_id"], watermark="90 days"), work
    )
    return out.select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        F.round("value", 4).alias("value"),
    )


@register(
    "dedup_cdc_chunks",
    """
    WITH toks AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN []::varchar[]
                  ELSE string_split_regex(trim(text), '\\s+') END AS tk
      FROM documents),
    pos AS (
      SELECT doc_id, u.i + 1 AS i, tk[u.i + 1] AS w, tk
      FROM toks, unnest(range(0, len(tk))) AS u(i)),
    flg AS (
      SELECT doc_id, i, w,
             CASE WHEN i >= 3 AND
               ('0x' || substr(md5(tk[i-2] || ' ' || tk[i-1] || ' '
                                   || tk[i]), 1, 8))::bigint
                 % 16 = 0
             THEN 1 ELSE 0 END AS b
      FROM pos),
    cno AS (
      SELECT doc_id, i, w,
             coalesce(sum(b) OVER (
               PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS cn
      FROM flg),
    chunks AS (
      SELECT doc_id, cn,
             md5(string_agg(w, ' ' ORDER BY i)) AS h
      FROM cno GROUP BY doc_id, cn),
    cnt AS (SELECT h, count(*) AS c FROM chunks GROUP BY h),
    perdoc AS (
      SELECT ch.doc_id,
             count(*)::bigint AS n_chunks,
             sum(CASE WHEN cnt.c > 1 THEN 1 ELSE 0 END)::bigint
               AS n_dup_chunks
      FROM chunks ch JOIN cnt USING (h)
      GROUP BY ch.doc_id)
    SELECT t.doc_id,
           coalesce(p.n_chunks, 0)::bigint AS n_chunks,
           coalesce(p.n_dup_chunks, 0)::bigint AS n_dup_chunks,
           round(CASE WHEN coalesce(p.n_chunks, 0) = 0 THEN 0.0
                      ELSE p.n_dup_chunks::double / p.n_chunks
                 END, 6) AS dup_chunk_frac
    FROM toks t LEFT JOIN perdoc p USING (doc_id)
    """,
    tags=["dedup", "chunk-level", "content-defined", "cdc"],
)
def dedup_cdc_chunks(spark, sf_dir):
    """CONTENT-DEFINED chunk dedup (operators/dedup.py cdc_chunks) —
    the shift-robust counterpart of `dedup_chunk_level`'s fixed
    20-token chunks: a boundary cuts
    after token i whenever the first 32 bits (high-order — hex
    digits 1-8) of the 3-token-window md5 divide by 16 (avg
    ~16-token chunks). Because the cut decision is
    LOCAL, inserting one word realigns boundaries within ~3 tokens,
    so shifted near-duplicates still share most chunk fingerprints —
    fixed-width chunking shares ZERO after any insertion (both
    pinned in tests/test_operators.py). Corpus-wide fingerprint
    counting then scores each doc's duplicated-chunk fraction.
    Scale shape: one exchange on doc_id for the per-doc linear
    window pass, one fingerprint shuffle for the corpus count — the
    same linear pipeline as line-level dedup, no pairwise
    comparisons."""
    from cam_etl_spark.operators.dedup import cdc_chunks

    d = t(spark, sf_dir, "documents")
    chunks = cdc_chunks(d)
    cnt = chunks.groupBy("h").agg(F.count("*").alias("c"))
    perdoc = (
        chunks.join(cnt, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.when(F.col("c") > 1, 1).otherwise(0))
            .alias("n_dup_chunks"),
        )
    )
    return (
        d.select("doc_id")
        .join(perdoc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_chunks", F.lit(0)).alias("n_chunks"),
            F.coalesce("n_dup_chunks", F.lit(0))
            .alias("n_dup_chunks"),
            F.round(
                F.when(
                    F.coalesce("n_chunks", F.lit(0)) == 0, F.lit(0.0)
                ).otherwise(
                    F.col("n_dup_chunks")
                    / F.col("n_chunks").cast("double")
                ),
                6,
            ).alias("dup_chunk_frac"),
        )
    )


@register(
    "stream_session_timeout_finalize",
    """
    WITH ev AS (
      SELECT user_id, epoch_ms(ts) AS ms, value FROM events),
    marked AS (
      SELECT user_id, ms, value,
             CASE WHEN lag(ms) OVER w IS NULL
                    OR ms - lag(ms) OVER w > 600000
                  THEN 1 ELSE 0 END AS new_sess
      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ms)),
    sess AS (
      SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ms
                                    ROWS UNBOUNDED PRECEDING) AS sno
      FROM marked)
    SELECT user_id, min(ms)::BIGINT AS start_ms,
           max(ms)::BIGINT AS end_ms,
           count(*)::BIGINT AS n_events,
           round(sum(value), 4) AS total_value
    FROM sess GROUP BY user_id, sno
    """,
    tags=["streaming", "session-window", "state-timeout"],
)
def stream_session_timeout_finalize(spark, sf_dir):
    """TIMEOUT-DRIVEN session finalization
    (streaming/stateful.py sessionize_event_timeout —
    GroupStateTimeout.EventTimeTimeout, the timer mechanism of the
    arbitrary-stateful API): sessions close from the DATA path when a
    later event arrives past the 10-minute gap, and from the
    state-TIMEOUT callback when the event-time watermark passes
    last_event + gap with no later event on the key — the "user went
    quiet" emission that pure data-driven state cannot express. The
    events table streams as one micro-batch plus a far-future
    sentinel event (user -1) whose watermark advance makes Spark's
    final no-data micro-batch fire EVERY pending timer, so the
    emitted set is exactly the full gaps-and-islands sessionization —
    the oracle — while the sentinel's own session provably stays
    open. State per key is one open-session tuple: at 100 TB the
    store holds only keys active inside the watermark horizon."""
    from cam_etl_spark.streaming.stateful import (
        sessionize_event_timeout,
    )

    e = t(spark, sf_dir, "events").select("user_id", "ts", "value")
    work = fixture_dir(sf_dir, "cam_etl_sess_to_fixture")
    e.coalesce(1).write.mode("overwrite").parquet(work + "/in")
    sentinel_ts = e.agg(
        F.timestamp_millis(
            F.unix_millis(F.max("ts")) + 30 * 86400 * 1000
        ).alias("ts")
    )
    sentinel = sentinel_ts.select(
        F.lit(-1).cast("long").alias("user_id"), "ts",
        F.lit(0.0).alias("value"),
    )
    sentinel.coalesce(1).write.mode("append").parquet(work + "/in")
    src = file_stream(e, work + "/in", per_trigger=1)
    out = run_available_now(sessionize_event_timeout(src), work)
    assert out.filter("user_id = -1").count() == 0  # still open
    return out.select(
        "user_id", "start_ms", "end_ms", "n_events",
        F.round("total_value", 4).alias("total_value"),
    )


@register(
    "stream_dedup_minhash",
    near_dup_pairs(),
    tags=["streaming", "stateful", "dedup-minhash", "applyInPandasWithState"],
)
def stream_dedup_minhash(spark, sf_dir):
    """STREAMING-INCREMENTAL MinHash-LSH dedup — how a 100 TB pipeline
    dedups while the corpus is still arriving. The banded LSH index
    (identical buckets to the green batch path — shared
    banded_from_sets) flows as a multi-file stream; GroupState keyed by
    (band, bucket) accumulates each bucket's ids ACROSS micro-batches and
    emits candidate pairs incrementally (arrivals × accumulated index);
    run-to-completion pairs are then exact-jaccard verified in batch
    against the materialized shingle sets. The pair set is independent of
    the file→batch split (collision is a property of the ids, not the
    arrival order), so the result equals batch dedup_minhash_lsh and the
    oracle is the same EXACT all-pairs jaccard set — asserting 100%
    banding recall on this corpus, cross-batch state included."""
    from cam_etl_spark.operators.dedup import (
        _verify_jaccard,
        banded_from_sets,
        shingle_sets,
    )
    from cam_etl_spark.streaming.stateful import streaming_band_index

    d = t(spark, sf_dir, "documents")
    sets = shingle_sets(d, "text", "doc_id", 3)
    banded = banded_from_sets(sets, bands=8, rows_per_band=2)
    work = fixture_dir(sf_dir, "cam_etl_sminhash_fixture")
    src = file_stream(banded, work + "/in", per_trigger=2, files=6)
    cands = (
        run_available_now(streaming_band_index(src), work)
        .filter(~F.col("overflow"))
        .select("id_a", "id_b")
        .distinct()
    )
    return _verify_jaccard(cands, sets, 0.5).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


@register(
    "stream_custom_source",
    """
    SELECT (n % 50)::bigint AS user_id,
           count(*)::bigint AS n_events,
           round(sum((n % 97) / 10.0), 4) AS total_value
    FROM range(2000) t(n) GROUP BY 1
    """,
    tags=["streaming", "datasource-api", "custom-source"],
)
def stream_custom_source(spark, sf_dir):
    """A REGISTERED custom streaming source end-to-end (Python
    DataSourceStreamReader) — the bespoke-feed connector shape (change
    feeds, paginated APIs, replay services) with the full
    offset/partition/commit lifecycle: 'counterstream' emits 0..1999 in
    350-row micro-batches, `partitions()` splits every batch across 4
    executor-side readers, and the run-to-completion sink must hold each
    n EXACTLY once however the batches landed — which is what the
    per-user aggregate oracle checks. Exactly-once across custom-source
    offset tracking, not just file sources."""
    from cam_etl_spark.sources.counterstream import register_counter_stream

    register_counter_stream(spark)
    work = fixture_dir(sf_dir, "cam_etl_cstream_fixture")
    src = (
        spark.readStream.format("counterstream")
        .option("max_rows", "2000")
        .option("rows_per_batch", "350")
        .option("num_partitions", "4")
        .load()
    )
    out = run_to_count(src, work, 2000)
    # exactly-once means exactly 2000 distinct n, not just 2000 rows
    got = out.select("n").distinct().count()
    if got != 2000:
        raise RuntimeError(
            f"stream_custom_source: sink holds {got} distinct n of 2000 "
            "— the stream emitted duplicates"
        )
    return out.groupBy((F.col("n") % 50).alias("user_id")).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum((F.col("n") % 97) / 10.0), 4).alias("total_value"),
    )


@register(
    "stream_static_enrich_join",
    """
    SELECT c.c_mktsegment AS segment, o.o_orderstatus AS status,
           count(*)::bigint AS n_orders,
           round(sum(o.o_totalprice), 2) AS total_price
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY 1, 2
    """,
    tags=["streaming", "stream-static-join", "J1"],
)
def stream_static_enrich_join(spark, sf_dir):
    """STREAM-STATIC enrichment join — the Structured Streaming primitive
    the catalog was missing (stream-stream inner/outer, watermark dedup,
    sessionization, and stateful ops are all covered; this is the
    bread-and-butter 'enrich the stream against a dimension table' op):
    the orders table flows as a multi-file stream and each micro-batch
    joins against the STATIC customer dimension (broadcast per batch —
    no state store involved; the dimension is re-resolvable every batch,
    which is exactly why stream-static joins need no watermark). Enriched
    rows append to the sink; the final batch rollup must equal the plain
    batch join — the oracle. At scale the static side is the broadcast
    dim and the stream never shuffles for the join."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    work = fixture_dir(sf_dir, "cam_etl_ssj_fixture")
    src = file_stream(o, work + "/in", per_trigger=2, files=6)
    enriched = src.join(
        F.broadcast(c), src["o_custkey"] == c["c_custkey"], "inner"
    ).select("o_orderkey", "c_mktsegment", "o_orderstatus", "o_totalprice")
    return run_available_now(enriched, work).groupBy(
        F.col("c_mktsegment").alias("segment"),
        F.col("o_orderstatus").alias("status"),
    ).agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@register(
    "stream_stateful_running_total",
    """
    SELECT user_id, count(*) AS n_events, round(sum(value), 4) AS total_value
    FROM events GROUP BY 1
    """,
    tags=["streaming", "stateful", "applyInPandasWithState"],
)
def stream_stateful_running_total(spark, sf_dir):
    """REAL custom stateful streaming operator (the §2.10
    applyInPandasWithState escape hatch) run inside the query: the events
    table flows as a multi-file stream (maxFilesPerTrigger forces several
    micro-batches), streaming/stateful.running_totals_stateful carries
    per-user (count, sum) GroupState ACROSS batches and re-emits refreshed
    totals each batch (update mode). Every emission is appended with its
    micro-batch id; the final snapshot — last emission per user — must
    equal the plain batch aggregate, which is the oracle. Batch splits are
    invisible in the result by construction, so the check is deterministic
    regardless of file-to-trigger assignment. State is one (long, double)
    pair per key — bounded by cardinality, not stream length."""
    from cam_etl_spark.streaming.stateful import running_totals_stateful

    e = t(spark, sf_dir, "events").select("user_id", "value")
    work = fixture_dir(sf_dir, "cam_etl_srun_fixture")
    src = file_stream(e, work + "/in", per_trigger=2, files=6)
    totals = running_totals_stateful(src)

    def sink(df, batch_id):
        df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
            work + "/out"
        )

    q = (
        totals.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", work + "/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.read.parquet(work + "/out")
    w = Window.partitionBy("user_id").orderBy(F.desc("batch_id"))
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "n_events",
            F.round("total_value", 4).alias("total_value"),
        )
    )


@register(
    "j10_nearest_road_segment",
    f"""
    WITH pts AS (
      SELECT c_custkey AS query_id,
             {lon_sql('c_custkey')} AS px,
             {lat_sql('c_custkey')} AS py
      FROM customer WHERE c_custkey % 10 = 0),
    roads AS (
      SELECT s_suppkey AS target_id,
             {lon_sql('s_suppkey * 7 + 3')} AS ax,
             {lat_sql('s_suppkey * 11 + 5')} AS ay
      FROM supplier),
    roads2 AS (
      SELECT target_id, ax, ay,
             ax + ((target_id * 13) % 7) / 20.0 - 0.15 AS bx,
             ay + ((target_id * 17) % 7) / 20.0 - 0.15 AS by
      FROM roads),
    roads3 AS (
      SELECT target_id, ax, ay, bx, by,
             bx + ((target_id * 19) % 7) / 20.0 - 0.15 AS cx,
             by + ((target_id * 23) % 7) / 20.0 - 0.15 AS cy
      FROM roads2),
    scored AS (
      SELECT p.query_id, r.target_id,
             least(
               {SEGDIST.format(px='p.px', py='p.py', ax='r.ax', ay='r.ay', bx='r.bx', by='r.by')},
               {SEGDIST.format(px='p.px', py='p.py', ax='r.bx', ay='r.by', bx='r.cx', by='r.cy')}
             ) AS dist
      FROM pts p CROSS JOIN roads3 r),
    ranked AS (
      SELECT query_id, target_id, round(dist, 6) AS distance,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY round(dist, 6), target_id) AS rn
      FROM scored)
    SELECT query_id, target_id, distance FROM ranked WHERE rn = 1
    """,
    tags=["J10", "F15", "spatial-segment"],
)
def j10_nearest_road_segment(spark, sf_dir):
    """Nearest road CENTRELINE (polyline, not point) per address — the
    reference's true spatial-match semantics (PostGIS ``<->`` between a
    point and a LINESTRING, /root/reference/etl_lalf_road_qrt_spatial_match
    .py:80-87). Road geometries are synthesized as 3-vertex WKT LINESTRINGs
    and parsed by functions/spatial.parse_wkt_linestring — the same parser
    fed by the shapefile source — then matched with operators.knn.
    nearest_segment_join: escalating-ring grid candidates on the first
    vertex with an extent-adjusted emit proof; per-segment projection +
    clamp distance entirely in codegen (no UDF). The oracle replays the
    same two-segment projection algebra over a cross join and must agree
    to 6dp, id-tiebroken."""
    from cam_etl_spark.functions.spatial import parse_wkt_linestring
    from cam_etl_spark.operators.knn import nearest_segment_join

    c = t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 10 == 0)
    s = t(spark, sf_dir, "supplier")
    pts = c.select(
        F.col("c_custkey").alias("query_id"),
        F.expr(lon_sql("c_custkey")).alias("x"),
        F.expr(lat_sql("c_custkey")).alias("y"),
    )
    k = F.col("s_suppkey")
    ax = F.expr(lon_sql("s_suppkey * 7 + 3"))
    ay = F.expr(lat_sql("s_suppkey * 11 + 5"))
    bx = ax + ((k * 13) % 7) / 20.0 - 0.15
    by = ay + ((k * 17) % 7) / 20.0 - 0.15
    cx = bx + ((k * 19) % 7) / 20.0 - 0.15
    cy = by + ((k * 23) % 7) / 20.0 - 0.15
    wkt = F.format_string(
        "LINESTRING (%s %s, %s %s, %s %s)", ax, ay, bx, by, cx, cy
    )
    segs = s.select(
        k.alias("target_id"), parse_wkt_linestring(wkt).alias("verts")
    )
    out = nearest_segment_join(pts, segs, tiers=(1.0, 8.0, 64.0))
    return out.select(
        "query_id", "target_id", F.round("distance", 6).alias("distance")
    )


@register(
    "f16_polygon_metrics",
    f"""
    WITH geom AS (
      SELECT p_partkey AS poly_id,
             {lon_sql('p_partkey * 3 + 1')} AS x0,
             {lat_sql('p_partkey * 5 + 2')} AS y0,
             ((p_partkey * 13) % 5 + 1) / 10.0 AS w,
             ((p_partkey * 7) % 5 + 1) / 10.0 AS h,
             ((p_partkey * 3) % 4) / 20.0 AS skew
      FROM part WHERE p_partkey % 20 = 0),
    ring AS (
      SELECT poly_id,
             [
               {{'x': x0 - w, 'y': y0 - h}},
               {{'x': x0 + w, 'y': y0 - h}},
               {{'x': x0 + w + skew, 'y': y0 + h}},
               {{'x': x0 - w, 'y': y0 + h}},
               {{'x': x0 - w, 'y': y0 - h}}
             ] AS v
      FROM geom),
    terms AS (
      SELECT poly_id, v,
             list_transform(range(len(v) - 1),
               i -> v[i+1].x * v[i+2].y - v[i+2].x * v[i+1].y) AS cr
      FROM ring),
    m AS (
      SELECT poly_id, v,
             list_sum(cr) / 2.0 AS a_signed,
             list_sum(list_transform(range(len(v) - 1),
               i -> (v[i+1].x + v[i+2].x) * (v[i+1].x * v[i+2].y - v[i+2].x * v[i+1].y))) AS cxs,
             list_sum(list_transform(range(len(v) - 1),
               i -> (v[i+1].y + v[i+2].y) * (v[i+1].x * v[i+2].y - v[i+2].x * v[i+1].y))) AS cys
      FROM terms)
    SELECT poly_id,
           round(abs(a_signed), 6) AS area,
           round(cxs / (6.0 * a_signed), 6) AS cx,
           round(cys / (6.0 * a_signed), 6) AS cy,
           round(list_min(list_transform(v, p -> p.x)), 6) AS xmin,
           round(list_min(list_transform(v, p -> p.y)), 6) AS ymin,
           round(list_max(list_transform(v, p -> p.x)), 6) AS xmax,
           round(list_max(list_transform(v, p -> p.y)), 6) AS ymax
    FROM m
    """,
    tags=["F16", "F13", "spatial-metrics"],
)
def f16_polygon_metrics(spark, sf_dir):
    """Polygon metrics from WKT — shoelace area, area-weighted centroid,
    bbox — the geometry profiling a cadastre pipeline runs after ingest
    (the reference stores parcel polygons as WKT literals, SURVEY F13/F16).
    The ring is synthesized as a closed WKT POLYGON string, parsed by
    functions/spatial.parse_wkt_polygon (same codegen parser family as the
    linestring/shapefile path), and every metric is pure array algebra —
    scan-shaped, zero shuffle, no UDF. Oracle replays the shoelace and
    centroid sums over the same ring."""
    from cam_etl_spark.functions.spatial import (
        parse_wkt_polygon,
        polygon_area,
        polygon_bbox,
        polygon_centroid,
    )

    p = t(spark, sf_dir, "part").filter(F.col("p_partkey") % 20 == 0)
    k = F.col("p_partkey")
    x0 = F.expr(lon_sql("p_partkey * 3 + 1"))
    y0 = F.expr(lat_sql("p_partkey * 5 + 2"))
    w = ((k * 13) % 5 + 1) / 10.0
    h = ((k * 7) % 5 + 1) / 10.0
    skew = ((k * 3) % 4) / 20.0
    wkt = F.format_string(
        "POLYGON ((%s %s, %s %s, %s %s, %s %s, %s %s))",
        x0 - w, y0 - h, x0 + w, y0 - h, x0 + w + skew, y0 + h,
        x0 - w, y0 + h, x0 - w, y0 - h,
    )
    verts = parse_wkt_polygon(wkt)
    cent = polygon_centroid(verts)
    bbox = polygon_bbox(verts)
    return p.select(
        k.alias("poly_id"),
        F.round(polygon_area(verts), 6).alias("area"),
        F.round(cent["cx"], 6).alias("cx"),
        F.round(cent["cy"], 6).alias("cy"),
        F.round(bbox["xmin"], 6).alias("xmin"),
        F.round(bbox["ymin"], 6).alias("ymin"),
        F.round(bbox["xmax"], 6).alias("xmax"),
        F.round(bbox["ymax"], 6).alias("ymax"),
    )


@register(
    "surface_autocomplete_index",
    r"""
    WITH toks AS (
      SELECT t.term
      FROM documents,
           unnest(string_split_regex(lower(trim(text)), '[^a-z0-9]+')) AS t(term)
      WHERE length(t.term) >= 3),
    tf AS (SELECT term, count(*) AS freq FROM toks GROUP BY term),
    grams AS (
      SELECT substr(term, 1, p.p) AS prefix, term, freq
      FROM tf, unnest(range(2, least(length(term), 6) + 1)) AS p(p)),
    agg AS (
      -- DuckDB promotes sum(BIGINT) to HUGEINT; cast back so the typed
      -- value-hash matches Spark's BIGINT (same trap as round-1 f22).
      SELECT prefix, term, sum(freq)::bigint AS freq
      FROM grams GROUP BY prefix, term),
    ranked AS (
      SELECT prefix, term, freq,
             row_number() OVER (PARTITION BY prefix
                                ORDER BY freq DESC, term ASC) AS rank
      FROM agg)
    SELECT prefix, term, freq, rank
    FROM ranked
    WHERE rank <= 5 AND prefix IN ('cu', 'par', 'val', 'win', 'str')
    """,
    tags=["S11", "F5", "autocomplete"],
)
def surface_autocomplete_index(spark, sf_dir):
    """Edge-ngram autocomplete — the feature the reference delegates to
    GraphDB's autocomplete index (10-minute build per BASELINE): every
    token ≥3 chars emits its 2..6-char prefixes; per (prefix, term) counts
    feed a rank-within-prefix top-5. The probe filter demonstrates lookup.
    Scale shape: one tokenize pass, the edge-ngram explode multiplies by
    ≤5, both aggregations are (prefix[, term])-keyed with map-side
    combine, and the rank window partitions on the prefix — per-group
    state is the completion list, never the corpus. The probe IN-filter
    prunes before the window via predicate pushdown."""
    d = t(spark, sf_dir, "documents")
    probes = ["cu", "par", "val", "win", "str"]
    tf = (
        d.select(
            F.explode(F.split(F.lower(F.trim(F.col("text"))), "[^a-z0-9]+")).alias("term")
        )
        .filter(F.length("term") >= 3)
        .groupBy("term")
        .agg(F.count("*").alias("freq"))
    )
    grams = tf.select(
        "term",
        "freq",
        F.explode(
            F.expr("transform(sequence(2, least(length(term), 6)), p -> substr(term, 1, p))")
        ).alias("prefix"),
    )
    agg = grams.groupBy("prefix", "term").agg(F.sum("freq").alias("freq"))
    w = Window.partitionBy("prefix").orderBy(F.desc("freq"), F.asc("term"))
    return (
        agg.filter(F.col("prefix").isin(probes))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("prefix", "term", "freq", "rank")
    )


@register(
    "w5_moving_average",
    """
    SELECT user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6)
               AS mov_avg,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING), 6) AS running_sum,
           ntile(4) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS quartile
    FROM events
    WHERE user_id % 50 = 0
    """,
    tags=["W1", "W2", "moving-window"],
)
def w5_moving_average(spark, sf_dir):
    """Frame-bounded window analytics per user stream: 5-row moving
    average, running sum, ntile quartiles — the rolling-metric shapes of
    monitoring/feature pipelines. All three windows share ONE
    user-partitioned sort (Catalyst collapses same-spec windows into a
    single WindowExec); per-key frames bound state by the frame width,
    never the stream length. Deterministic ordering via the (ts, event_id)
    composite key."""
    e = t(spark, sf_dir, "events").filter(F.col("user_id") % 50 == 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        F.round(F.avg("value").over(w.rowsBetween(-4, 0)), 6).alias("mov_avg"),
        F.round(
            F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 6
        ).alias("running_sum"),
        F.ntile(4).over(w).alias("quartile"),
    )


@register(
    "w6_rank_variants",
    """
    WITH ranked AS (
      SELECT o_orderkey, o_orderstatus,
             rank() OVER w AS rnk,
             dense_rank() OVER w AS drnk,
             round(percent_rank() OVER w, 6) AS prank,
             round(cume_dist() OVER w, 6) AS cdist,
             nth_value(o_orderkey, 3) OVER w AS third_key
      FROM orders
      WINDOW w AS (PARTITION BY o_orderstatus
                   ORDER BY o_totalprice DESC, o_orderkey)
    )
    SELECT o_orderkey, o_orderstatus, rnk::int AS rnk, drnk::int AS drnk,
           prank, cdist, third_key
    FROM ranked WHERE rnk <= 20
    """,
    tags=["W2", "W3", "rank-functions"],
)
def w6_rank_variants(spark, sf_dir):
    """The remaining SQL rank-function family in ONE WindowExec: rank,
    dense_rank, percent_rank, cume_dist, and nth_value share a single
    (status, price desc, key) sort — Catalyst collapses same-spec windows,
    so the partition is sorted once however many rank flavours ride on
    it. nth_value uses the default running frame, so it is NULL until the
    third row of each partition (locked by the oracle). Top-20 per
    status keeps the result bounded while every function still exercises
    ties via the deterministic (price, key) composite order."""
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    )
    return (
        o.select(
            "o_orderkey",
            "o_orderstatus",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.round(F.percent_rank().over(w), 6).alias("prank"),
            F.round(F.cume_dist().over(w), 6).alias("cdist"),
            F.nth_value("o_orderkey", 3).over(w).alias("third_key"),
        )
        .filter(F.col("rnk") <= 20)
    )


@register(
    "u3_intersect_except",
    """
    WITH click_users AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
    view_users AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'),
    both_u AS (SELECT user_id FROM click_users INTERSECT SELECT user_id FROM view_users),
    only_click AS (SELECT user_id FROM click_users EXCEPT SELECT user_id FROM view_users)
    SELECT user_id, 'both' AS cohort FROM both_u
    UNION ALL
    SELECT user_id, 'click_only' AS cohort FROM only_click
    """,
    tags=["U1", "U2", "set-ops"],
)
def u3_intersect_except(spark, sf_dir):
    """INTERSECT / EXCEPT cohort split (users who both click and view vs
    click-only) — the remaining ANSI set operators beyond union/distinct.
    Spark plans both as aggregated semi/anti joins on the hashed key; the
    two DISTINCT inputs come from one scan with pushed type filters."""
    e = t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("user_id").distinct()
    views = e.filter(F.col("event_type") == "view").select("user_id").distinct()
    both_u = clicks.intersect(views).select("user_id", F.lit("both").alias("cohort"))
    only_click = clicks.exceptAll(views).select(
        "user_id", F.lit("click_only").alias("cohort")
    )
    return both_u.unionByName(only_click)


@register(
    "multimodal_frame_sample_real",
    f"""
    WITH {md5_digest(cols='w, hh, n, rsize', base_cols='''(doc_id % 15) + 1 AS w, (doc_id % 9) + 1 AS hh,
             (doc_id % 7) + 2 AS n,
             ((((doc_id % 15) + 1) * 24 + 31) // 32) * 4 AS rsize''')},
    frames AS (
      SELECT doc_id, w, hh, n, rsize, d,
             unnest(list_transform(range(least(4, n)),
               i -> CASE WHEN least(4, n) = 1 THEN 0
                         ELSE (i * (n - 1)) // (least(4, n) - 1) END)) AS f
      FROM dg)
    SELECT doc_id AS media_id,
           f::int AS frame_index,
           n::bigint AS n_frames,
           (w * hh)::bigint AS n_pixels,
           round(list_sum(list_transform(range(w*hh),
               i -> d[((i//w)*rsize + 3*(i%w) + f) % 16 + 1]))::double / (w*hh), 6)
               AS mean_b,
           round(list_sum(list_transform(range(w*hh),
               i -> d[((i//w)*rsize + 3*(i%w) + 1 + f) % 16 + 1]))::double / (w*hh), 6)
               AS mean_g,
           round(list_sum(list_transform(range(w*hh),
               i -> d[((i//w)*rsize + 3*(i%w) + 2 + f) % 16 + 1]))::double / (w*hh), 6)
               AS mean_r
    FROM frames
    """,
    tags=["multimodal", "frame-sample", "decode"],
)
def multimodal_frame_sample_real(spark, sf_dir):
    """REAL video frame sampling, not the surrogate: every document
    becomes a standards-compliant uncompressed AVI (RIFF hdrl/avih/strl +
    movi '00db' DIB frames — multimodal/codecs.encode_avi), the sampler
    re-parses the container (chunk walk, frame index), picks ≤4 evenly
    spaced frames, and measures per-frame channel means from the actual
    pixel rows (4-byte row padding stripped). Oracle replays the container
    generator's arithmetic — frame f's pixel byte j is the text-md5 digest
    at (j+f) mod 16 — so any parsing error in the chunk walk, frame
    offsets, rotation, or padding hash-fails. Completes the real-decode
    triad: BMP (image), PCM WAV (audio), DIB AVI (video); compressed
    codecs remain honestly stubbed."""
    from cam_etl_spark.multimodal import sample_frames_real, synthesize_avi_media

    d = t(spark, sf_dir, "documents")
    feats = sample_frames_real(synthesize_avi_media(d), max_frames=4)
    return feats.select(
        "media_id",
        "frame_index",
        "n_frames",
        "n_pixels",
        F.round("mean_b", 6).alias("mean_b"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_r", 6).alias("mean_r"),
    )


def _digest_image_decode(spark, sf_dir, encoder, pixels_fn, wmod: int, hmod: int):
    """Shared scaffold of the lib-free image decode queries (PNG/GIF/TIFF):
    every document becomes an image whose pixel bytes tile its text-md5
    digest, the REAL decoder recovers the pixels, and per-channel means
    are measured from them — one Arrow-batched mapInPandas pass, zero
    shuffle. ``encoder(w, h, seed) -> bytes`` and ``pixels_fn(buf) ->
    (meta, (n,3) uint8 RGB)`` select the codec; (wmod, hmod) give each
    format a distinct dimension distribution so a dispatch mix-up between
    codecs cannot produce matching output. The oracle twin
    (digest_image_oracle) replays the same arithmetic in SQL, so a wrong
    inflate/unfilter/LZW/strip-reassembly step hash-fails."""
    import hashlib

    import numpy as np

    def run(did, text):
        d = int(did)
        seed = hashlib.md5((text or "").encode()).digest()
        buf = encoder(d % wmod + 1, d % hmod + 1, seed)
        meta, px = pixels_fn(buf)
        mean = px.astype(np.float64).mean(axis=0)
        yield {
            "media_id": d,
            "width": meta["width"],
            "height": meta["height"],
            "n_pixels": px.shape[0],
            "mean_r": float(mean[0]),
            "mean_g": float(mean[1]),
            "mean_b": float(mean[2]),
        }

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    feats = map_rows(
        d, run,
        "media_id long, width int, height int, n_pixels long, "
        "mean_r double, mean_g double, mean_b double",
    )
    return feats.select(
        "media_id", "width", "height", "n_pixels",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
    )


@register(
    "multimodal_gif_frame_sample",
    f"""
    WITH {md5_digest(cols='w, hh, n', base_cols='''(doc_id % 12) + 1 AS w, (doc_id % 8) + 1 AS hh,
             (doc_id % 6) + 2 AS n''')},
    frames AS (
      SELECT doc_id, w, hh, n, d,
             unnest(list_transform(range(least(4, n)),
               i -> CASE WHEN least(4, n) = 1 THEN 0
                         ELSE (i * (n - 1)) // (least(4, n) - 1) END)) AS f
      FROM dg)
    SELECT doc_id AS media_id,
           f::int AS frame_index,
           n::bigint AS n_frames,
           (w * hh)::bigint AS n_pixels,
           round(list_sum(list_transform(range(w*hh),
               i -> d[(3*i + 2 + f) % 16 + 1]))::double / (w*hh), 6) AS mean_b,
           round(list_sum(list_transform(range(w*hh),
               i -> d[(3*i + 1 + f) % 16 + 1]))::double / (w*hh), 6) AS mean_g,
           round(list_sum(list_transform(range(w*hh),
               i -> d[(3*i + f) % 16 + 1]))::double / (w*hh), 6) AS mean_r
    FROM frames
    """,
    tags=["multimodal", "frame-sample", "gif", "decode"],
)
def multimodal_gif_frame_sample(spark, sf_dir):
    """REAL animated-GIF frame sampling: every document becomes a
    multi-image GIF87a (2-7 frames, ONE shared global color table, a real
    LZW stream per frame — codecs.encode_gif_frames), the sampler
    re-walks the image blocks, picks ≤4 evenly spaced frames, and
    measures per-frame channel means from the decoded pixels. Same
    generator contract as the AVI sampler (frame f's pixel byte j is the
    text-md5 digest at (j+f) mod 16) but a different container: no row
    padding, RGB storage order, palette indirection — so the oracle
    hash-fails on a wrong palette union, frame boundary, or LZW reset,
    the failure modes AVI cannot exercise. Scan-shaped: one mapInPandas
    synth pass + one sampling pass, zero shuffle."""
    from cam_etl_spark.multimodal import sample_frames_real, synthesize_gif_media

    d = t(spark, sf_dir, "documents")
    feats = sample_frames_real(synthesize_gif_media(d), max_frames=4)
    return feats.select(
        "media_id",
        "frame_index",
        "n_frames",
        "n_pixels",
        F.round("mean_b", 6).alias("mean_b"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_r", 6).alias("mean_r"),
    )


@register(
    "multimodal_png_decode",
    digest_image_oracle(13, 11),
    tags=["multimodal", "decode", "png"],
)
def multimodal_png_decode(spark, sf_dir):
    """REAL PNG decode with NO codec library: the container is struct
    chunks and the compression is zlib — Python STDLIB. The decoder
    re-walks the chunks, CRC-checks them, INFLATES the IDAT stream, and
    reverses scanline filtering (all five spec filter types). Scaffold +
    oracle: _digest_image_decode/digest_image_oracle."""
    from cam_etl_spark.multimodal.codecs import encode_png, png_pixels

    return _digest_image_decode(spark, sf_dir, encode_png, png_pixels, 13, 11)


@register(
    "multimodal_gif_decode",
    digest_image_oracle(14, 9),
    tags=["multimodal", "decode", "gif"],
)
def multimodal_gif_decode(spark, sf_dir):
    """REAL GIF87a decode with NO codec library: fixed structs +
    length-prefixed sub-blocks, LZW implemented natively (variable-width
    codes, dictionary growth, clear resets, the KwKwK case); the decoder
    re-walks the blocks, decompresses the index stream, and maps indices
    through the color table. Scaffold + oracle: _digest_image_decode/
    digest_image_oracle."""
    from cam_etl_spark.multimodal.codecs import encode_gif, gif_pixels

    return _digest_image_decode(spark, sf_dir, encode_gif, gif_pixels, 14, 9)


@register(
    "multimodal_tiff_decode",
    digest_image_oracle(17, 7),
    tags=["multimodal", "decode", "tiff"],
)
def multimodal_tiff_decode(spark, sf_dir):
    """REAL baseline-TIFF decode with NO codec library: header + IFD tag
    walk + MULTI-STRIP reassembly (rows_per_strip=2, so every image taller
    than 2 rows exercises the out-of-line offset/byte-count arrays).
    Scaffold + oracle: _digest_image_decode/digest_image_oracle."""
    from cam_etl_spark.multimodal.codecs import encode_tiff, tiff_pixels

    def enc(w, h, seed):
        return encode_tiff(w, h, seed, rows_per_strip=2)

    return _digest_image_decode(spark, sf_dir, enc, tiff_pixels, 17, 7)


@register(
    "multimodal_jpeg_decode",
    f"""
    WITH {md5_digest(cols='wb, hb', base_cols='(doc_id % 5) + 1 AS wb, (doc_id % 3) + 1 AS hb')}
    SELECT doc_id AS media_id,
           (wb * 8)::int AS width, (hb * 8)::int AS height,
           (wb * hb * 64)::bigint AS n_pixels,
           round(list_sum(list_transform(range(wb*hb),
               i -> d[i % 16 + 1]))::double / (wb*hb), 6) AS mean_gray
    FROM dg
    """,
    tags=["multimodal", "decode", "jpeg", "dct", "huffman"],
    bench=True,
    plan={**PIPELINE_PLAN, "Exchange hashpartitioning": (0, 0)},
)
def multimodal_jpeg_decode(spark, sf_dir):
    """REAL baseline JPEG decode with NO codec library: marker walk,
    DQT/DHT parsing, canonical Huffman entropy decoding (0xFF00
    unstuffing, DC prediction, EOB/ZRL run-length), dequantization,
    zigzag inversion, and a float 2-D IDCT (multimodal/jpeg.py). Every
    document becomes a (wb*8)x(hb*8) grayscale JFIF whose 8x8 block i is
    the constant text-md5 digest byte i mod 16; with an all-ones DQT the
    lossy pipeline is bit-exact on block-constant input (ACs vanish, DC
    is integral), so the oracle replays the decoded pixels as digest
    arithmetic — a wrong Huffman table, DC predictor, dequant step, or
    IDCT scale hash-fails. Scan-shaped Arrow mapInPandas, zero shuffle —
    the 100 TB plan is embarrassingly parallel decode."""
    import hashlib

    import numpy as np

    from cam_etl_spark.multimodal.jpeg import encode_jpeg_gray_blocks, jpeg_gray_pixels

    def run(did, text):
        d = int(did)
        seed = hashlib.md5((text or "").encode()).digest()
        buf = encode_jpeg_gray_blocks(d % 5 + 1, d % 3 + 1, seed)
        meta, px = jpeg_gray_pixels(buf)
        yield {
            "media_id": d,
            "width": meta["width"],
            "height": meta["height"],
            "n_pixels": int(px.shape[0]),
            "mean_gray": float(px.astype(np.float64).mean()),
        }

    d = widen_table(spark, sf_dir, "documents", "doc_id", "text")
    feats = map_rows(
        d, run,
        "media_id long, width int, height int, n_pixels long, mean_gray double",
    )
    return feats.select(
        "media_id", "width", "height", "n_pixels",
        F.round("mean_gray", 6).alias("mean_gray"),
    )


@register(
    "multimodal_jpeg_progressive_decode",
    f"""
    WITH {md5_digest(cols='wb, hb', base_cols='(doc_id % 6) + 1 AS wb, (doc_id % 5) + 1 AS hb')}
    SELECT doc_id AS media_id,
           (wb * 8)::int AS width, (hb * 8)::int AS height,
           (wb * hb * 64)::bigint AS n_pixels,
           round(list_sum(list_transform(range(wb*hb),
               i -> d[i % 16 + 1]))::double / (wb*hb), 6) AS mean_gray
    FROM dg
    """,
    tags=["multimodal", "decode", "jpeg", "progressive"],
)
def multimodal_jpeg_progressive_decode(spark, sf_dir):
    """REAL SOF2 progressive JPEG decode, hash-checked: block-constant
    grayscale fixtures are encoded as spectral-selection progressive
    streams (interleaved DC scan + two AC band scans with EOB-run
    coding) and decoded through the multi-scan coefficient-accumulating
    path — a wrong scan header, EOB-run length, band boundary, or
    accumulation step hash-fails. Same digest-arithmetic oracle family
    as the sequential and 4:2:0 entries; the three together pin all
    three JPEG coding paths independently."""
    import hashlib

    import numpy as np

    from cam_etl_spark.multimodal.jpeg import decode_jpeg, encode_jpeg

    def run(did, text):
        d = int(did)
        seed = hashlib.md5((text or "").encode()).digest()
        wb, hb = d % 6 + 1, d % 5 + 1
        vals = np.frombuffer(seed, dtype=np.uint8)
        tiles = vals[np.arange(wb * hb) % 16].reshape(hb, wb)
        img = np.repeat(np.repeat(tiles, 8, 0), 8, 1)
        m = decode_jpeg(encode_jpeg(wb * 8, hb * 8, img, progressive=True))
        assert m["progressive"]
        px = m["pixels"].astype(np.float64)
        yield {
            "media_id": d,
            "width": m["width"],
            "height": m["height"],
            "n_pixels": int(px.size),
            "mean_gray": float(px.mean()),
        }

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    feats = map_rows(
        d, run,
        "media_id long, width int, height int, n_pixels long, mean_gray double",
    )
    return feats.select(
        "media_id", "width", "height", "n_pixels",
        F.round("mean_gray", 6).alias("mean_gray"),
    )


@register(
    "multimodal_jpeg_progressive_refine",
    f"""
    WITH {md5_digest(cols='wb, hb', base_cols='(doc_id % 6) + 1 AS wb, (doc_id % 5) + 1 AS hb')},
    cells AS (
      SELECT doc_id, wb, hb,
             CASE WHEN k = 0 THEN d[(b % 16) + 1] - 128
                  WHEN (d[((b*7 + k) % 16) + 1] % 11) = 0
                       THEN (d[((b + k) % 16) + 1] % 7) - 3
                  ELSE 0 END AS v
      FROM dg, unnest(range(wb*hb)) AS tb(b), unnest(range(64)) AS tk(k))
    SELECT doc_id AS media_id,
           (wb * 8)::int AS width, (hb * 8)::int AS height,
           sum(CASE WHEN v <> 0 THEN 1 ELSE 0 END)::bigint AS n_nonzero,
           sum(abs(v))::bigint AS sum_abs,
           sum(v)::bigint AS sum_coef
    FROM cells GROUP BY doc_id, wb, hb
    """,
    tags=["multimodal", "decode", "jpeg", "progressive", "refinement"],
)
def multimodal_jpeg_progressive_refine(spark, sf_dir):
    """REAL full successive-approximation progressive JPEG, hash-checked
    in the COEFFICIENT domain: per-document quantized coefficient blocks
    are derived from the md5 digest (DC = byte-128; each AC position
    independently nonzero with value in -3..3), emitted as the complete
    T.81 G.1.2 scan script (DC Al=1 + DC refinement, AC band first passes
    at Al=1 + AC successive-approximation refinement scans with buffered
    correction bits and EOB-run folding — jpeg.py _emit_sa_scans), and
    decoded back through the refinement path (decode_jpeg Ah>0 branch).
    ±1 coefficients exist ONLY via refinement symbols and odd magnitudes
    ONLY via correction bits, so a decoder that dropped or misread the
    refinement scans hash-fails. Oracle replays the digest arithmetic in
    pure integer SQL — coefficient domain, not pixels, because the IDCT
    has no exact SQL replay."""
    import hashlib

    import numpy as np

    from cam_etl_spark.multimodal.jpeg import (
        encode_jpeg_gray_coeff_blocks,
        jpeg_gray_coeffs,
    )

    def run(did, text):
        d = int(did)
        seed = hashlib.md5((text or "").encode()).digest()
        wb, hb = d % 6 + 1, d % 5 + 1
        n = wb * hb
        dig = np.frombuffer(seed, dtype=np.uint8).astype(np.int64)
        b_idx = np.arange(n)[:, None]
        k_idx = np.arange(64)[None, :]
        gate = dig[(b_idx * 7 + k_idx) % 16] % 11 == 0
        val = dig[(b_idx + k_idx) % 16] % 7 - 3
        blocks = np.where(gate, val, 0).astype(np.int32)
        blocks[:, 0] = dig[np.arange(n) % 16] - 128
        meta, got = jpeg_gray_coeffs(
            encode_jpeg_gray_coeff_blocks(wb, hb, blocks)
        )
        assert meta["progressive"] and meta["width"] == wb * 8
        yield {
            "media_id": d,
            "width": wb * 8,
            "height": hb * 8,
            "n_nonzero": int((got != 0).sum()),
            "sum_abs": int(np.abs(got).sum()),
            "sum_coef": int(got.sum()),
        }

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    return map_rows(
        d, run,
        "media_id long, width int, height int, "
        "n_nonzero long, sum_abs long, sum_coef long",
    )


@register(
    "multimodal_jpeg420_decode",
    f"""
    WITH {md5_digest(cols='wb, hb', base_cols='(doc_id % 3) + 1 AS wb, (doc_id % 2) + 1 AS hb')}
    SELECT doc_id AS media_id,
           (wb * 16)::int AS width, (hb * 16)::int AS height,
           (wb * hb * 256)::bigint AS n_pixels,
           round(list_sum(list_transform(range(wb*hb),
               i -> d[i % 16 + 1]))::double / (wb*hb), 6) AS mean_r,
           round(list_sum(list_transform(range(wb*hb),
               i -> d[i % 16 + 1]))::double / (wb*hb), 6) AS mean_g,
           round(list_sum(list_transform(range(wb*hb),
               i -> d[i % 16 + 1]))::double / (wb*hb), 6) AS mean_b
    FROM dg
    """,
    tags=["multimodal", "decode", "jpeg", "subsampling-420"],
)
def multimodal_jpeg420_decode(spark, sf_dir):
    """REAL 4:2:0-subsampled COLOR JPEG decode, hash-checked: every
    document becomes a (wb*16)x(hb*16) RGB JFIF with 2x2 luma sampling —
    16x16 tiles of neutral gray (R=G=B = digest byte), for which the
    whole lossy pipeline is bit-exact (Y is tile-constant so only DC
    terms survive; Cb/Cr are flat 128 so the 2x2-mean subsample and the
    nearest upsample are identities). The decoder must walk the
    MCU-interleaved 4-luma+2-chroma block layout, reconstruct the chroma
    planes, and convert back to RGB — a wrong MCU order, plane geometry,
    upsample, or color matrix hash-fails. Oracle: tile-mean digest
    arithmetic per channel."""
    import hashlib

    import numpy as np

    from cam_etl_spark.multimodal.jpeg import decode_jpeg, encode_jpeg

    def run(did, text):
        d = int(did)
        seed = hashlib.md5((text or "").encode()).digest()
        wb, hb = d % 3 + 1, d % 2 + 1
        vals = np.frombuffer(seed, dtype=np.uint8)
        tiles = vals[np.arange(wb * hb) % 16].reshape(hb, wb)
        gray = np.repeat(np.repeat(tiles, 16, 0), 16, 1)
        rgb = np.repeat(gray[:, :, None], 3, axis=2)
        m = decode_jpeg(
            encode_jpeg(wb * 16, hb * 16, rgb, subsampling="420")
        )
        px = m["pixels"].astype(np.float64)
        yield {
            "media_id": d,
            "width": m["width"],
            "height": m["height"],
            "n_pixels": int(px.shape[0] * px.shape[1]),
            "mean_r": float(px[..., 0].mean()),
            "mean_g": float(px[..., 1].mean()),
            "mean_b": float(px[..., 2].mean()),
        }

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    feats = map_rows(
        d, run,
        "media_id long, width int, height int, n_pixels long, "
        "mean_r double, mean_g double, mean_b double",
    )
    return feats.select(
        "media_id", "width", "height", "n_pixels",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
    )


@register(
    "multimodal_resize_real",
    """
    WITH base AS (
      SELECT doc_id, md5(coalesce(text, '')) AS h,
             CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'png' END AS fmt,
             CASE WHEN doc_id % 2 = 0 THEN (doc_id % 31) + 1
                  ELSE (doc_id % 13) + 1 END AS w,
             CASE WHEN doc_id % 2 = 0 THEN (doc_id % 17) + 1
                  ELSE (doc_id % 11) + 1 END AS hh
      FROM documents),
    geo AS (
      SELECT doc_id, fmt, w, hh,
             CASE WHEN fmt = 'bmp' THEN ((w * 24 + 31) // 32) * 4
                  ELSE w * 3 END AS stride
      FROM base),
    dg AS (
      SELECT g.doc_id, g.fmt, g.w, g.hh, g.stride,
             list_transform(range(16),
                            k -> ('0x' || substr(b.h, 2*k + 1, 2))::bigint) AS d
      FROM geo g JOIN base b USING (doc_id))
    SELECT doc_id AS media_id, fmt AS format,
           4 AS width, 3 AS height,
           round(list_sum(list_transform(range(12),
               i -> d[(((i//4) * hh // 3) * stride
                       + 3 * ((i%4) * w // 4)) % 16 + 1]))::double / 12, 6)
               AS mean_c0,
           round(list_sum(list_transform(range(12),
               i -> d[(((i//4) * hh // 3) * stride
                       + 3 * ((i%4) * w // 4) + 1) % 16 + 1]))::double / 12, 6)
               AS mean_c1,
           round(list_sum(list_transform(range(12),
               i -> d[(((i//4) * hh // 3) * stride
                       + 3 * ((i%4) * w // 4) + 2) % 16 + 1]))::double / 12, 6)
               AS mean_c2
    FROM dg
    """,
    tags=["multimodal", "resize", "decode"],
)
def multimodal_resize_real(spark, sf_dir):
    """REAL resize, replacing the md5-surrogate: BMPs (even doc_id) and
    PNGs (odd) are decoded to pixel matrices, nearest-neighbour sampled to
    4x3 (integer index mapping sr = r*h//3, sp = p*w//4), re-encoded in
    the same format, and profiled. The oracle replays the NN index
    arithmetic against the tiled-digest source pixels — through the BMP
    row padding and the PNG zlib round-trip — so a wrong stride, index
    map, or channel order hash-fails. Channel order is storage order
    (BGR/BMP, RGB/PNG), reported as c0/c1/c2."""
    import hashlib

    from cam_etl_spark.multimodal import resize_media_real
    from cam_etl_spark.multimodal.codecs import encode_bmp, encode_png

    def gen(did, text):
        d = int(did)
        seed = hashlib.md5((text or "").encode()).digest()
        if d % 2 == 0:
            buf = encode_bmp(d % 31 + 1, d % 17 + 1, seed)
        else:
            buf = encode_png(d % 13 + 1, d % 11 + 1, seed)
        yield {"media_id": d, "payload": buf}

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    media = map_rows(d, gen, "media_id long, payload binary")
    out = resize_media_real(media, target_w=4, target_h=3)
    return out.select(
        "media_id", "format", "width", "height",
        F.round("mean_c0", 6).alias("mean_c0"),
        F.round("mean_c1", 6).alias("mean_c1"),
        F.round("mean_c2", 6).alias("mean_c2"),
    )


@register(
    "j_runtime_bloom_filter",
    """
    SELECT l.l_returnflag AS flag, count(*)::bigint AS n_items,
           sum((round(l.l_extendedprice * 100, 0))::bigint)::bigint AS price_cents
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'P' AND o.o_orderpriority = '1-URGENT'
    GROUP BY 1
    """,
    tags=["J1", "runtime-filter", "bloom", "semi-join-reduction"],
)
def j_runtime_bloom_filter(spark, sf_dir):
    """RUNTIME Bloom-filter semi-join reduction — the 100 TB join story
    Catalyst can inject but never does at fixture scale (the application-
    side threshold is 10 GB): a highly selective dimension filter
    (status 'P' + '1-URGENT' keeps ~1% of orders) builds a Bloom filter
    at runtime that prunes the FACT scan before the join shuffle, so a
    10 TB lineitem ships only might_contain(l_orderkey) survivors. The
    thresholds are lowered for the demo, the physical plan is ASSERTED
    to carry the injected bloom_filter_agg/might_contain pair (fails
    loudly if injection silently stops), and the original confs are
    restored after planning so no other catalog query inherits them.
    The oracle is the plain join — the filter must be semantically
    invisible."""
    conf = spark.conf
    saved = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled":
            conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled", "true"),
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold":
            conf.get(
                "spark.sql.optimizer.runtime.bloomFilter."
                "applicationSideScanSizeThreshold", "10GB"
            ),
        "spark.sql.autoBroadcastJoinThreshold":
            conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB"),
    }
    conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0",
    )
    # at 100 TB this join is never a broadcast; reproduce the at-scale
    # shuffle-join plan at fixture scale so injection has a shuffle to
    # protect (Catalyst skips the filter when the dim side broadcasts —
    # a broadcast join already avoids the fact-side shuffle)
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = t(spark, sf_dir, "lineitem")
        o = t(spark, sf_dir, "orders").filter(
            (F.col("o_orderstatus") == "P")
            & (F.col("o_orderpriority") == "1-URGENT")
        )
        out = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy(F.col("l_returnflag").alias("flag"))
            .agg(
                F.count("*").alias("n_items"),
                F.sum(
                    F.round(F.col("l_extendedprice") * 100, 0).cast("long")
                ).alias("price_cents"),
            )
        )
        # force planning NOW (QueryExecution caches the physical plan, so
        # restoring the confs below cannot un-inject the filter)
        plan = out._jdf.queryExecution().executedPlan().toString()
        low = plan.lower()
        if "bloomfilter" not in low or "might_contain" not in low:
            raise AssertionError(
                "j_runtime_bloom_filter: runtime Bloom filter was NOT "
                "injected into the fact scan"
            )
        return out
    finally:
        for k, v in saved.items():
            conf.set(k, v)


@register(
    "data_profile_summary",
    """
    WITH unpivoted AS (
      SELECT 'o_orderkey' AS column_name, o_orderkey::varchar AS v FROM orders
      UNION ALL
      SELECT 'o_custkey', o_custkey::varchar FROM orders
      UNION ALL
      SELECT 'o_orderstatus', o_orderstatus FROM orders
      UNION ALL
      SELECT 'o_orderpriority', o_orderpriority FROM orders
      UNION ALL
      SELECT 'o_orderdate', strftime(o_orderdate, '%Y-%m-%d') FROM orders
    )
    SELECT column_name,
           count(*)::bigint AS n_rows,
           sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END)::bigint AS n_nulls,
           count(DISTINCT v)::bigint AS n_distinct,
           min(v) AS min_value,
           max(v) AS max_value
    FROM unpivoted GROUP BY 1
    """,
    tags=["profiling", "A2", "A5", "quality"],
)
def data_profile_summary(spark, sf_dir):
    """Column-level data profiling — the first thing a 100 TB ingest runs
    (null rates, exact cardinalities, value ranges feed schema checks
    and partition planning): the table UNPIVOTS into (column, value)
    pairs via stack() — ONE scan regardless of column count, instead of
    k distinct-aggregations that would each Expand the input — and one
    grouped aggregation computes rows/nulls/exact-distinct/min/max per
    column. Values compare as strings (dates ISO-formatted) so min/max
    are engine-portable; doubles are deliberately excluded (float-to-
    string formatting differs across engines — use typed percentile
    profiles for those, a8_percentiles). At scale the single distinct
    agg per (column, value) partial-aggregates map-side; swap
    approx_count_distinct in when exactness is not required."""
    o = t(spark, sf_dir, "orders")
    unpivoted = o.select(
        F.expr(
            "stack(5, "
            "'o_orderkey', CAST(o_orderkey AS STRING), "
            "'o_custkey', CAST(o_custkey AS STRING), "
            "'o_orderstatus', o_orderstatus, "
            "'o_orderpriority', o_orderpriority, "
            "'o_orderdate', date_format(o_orderdate, 'yyyy-MM-dd')"
            ") AS (column_name, v)"
        )
    )
    return unpivoted.groupBy("column_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("v").isNull(), 1).otherwise(0)).alias("n_nulls"),
        F.countDistinct("v").alias("n_distinct"),
        F.min("v").alias("min_value"),
        F.max("v").alias("max_value"),
    )


@register(
    "s15_nquads_datasource_sink",
    """
    WITH n AS (SELECT n_nationkey, n_name, n_regionkey FROM nation),
    quads AS (
      SELECT 'https://example.org/nation/' || n_nationkey AS subject,
             'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS predicate,
             'https://example.org/def/Nation' AS object_value,
             'iri' AS object_kind,
             NULL::VARCHAR AS object_datatype, NULL::VARCHAR AS object_lang
      FROM n
      UNION ALL
      SELECT 'https://example.org/nation/' || n_nationkey,
             'http://www.w3.org/2000/01/rdf-schema#label',
             n_name || chr(9) || '"quoted' || chr(92) || 'path"'
                    || chr(10) || 'line2',
             'literal', NULL, NULL
      FROM n
      UNION ALL
      SELECT 'https://example.org/nation/' || n_nationkey,
             'https://example.org/def/regionCode',
             n_regionkey::varchar, 'literal',
             'http://www.w3.org/2001/XMLSchema#integer', NULL
      FROM n
      UNION ALL
      SELECT 'https://example.org/nation/' || n_nationkey,
             'https://schema.org/name', lower(n_name), 'literal', NULL, 'en'
      FROM n
      UNION ALL
      SELECT 'https://example.org/nation/' || n_nationkey,
             'https://example.org/def/node', 'b' || n_nationkey,
             'bnode', NULL, NULL
      FROM n)
    SELECT subject, predicate, object_value, object_kind,
           object_datatype, object_lang,
           'urn:example:graph:nq-sink' AS graph
    FROM quads
    """,
    tags=["S7", "S11", "datasource-api", "custom-sink", "nquads"],
)
def s15_nquads_datasource_sink(spark, sf_dir):
    """A REGISTERED custom batch SINK end-to-end (Python DataSourceWriter,
    Spark 4) — the write-side completion of the connector-extensibility
    story (the shapefile/counterstream entries cover registered READERS):
    quads flow through ``write.format("nquads_sink")`` with the real
    two-phase commit protocol (executor-side staging files, driver-side
    atomic rename + _MANIFEST.json, abort cleanup), then round-trip back
    through quads.read_nquads. The literals are deliberately hostile —
    embedded tabs, quotes, backslashes, and newlines — plus typed and
    lang-tagged literals and bnode objects, so a hash-green row proves
    the sink's escaping is byte-compatible with the engine's reader.
    The manifest count is asserted against the read-back count (a lost
    or duplicated partition fails loudly)."""
    import json
    import os

    from cam_etl_spark.quads import fan_out_sql, quad_sql, read_nquads
    from cam_etl_spark.sources.nquads_sink import register_nquads_sink

    if not register_nquads_sink(spark):  # pragma: no cover - pyspark < 4
        raise RuntimeError("nquads_sink needs the Spark 4 DataSource API")
    G = "urn:example:graph:nq-sink"
    # the hostile literal is projected as a Column, never spliced into SQL
    # text, so its tab/quote/backslash/newline bytes reach the sink as-is
    n = t(spark, sf_dir, "nation").withColumn(
        "hostile", F.concat(F.col("n_name"), F.lit('\t"quoted\\path"\nline2'))
    )
    subj = "format_string('https://example.org/nation/%s', n_nationkey)"
    quads = fan_out_sql(
        n,
        quad_sql(subj, "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
                 "'https://example.org/def/Nation'", "iri", graph=G),
        quad_sql(subj, "http://www.w3.org/2000/01/rdf-schema#label",
                 "hostile", "literal", graph=G),
        quad_sql(subj, "https://example.org/def/regionCode",
                 "CAST(n_regionkey AS STRING)", "literal",
                 object_datatype="http://www.w3.org/2001/XMLSchema#integer",
                 graph=G),
        quad_sql(subj, "https://schema.org/name", "lower(n_name)",
                 "literal", object_lang="en", graph=G),
        quad_sql(subj, "https://example.org/def/node",
                 "format_string('b%s', n_nationkey)", "bnode", graph=G),
    )
    work = fixture_dir(sf_dir, "cam_etl_nqsink_fixture")
    path = os.path.join(work, "out")
    quads.write.format("nquads_sink").mode("overwrite").save(path)
    with open(os.path.join(path, "_MANIFEST.json")) as f:
        manifest = json.load(f)
    back = read_nquads(spark, path)
    got = back.count()
    if manifest["n_quads"] != got:
        raise AssertionError(
            f"s15_nquads_datasource_sink: manifest says {manifest['n_quads']}"
            f" quads but read-back found {got}"
        )
    return back.select(
        "subject", "predicate", "object_value", "object_kind",
        "object_datatype", "object_lang", "graph",
    )


@register(
    "a13_theil_sen_arrow",
    """
    WITH o AS (
      SELECT o_custkey % 24 AS grp,
             date_diff('day', DATE '1992-01-01', o_orderdate) AS x,
             (round(o_totalprice * 100, 0))::bigint AS y
      FROM orders),
    pairs AS (
      SELECT a.grp,
             round(CAST(b.y - a.y AS DOUBLE) * 1000000.0 / (b.x - a.x)) AS sm
      FROM o a JOIN o b ON a.grp = b.grp AND a.x < b.x)
    SELECT grp::bigint AS grp,
           (SELECT count(*) FROM o oo WHERE oo.grp = pairs.grp)::bigint AS n_rows,
           count(*)::bigint AS n_pairs,
           (2 * median(sm))::bigint AS med2_slope_micro
    FROM pairs GROUP BY grp
    """,
    tags=["A3", "arrow", "applyInArrow", "robust-regression"],
)
def a13_theil_sen_arrow(spark, sf_dir):
    """Per-group Theil-Sen robust slope via applyInArrow — the Arrow-
    native grouped-map API (Spark 4), the last grouped-UDF surface the
    catalog did not yet exercise (mapInPandas / applyInPandas /
    applyInPandasWithState / pandas_udf are all covered): each customer
    bucket's (order-day, price-cents) points yield the MEDIAN of all
    pairwise slopes — the estimator native SQL aggregates cannot
    express but a pairwise self-join CAN replay, which is what the
    oracle does. Slopes are computed as round(dy * 1e6 / dx) in BOTH
    engines (identical IEEE expression order; half-away rounding) and
    the median is reported DOUBLED so the even-count midpoint average
    stays integer-exact — no float-boundary hashing. Group sizes are
    bounded by the bucketing key; Theil-Sen is quadratic per group by
    definition, so at 100 TB you bound groups (as here) or switch to
    the sampled/repeated-median variant — the Arrow path itself is one
    shuffle on the group key, zero pandas conversion overhead."""
    import numpy as np
    import pyarrow as pa

    def theil_sen(table: "pa.Table") -> "pa.Table":
        grp = table.column("grp")[0].as_py()
        x = np.asarray(table.column("x"), dtype=np.float64)
        y = np.asarray(table.column("y"), dtype=np.float64)
        dx = x[None, :] - x[:, None]
        dy = y[None, :] - y[:, None]
        iu = np.triu_indices(len(x), k=1)
        dxu, dyu = dx[iu], dy[iu]
        keep = dxu != 0.0
        s = dyu[keep] * 1000000.0 / dxu[keep]
        sm = np.copysign(np.floor(np.abs(s) + 0.5), s)
        if sm.size == 0:
            # zero-pair group (all points share one x): the oracle's
            # pairs CTE is empty for it and GROUP BY drops the group —
            # emit nothing so both engines agree
            return pa.table(
                {
                    "grp": pa.array([], pa.int64()),
                    "n_rows": pa.array([], pa.int64()),
                    "n_pairs": pa.array([], pa.int64()),
                    "med2_slope_micro": pa.array([], pa.int64()),
                }
            )
        med2 = int(2 * np.median(sm))
        return pa.table(
            {
                "grp": pa.array([grp], pa.int64()),
                "n_rows": pa.array([len(x)], pa.int64()),
                "n_pairs": pa.array([int(sm.size)], pa.int64()),
                "med2_slope_micro": pa.array([med2], pa.int64()),
            }
        )

    o = t(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 24).alias("grp"),
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date")).alias("x"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("y"),
    )
    return o.groupBy("grp").applyInArrow(
        theil_sen,
        "grp long, n_rows long, n_pairs long, med2_slope_micro long",
    )


@register(
    "multimodal_mpeg_stereo_decode",
    f"""
    WITH {md5_digest()},
    l1sb AS (
      SELECT doc_id, d, sb, ch,
             d[((sb*7 + ch*3 + 1) % 16) + 1] % 6 AS a,
             d[((sb*3 + ch*5 + 5) % 16) + 1] % 63 AS scf
      FROM dg, range(32) t(sb), range(2) c(ch) WHERE doc_id % 2 = 0),
    l1s AS (
      SELECT doc_id, sb, ch,
             CAST(round((2.0 * pow(2.0, -scf/3.0)
                   * ((1::BIGINT << (a + 1)) / (((1::BIGINT << (a + 1)) - 1)::DOUBLE))
                   * (((d[((sb + j*5 + ch*9) % 16) + 1] * 31 + j*7 + ch*13 + doc_id)
                       % ((1::BIGINT << (a + 1)) - 1))
                      / ((1::BIGINT << a)::DOUBLE)
                      - 1.0 + pow(2.0, -a::DOUBLE))) * 1000000.0) AS BIGINT) AS micro
      FROM l1sb, range(12) u(j) WHERE a > 0),
    l1agg AS (
      SELECT doc_id, 1 AS layer,
             count(DISTINCT ch*100 + sb) AS n_active_sb, count(*) AS n_active_samples,
             sum(CASE WHEN ch = 0 THEN micro ELSE 0 END)::BIGINT AS sum_left_micro,
             sum(CASE WHEN ch = 1 THEN micro ELSE 0 END)::BIGINT AS sum_right_micro,
             max(abs(micro))::BIGINT AS max_abs_micro
      FROM l1s GROUP BY doc_id),
    l2sb AS (
      SELECT doc_id, d, sb, ch,
             d[((sb*5 + ch*7 + 2) % 16) + 1]
               % (1 + CASE WHEN sb < 3 THEN 3 WHEN sb < 23 THEN 5 ELSE 2 END) AS a,
             d[((sb*3 + ch*11 + 4) % 16) + 1] % 4 AS scfsi,
             d[((sb*2 + ch*3 + 3) % 16) + 1] % 63 AS s0,
             d[((sb*2 + ch*3 + 8) % 16) + 1] % 63 AS s1,
             d[((sb*2 + ch*3 + 13) % 16) + 1] % 63 AS s2
      FROM dg, range(27) t(sb), range(2) c(ch) WHERE doc_id % 2 = 1),
    l2cls AS (
      SELECT *,
             {L2_STEPS},
             {SCFSI_EFF}
      FROM l2sb WHERE a > 0),
    l2nb AS (
      SELECT *, (CASE steps WHEN 3 THEN 2 WHEN 5 THEN 3 WHEN 7 THEN 3
                 WHEN 9 THEN 4 WHEN 15 THEN 4 END) AS nb,
             (CASE WHEN steps IN (3, 5, 9) THEN 0.5
                   ELSE pow(2.0, (1 - (CASE steps WHEN 3 THEN 2 WHEN 5 THEN 3
                        WHEN 7 THEN 3 WHEN 9 THEN 4 WHEN 15 THEN 4 END))::DOUBLE)
              END) AS dd
      FROM l2cls),
    l2s AS (
      SELECT doc_id, sb, ch,
             {l2_micro('''(d[((sb + i*7 + ch*5 + 1) % 16) + 1] * 29 + i*11 + ch*17 + doc_id)
                       % steps''')}
      FROM l2nb, range(36) u(i)),
    l2agg AS (
      SELECT doc_id, 2 AS layer,
             count(DISTINCT ch*100 + sb) AS n_active_sb, count(*) AS n_active_samples,
             sum(CASE WHEN ch = 0 THEN micro ELSE 0 END)::BIGINT AS sum_left_micro,
             sum(CASE WHEN ch = 1 THEN micro ELSE 0 END)::BIGINT AS sum_right_micro,
             max(abs(micro))::BIGINT AS max_abs_micro
      FROM l2s GROUP BY doc_id)
    SELECT doc_id AS media_id, layer::bigint AS layer,
           n_active_sb::bigint AS n_active_sb,
           n_active_samples::bigint AS n_active_samples,
           sum_left_micro, sum_right_micro, max_abs_micro
    FROM (SELECT * FROM l1agg UNION ALL SELECT * FROM l2agg)
    """,
    tags=["multimodal", "decode", "mpeg", "audio", "stereo"],
)
def multimodal_mpeg_stereo_decode(spark, sf_dir):
    """STEREO MPEG-1 audio decode (mode 0b00, both channels fully coded):
    the spec's field interleaving — allocation/scfsi/scalefactors
    subband-outer channel-inner, samples with the channel loop innermost
    — exercised with INDEPENDENT per-channel digest-derived allocations,
    scalefactors (all four scfsi modes), and sample codes for Layer I
    (even docs) and Layer II table 3-B.2a at 384 kbps (odd docs).
    Decoded codes are asserted bit-exact per channel and requantized
    values aggregate in integer micro-units, per channel — a channel
    interleaving bug anywhere in the loop nest flips sum_left vs
    sum_right and reds the row. One Arrow mapInPandas scan, zero
    shuffles at any corpus size."""
    import hashlib

    from cam_etl_spark.multimodal import micro6
    from cam_etl_spark.multimodal.mpegaudio import (
        B2A_SBLIMIT,
        b2a_steps_list,
        decode_mpeg1_audio,
        encode_layer1_frame,
        encode_layer2_frame,
    )

    def run(did, text):
        d = int(did)
        dig = hashlib.md5((text or "").encode()).digest()
        if d % 2 == 0:  # Layer I stereo
            allocs = [
                [dig[(sb * 7 + ch * 3 + 1) % 16] % 6 for sb in range(32)]
                for ch in range(2)
            ]
            active = [
                [sb for sb in range(32) if allocs[ch][sb]]
                for ch in range(2)
            ]
            scfs = [
                [dig[(sb * 3 + ch * 5 + 5) % 16] % 63 for sb in active[ch]]
                for ch in range(2)
            ]
            codes = [
                [
                    [
                        (dig[(sb + j * 5 + ch * 9) % 16] * 31
                         + j * 7 + ch * 13 + d)
                        % ((1 << (allocs[ch][sb] + 1)) - 1)
                        for j in range(12)
                    ]
                    for sb in active[ch]
                ]
                for ch in range(2)
            ]
            buf = encode_layer1_frame(allocs, scfs, codes)
            m = decode_mpeg1_audio(buf)
            f = m["frames"][0]
            assert f["channels"] == 2 and f["codes"] == codes
            assert [[t[0] for t in c] for c in f["scf"]] == scfs
        else:  # Layer II stereo, 384 kbps
            def amax(sb):
                return 3 if sb < 3 else (5 if sb < 23 else 2)

            allocs = [
                [
                    dig[(sb * 5 + ch * 7 + 2) % 16] % (amax(sb) + 1)
                    for sb in range(B2A_SBLIMIT)
                ]
                for ch in range(2)
            ]
            active = [
                [sb for sb in range(B2A_SBLIMIT) if allocs[ch][sb]]
                for ch in range(2)
            ]
            scfsi = [
                [dig[(sb * 3 + ch * 11 + 4) % 16] % 4 for sb in active[ch]]
                for ch in range(2)
            ]
            stored = [
                [
                    (
                        dig[(sb * 2 + ch * 3 + 3) % 16] % 63,
                        dig[(sb * 2 + ch * 3 + 8) % 16] % 63,
                        dig[(sb * 2 + ch * 3 + 13) % 16] % 63,
                    )
                    for sb in active[ch]
                ]
                for ch in range(2)
            ]
            codes = [
                [
                    [
                        (dig[(sb + i * 7 + ch * 5 + 1) % 16] * 29
                         + i * 11 + ch * 17 + d)
                        % b2a_steps_list(sb)[allocs[ch][sb] - 1]
                        for i in range(36)
                    ]
                    for sb in active[ch]
                ]
                for ch in range(2)
            ]
            buf = encode_layer2_frame(
                allocs, scfsi, stored, codes, bitrate_kbps=384
            )
            m = decode_mpeg1_audio(buf)
            f = m["frames"][0]
            assert f["channels"] == 2 and f["codes"] == codes
            assert f["scfsi"] == scfsi
        ch_micro = [
            [micro6(v) for row in f["values"][ch] for v in row]
            for ch in range(2)
        ]
        all_micro = ch_micro[0] + ch_micro[1]
        yield {
            "media_id": d,
            "layer": m["layer"],
            "n_active_sb": sum(len(a) for a in f["active"]),
            "n_active_samples": len(all_micro),
            "sum_left_micro": sum(ch_micro[0]),
            "sum_right_micro": sum(ch_micro[1]),
            "max_abs_micro": max(abs(v) for v in all_micro),
        }

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    return map_rows(
        d, run,
        "media_id long, layer long, n_active_sb long, n_active_samples long, "
        "sum_left_micro long, sum_right_micro long, max_abs_micro long",
    )


@register(
    "j17_recursive_cte_native",
    HIERARCHY_ROOTS,
    tags=["J12", "recursive-cte", "spark4"],
)
def j17_recursive_cte_native(spark, sf_dir):
    """The site-hierarchy recursion as a NATIVE ``WITH RECURSIVE`` —
    Spark 4.1 added recursive CTEs, so the reference's hierarchy SQL
    (ref /root/reference/etl-notes.md:663-722) now runs verbatim
    (modulo `DIV`): this is the declarative twin of
    j12_hierarchy_roots, which keeps the iterative-frontier OPERATOR
    (operators/hierarchy.py) for per-iteration checkpointing and early
    termination control. Same oracle text, engine-planned recursion:
    each iteration is one shuffle join of the frontier against the edge
    table — identical shape to the operator, but Catalyst owns the
    loop."""
    c = t(spark, sf_dir, "customer")
    c.createOrReplaceTempView("j17_customer_v")
    return spark.sql(
        """
        WITH RECURSIVE r(id, root_id, depth) AS (
          SELECT c_custkey, c_custkey, 0 FROM j17_customer_v WHERE c_custkey < 8
          UNION ALL
          SELECT c.c_custkey, r.root_id, r.depth + 1
          FROM j17_customer_v c JOIN r ON (c.c_custkey DIV 8) = r.id
          WHERE c.c_custkey >= 8
        )
        SELECT id, root_id, depth FROM r
        """
    )


@register(
    "j18_lateral_topk",
    """
    SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey,
           round(t.o_totalprice, 2) AS total_price
    FROM customer c
    CROSS JOIN LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 2) t
    WHERE c.c_custkey < 200
    """,
    tags=["J11", "W2", "lateral", "correlated", "spark4"],
)
def j18_lateral_topk(spark, sf_dir):
    """Correlated LATERAL subquery — per-customer top-2 orders expressed
    the way an analyst writes it (``JOIN LATERAL ... ORDER BY LIMIT``)
    rather than the window-rank rewrite (w2_topk_per_key covers that
    plan): Spark 4 plans the correlated limit as a per-key ranked join,
    so the declarative form carries no hidden cartesian. Deterministic
    tie-breaks (price DESC, then key) keep both engines' top-2 sets
    identical."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    c.createOrReplaceTempView("j18_customer_v")
    o.createOrReplaceTempView("j18_orders_v")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey,
               round(t.o_totalprice, 2) AS total_price
        FROM j18_customer_v c
        JOIN LATERAL (
          SELECT o_orderkey, o_totalprice FROM j18_orders_v o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT 2) t
        WHERE c.c_custkey < 200
        """
    )


@register(
    "sql_scripting_threshold_search",
    """
    WITH tot AS (SELECT count(*) AS n_total FROM orders),
    cand AS (SELECT (k + 1) * 25000 AS thr FROM range(40) t(k)),
    cnt AS (
      SELECT c.thr, count(CASE WHEN o.o_totalprice > c.thr THEN 1 END) AS n_above
      FROM cand c CROSS JOIN orders o GROUP BY c.thr)
    SELECT thr::bigint AS threshold, n_above::bigint AS n_above,
           (SELECT n_total FROM tot)::bigint AS n_total
    FROM cnt, tot WHERE n_above * 100 < n_total
    ORDER BY thr LIMIT 1
    """,
    tags=["scripting", "control-flow", "spark4"],
)
def sql_scripting_threshold_search(spark, sf_dir):
    """SQL SCRIPTING (Spark 4.1 BEGIN/END blocks with DECLARE/SET/WHILE)
    — procedural control flow running ENGINE-side, the migration target
    for the reference's imperative driver scripts: a WHILE loop walks
    the price threshold up in 25k steps until fewer than 1% of orders
    exceed it, each probe a full Spark query, the block's final SELECT
    returning the result. The oracle finds the same fixed point in
    closed form (min qualifying threshold over the candidate grid).
    Each loop iteration is an independent Catalyst-planned aggregate —
    scripting replaces the driver-side Python loop, not the engine."""
    # save/restore: scripts execute eagerly inside this spark.sql call,
    # so the conf is only needed for its duration — leaving it set would
    # be the one catalog entry mutating shared session state permanently
    saved = spark.conf.get("spark.sql.scripting.enabled", "false")
    spark.conf.set("spark.sql.scripting.enabled", "true")
    o = t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("scripting_orders_v")
    try:
        return spark.sql(
            """
        BEGIN
          DECLARE thr DOUBLE DEFAULT 0;
          DECLARE n_above BIGINT DEFAULT 0;
          DECLARE n_total BIGINT DEFAULT 0;
          SET n_total = (SELECT count(*) FROM scripting_orders_v);
          SET n_above = n_total;
          WHILE n_above * 100 >= n_total DO
            SET thr = thr + 25000;
            SET n_above = (SELECT count(*) FROM scripting_orders_v
                           WHERE o_totalprice > thr);
          END WHILE;
          SELECT CAST(thr AS BIGINT) AS threshold, n_above, n_total;
        END
        """
        )
    finally:
        spark.conf.set("spark.sql.scripting.enabled", saved)


@register(
    "sql_pipe_syntax_rollup",
    """
    SELECT o.o_orderpriority AS priority, c.c_mktsegment AS segment,
           count(*)::bigint AS n_orders,
           round(sum(o.o_totalprice), 2) AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderstatus != 'P'
    GROUP BY 1, 2
    HAVING count(*) > 5
    """,
    tags=["A3", "pipe-syntax", "spark4"],
)
def sql_pipe_syntax_rollup(spark, sf_dir):
    """SQL PIPE syntax (Spark 4's ``|>`` operators — filter, join,
    aggregate, having-style post-filter as sequential stages in reading
    order): the analyst-facing modern surface over the same Catalyst
    plan. The oracle is the classic-SQL equivalent — identical
    semantics, so the pipe chain must optimize to the same result, and
    any stage-ordering bug (e.g. the WHERE applying post-join instead
    of pre-join matters not for INNER, but the aggregate/filter split
    does) reds the row."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("pipe_orders_v")
    t(spark, sf_dir, "customer").createOrReplaceTempView("pipe_customer_v")
    return spark.sql(
        """
        FROM pipe_orders_v AS o
        |> WHERE o.o_orderstatus != 'P'
        |> JOIN pipe_customer_v AS c ON o.o_custkey = c.c_custkey
        |> AGGREGATE count(*) AS n_orders,
                     round(sum(o.o_totalprice), 2) AS total_price
             GROUP BY o.o_orderpriority AS priority,
                      c.c_mktsegment AS segment
        |> WHERE n_orders > 5
        |> SELECT priority, segment, n_orders, total_price
        """
    )


@register(
    "p10_parameterized_sql",
    """
    SELECT o_orderpriority AS priority, count(*)::bigint AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders
    WHERE o_orderstatus = 'F' AND o_totalprice > 150000
    GROUP BY 1
    """,
    tags=["P8", "parameterized", "spark4"],
)
def p10_parameterized_sql(spark, sf_dir):
    """Named-parameter SQL (``spark.sql(query, args=...)``) — the
    injection-safe parameterization path for the reference's
    config-driven filters (P8 covers the DataFrame form): parameter
    markers bind as typed literals BEFORE analysis, so they constant-
    fold and push down exactly like inline literals — the plan is
    identical to the hard-coded query, which the oracle pins."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("param_orders_v")
    return spark.sql(
        """
        SELECT o_orderpriority AS priority, count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM param_orders_v
        WHERE o_orderstatus = :status AND o_totalprice > :min_price
        GROUP BY o_orderpriority
        """,
        args={"status": "F", "min_price": 150000},
    )


@register(
    "multimodal_mpeg_intensity_decode",
    f"""
    WITH {md5_digest()},
    cfg AS (
      SELECT doc_id, d,
             CASE doc_id % 3 WHEN 0 THEN 'l1_joint'
                             WHEN 1 THEN 'l2_joint' ELSE 'l2_dual' END AS variant,
             CASE doc_id % 3 WHEN 0 THEN 1 ELSE 2 END AS layer,
             CASE doc_id % 3 WHEN 2 THEN 0
                  ELSE 4 * (1 + doc_id % 4) END AS bound,
             CASE doc_id % 3 WHEN 0 THEN 32 ELSE 27 END AS sbl,
             CASE doc_id % 3 WHEN 2 THEN 27
                  ELSE 4 * (1 + doc_id % 4) END AS eb
      FROM dg),
    sbch AS (
      SELECT doc_id, d, variant, layer, bound, sb, ch,
             CASE WHEN sb < eb THEN ch ELSE 0 END AS ce
      FROM cfg, range(32) t(sb), range(2) c(ch) WHERE sb < sbl),
    al AS (
      SELECT *,
             CASE WHEN layer = 1 THEN d[((sb*7 + ce*3 + 1) % 16) + 1] % 6
                  ELSE d[((sb*5 + ce*7 + 2) % 16) + 1]
                       % (1 + CASE WHEN sb < 3 THEN 2
                                   WHEN sb < 23 THEN 3 ELSE 2 END)
             END AS a,
             d[((sb*3 + ch*5 + 5) % 16) + 1] % 63 AS l1scf,
             d[((sb*3 + ch*11 + 4) % 16) + 1] % 4 AS scfsi,
             d[((sb*2 + ch*3 + 3) % 16) + 1] % 63 AS s0,
             d[((sb*2 + ch*3 + 8) % 16) + 1] % 63 AS s1,
             d[((sb*2 + ch*3 + 13) % 16) + 1] % 63 AS s2
      FROM sbch),
    act AS (SELECT * FROM al WHERE a > 0),
    l1s AS (
      SELECT doc_id, sb, ch,
             {l1_micro('''d[((sb + j*5 + ce*9) % 16) + 1] * 31 + j*7 + ce*13
                        + doc_id''')}
      FROM act, range(12) u(j) WHERE layer = 1),
    l2cls AS (
      SELECT *,
             {L2_STEPS},
             {SCFSI_EFF}
      FROM act WHERE layer = 2),
    l2nb AS (
      SELECT *, (CASE steps WHEN 3 THEN 2 ELSE 3 END) AS nb,
             (CASE WHEN steps IN (3, 5) THEN 0.5 ELSE 0.25 END) AS dd
      FROM l2cls),
    l2s AS (
      SELECT doc_id, sb, ch,
             {l2_micro('''(d[((sb + i*7 + ce*5 + 1) % 16) + 1] * 29 + i*11
                        + ce*17 + doc_id) % steps''')}
      FROM l2nb, range(36) u(i)),
    s AS (SELECT * FROM l1s UNION ALL SELECT * FROM l2s),
    agg AS (
      SELECT doc_id,
             count(DISTINCT ch*100 + sb) AS n_active_sb,
             count(*) AS n_active_samples,
             sum(CASE WHEN ch = 0 THEN micro ELSE 0 END)::BIGINT AS sum_left_micro,
             sum(CASE WHEN ch = 1 THEN micro ELSE 0 END)::BIGINT AS sum_right_micro,
             max(abs(micro))::BIGINT AS max_abs_micro
      FROM s GROUP BY doc_id)
    SELECT c.doc_id AS media_id, c.variant, c.layer::BIGINT AS layer,
           c.bound::BIGINT AS bound,
           coalesce(a.n_active_sb, 0)::BIGINT AS n_active_sb,
           coalesce(a.n_active_samples, 0)::BIGINT AS n_active_samples,
           coalesce(a.sum_left_micro, 0)::BIGINT AS sum_left_micro,
           coalesce(a.sum_right_micro, 0)::BIGINT AS sum_right_micro,
           coalesce(a.max_abs_micro, 0)::BIGINT AS max_abs_micro
    FROM cfg c LEFT JOIN agg a ON c.doc_id = a.doc_id
    """,
    tags=["multimodal", "decode", "mpeg", "audio", "joint-stereo",
          "intensity", "dual-channel"],
)
def multimodal_mpeg_intensity_decode(spark, sf_dir):
    """JOINT-STEREO (intensity) and DUAL-CHANNEL MPEG-1 audio decode —
    the mode extension under driver verification: docs cycle
    through Layer I joint (bound 4/8/12/16 from the doc key), Layer II
    joint (table 3-B.2a at 256 kbps), and Layer II dual_channel
    (384 kbps). In the shared region (sb >= bound) ONE allocation and
    ONE sample/triplet code are transmitted and both channels requantize
    them with their OWN scalefactors — the intensity trick — so
    sum_left differs from sum_right exactly by the per-channel
    scalefactor replay, which the SQL oracle reproduces in closed form
    (integer micro-units). Decoded mode, bound, allocations, scfsi, and
    codes are asserted bit-exact against the digest-derived fixture
    inside the Arrow batch. One mapInPandas scan, zero shuffles at any
    corpus size."""
    import hashlib

    from cam_etl_spark.multimodal import micro6
    from cam_etl_spark.multimodal.mpegaudio import (
        decode_mpeg1_audio,
        encode_layer1_frame,
        encode_layer2_frame,
        l2_steps_list,
    )

    def run(did, text):
        d = int(did)
        dig = hashlib.md5((text or "").encode()).digest()
        v = d % 3
        variant = ("l1_joint", "l2_joint", "l2_dual")[v]
        layer = 1 if v == 0 else 2
        sblimit = 32 if v == 0 else 27
        bound = 0 if v == 2 else 4 * (1 + d % 4)
        eb = sblimit if v == 2 else bound

        def ce_of(sb, ch):
            return ch if sb < eb else 0

        if layer == 1:
            allocs = [
                [dig[(sb * 7 + ce_of(sb, ch) * 3 + 1) % 16] % 6
                 for sb in range(32)]
                for ch in range(2)
            ]
        else:
            def amax(sb):
                return 2 if sb < 3 else (3 if sb < 23 else 2)

            allocs = [
                [dig[(sb * 5 + ce_of(sb, ch) * 7 + 2) % 16]
                 % (amax(sb) + 1) for sb in range(sblimit)]
                for ch in range(2)
            ]
        active = [
            [sb for sb in range(sblimit) if allocs[ch][sb]]
            for ch in range(2)
        ]
        if layer == 1:
            scfs = [
                [dig[(sb * 3 + ch * 5 + 5) % 16] % 63
                 for sb in active[ch]]
                for ch in range(2)
            ]
            codes = [
                [
                    [
                        (dig[(sb + j * 5 + ce_of(sb, ch) * 9) % 16]
                         * 31 + j * 7 + ce_of(sb, ch) * 13 + d)
                        % ((1 << (allocs[ch][sb] + 1)) - 1)
                        for j in range(12)
                    ]
                    for sb in active[ch]
                ]
                for ch in range(2)
            ]
            buf = encode_layer1_frame(
                allocs, scfs, codes, sample_rate=32000,
                bitrate_kbps=448, joint_bound=bound,
            )
        else:
            scfsi = [
                [dig[(sb * 3 + ch * 11 + 4) % 16] % 4
                 for sb in active[ch]]
                for ch in range(2)
            ]
            stored = [
                [
                    (
                        dig[(sb * 2 + ch * 3 + 3) % 16] % 63,
                        dig[(sb * 2 + ch * 3 + 8) % 16] % 63,
                        dig[(sb * 2 + ch * 3 + 13) % 16] % 63,
                    )
                    for sb in active[ch]
                ]
                for ch in range(2)
            ]
            codes = [
                [
                    [
                        (dig[(sb + i * 7 + ce_of(sb, ch) * 5 + 1)
                             % 16] * 29
                         + i * 11 + ce_of(sb, ch) * 17 + d)
                        % l2_steps_list("a", sb)[allocs[ch][sb] - 1]
                        for i in range(36)
                    ]
                    for sb in active[ch]
                ]
                for ch in range(2)
            ]
            buf = encode_layer2_frame(
                allocs, scfsi, stored, codes, sample_rate=48000,
                bitrate_kbps=384 if v == 2 else 256,
                joint_bound=None if v == 2 else bound,
                dual=(v == 2),
            )
        m = decode_mpeg1_audio(buf)
        f = m["frames"][0]
        assert f["channels"] == 2 and f["alloc"] == allocs
        assert f["codes"] == codes
        assert f["mode"] == (
            "dual_channel" if v == 2 else "joint_stereo"
        )
        assert f.get("bound") == (None if v == 2 else bound)
        if layer == 1:
            assert [[t[0] for t in c] for c in f["scf"]] == scfs
        else:
            assert f["scfsi"] == scfsi
        ch_micro = [
            [micro6(x) for row in f["values"][ch] for x in row]
            for ch in range(2)
        ]
        all_micro = ch_micro[0] + ch_micro[1]
        yield {
            "media_id": d,
            "variant": variant,
            "layer": layer,
            "bound": bound,
            "n_active_sb": sum(len(a) for a in active),
            "n_active_samples": len(all_micro),
            "sum_left_micro": sum(ch_micro[0]),
            "sum_right_micro": sum(ch_micro[1]),
            "max_abs_micro": (
                max(abs(x) for x in all_micro) if all_micro else 0
            ),
        }

    d = widen_table(spark, sf_dir, "documents", "doc_id", "text")
    return map_rows(
        d, run,
        "media_id long, variant string, layer long, bound long, "
        "n_active_sb long, n_active_samples long, sum_left_micro long, "
        "sum_right_micro long, max_abs_micro long",
    )


@register(
    "multimodal_mpeg_l2_lowrate_decode",
    f"""
    WITH {md5_digest()},
    cfg AS (
      SELECT doc_id, d,
             CASE doc_id % 3 WHEN 0 THEN 'b' WHEN 1 THEN 'c' ELSE 'd' END AS tb,
             CASE doc_id % 3 WHEN 0 THEN 30 WHEN 1 THEN 8 ELSE 12 END AS sbl,
             CASE doc_id % 3 WHEN 1 THEN 48000 ELSE 32000 END AS rate,
             CASE doc_id % 3 WHEN 0 THEN 192 ELSE 48 END AS kbps
      FROM dg),
    sbx AS (
      SELECT doc_id, d, tb, sbl, rate, kbps, sb,
             CASE WHEN tb = 'b'
                  THEN (CASE WHEN sb < 3 THEN 3 WHEN sb < 23 THEN 5 ELSE 2 END)
                  ELSE (CASE WHEN sb < 2 THEN 3 ELSE 2 END) END AS amax
      FROM cfg, range(30) t(sb) WHERE sb < sbl),
    al AS (
      SELECT *, d[((sb*5 + 2) % 16) + 1] % (amax + 1) AS a,
             d[((sb*3 + 4) % 16) + 1] % 4 AS scfsi,
             d[((sb*2 + 3) % 16) + 1] % 63 AS s0,
             d[((sb*2 + 8) % 16) + 1] % 63 AS s1,
             d[((sb*2 + 13) % 16) + 1] % 63 AS s2
      FROM sbx),
    cls AS (
      SELECT *,
             (CASE WHEN tb = 'b' THEN
                CASE WHEN sb < 3
                     THEN [3,7,15,31,63,127,255,511,1023,2047,4095,8191,16383,32767,65535]
                     WHEN sb < 11
                     THEN [3,5,7,9,15,31,63,127,255,511,1023,2047,4095,8191,65535]
                     WHEN sb < 23 THEN [3,5,7,9,15,31,65535]
                     ELSE [3,5,65535] END
              ELSE
                CASE WHEN sb < 2
                     THEN [5,7,9,15,31,63,127,255,511,1023,2047,4095,8191,16383,32767]
                     ELSE [5,7,9,15,31,63,127] END END)[a] AS steps,
             {SCFSI_EFF}
      FROM al WHERE a > 0),
    nbx AS (
      SELECT *, (CASE steps WHEN 3 THEN 2 WHEN 5 THEN 3 WHEN 7 THEN 3
                 WHEN 9 THEN 4 ELSE 4 END) AS nb,
             (CASE steps WHEN 7 THEN 0.25 WHEN 15 THEN 0.125
              ELSE 0.5 END) AS dd
      FROM cls),
    smp AS (
      SELECT doc_id, sb,
             {l2_micro('''(d[((sb + i*7 + 1) % 16) + 1] * 29 + i*11 + doc_id)
                       % steps''')}
      FROM nbx, range(36) u(i)),
    agg AS (
      SELECT doc_id, count(DISTINCT sb) AS n_active_sb,
             {MICRO_TOTALS}
      FROM smp GROUP BY doc_id)
    SELECT c.doc_id AS media_id, c.tb AS table_id,
           c.sbl::BIGINT AS sblimit, c.rate::BIGINT AS sample_rate,
           c.kbps::BIGINT AS bitrate_kbps,
           {MPEG_AGG_COLS}
    """,
    tags=["multimodal", "decode", "mpeg", "audio", "layer2",
          "allocation-tables"],
)
def multimodal_mpeg_l2_lowrate_decode(spark, sf_dir):
    """Layer II allocation tables 3-B.2b/c/d — the table
    extension under driver verification: docs cycle through table b
    (32 kHz mono at 192 kbps, sblimit 30), table c (48 kHz mono at
    48 kbps, sblimit 8), and table d (32 kHz mono at 48 kbps, sblimit
    12), each selected purely from the HEADER (sample rate x per-channel
    bitrate via l2_table_for) — the fixture never tells the decoder
    which table to use. Tables c/d exercise the 5-step-first class
    lists (no 3-step class, nbal 4/3 split at sb 2); table b exercises
    the sblimit-30 tail. Requantized values aggregate in integer
    micro-units against a closed-form SQL replay of the same class
    lists. Decoded table id, allocations, scfsi, and codes are asserted
    bit-exact in the Arrow batch. One mapInPandas scan, zero shuffles."""
    import hashlib

    from cam_etl_spark.multimodal import micro6
    from cam_etl_spark.multimodal.mpegaudio import (
        L2_SBLIMIT,
        decode_mpeg1_audio,
        encode_layer2_frame,
        l2_steps_list,
    )

    def run(did, text):
        d = int(did)
        dig = hashlib.md5((text or "").encode()).digest()
        tb = ("b", "c", "d")[d % 3]
        rate = 48000 if tb == "c" else 32000
        kbps = 192 if tb == "b" else 48
        sblimit = L2_SBLIMIT[tb]

        def amax(sb):
            if tb == "b":
                return 3 if sb < 3 else (5 if sb < 23 else 2)
            return 3 if sb < 2 else 2

        alloc = [
            dig[(sb * 5 + 2) % 16] % (amax(sb) + 1)
            for sb in range(sblimit)
        ]
        active = [sb for sb in range(sblimit) if alloc[sb]]
        scfsi = [dig[(sb * 3 + 4) % 16] % 4 for sb in active]
        stored = [
            (
                dig[(sb * 2 + 3) % 16] % 63,
                dig[(sb * 2 + 8) % 16] % 63,
                dig[(sb * 2 + 13) % 16] % 63,
            )
            for sb in active
        ]
        codes = [
            [
                (dig[(sb + i * 7 + 1) % 16] * 29 + i * 11 + d)
                % l2_steps_list(tb, sb)[alloc[sb] - 1]
                for i in range(36)
            ]
            for sb in active
        ]
        buf = encode_layer2_frame(
            alloc, scfsi, stored, codes,
            sample_rate=rate, bitrate_kbps=kbps,
        )
        m = decode_mpeg1_audio(buf)
        f = m["frames"][0]
        assert m["sample_rate"] == rate
        assert m["bitrate_kbps"] == kbps
        assert f["table"] == tb and f["channels"] == 1
        assert f["alloc"] == alloc and f["codes"] == codes
        assert f["scfsi"] == scfsi
        micro = [micro6(x) for row in f["values"] for x in row]
        yield {
            "media_id": d,
            "table_id": tb,
            "sblimit": sblimit,
            "sample_rate": rate,
            "bitrate_kbps": kbps,
            "n_active_sb": len(active),
            "n_active_samples": len(micro),
            "sum_micro": sum(micro),
            "max_abs_micro": (
                max(abs(x) for x in micro) if micro else 0
            ),
        }

    d = widen_table(spark, sf_dir, "documents", "doc_id", "text")
    return map_rows(
        d, run,
        "media_id long, table_id string, sblimit long, sample_rate long, "
        "bitrate_kbps long, n_active_sb long, n_active_samples long, "
        "sum_micro long, max_abs_micro long",
    )


@register(
    "multimodal_flac_multichannel_decode",
    f"""
    WITH {md5_digest(cols='(doc_id % 240) + 4 AS ns, 3 + doc_id % 6 AS nch')},
    chs AS (
      SELECT doc_id, ns, nch, c,
             list_transform(range(ns),
               j -> CASE WHEN d[((2*j + 3*c) % 16) + 1]
                          + 256 * d[((2*j + 5*c + 1) % 16) + 1] >= 32768
                         THEN d[((2*j + 3*c) % 16) + 1]
                              + 256 * d[((2*j + 5*c + 1) % 16) + 1] - 65536
                         ELSE d[((2*j + 3*c) % 16) + 1]
                              + 256 * d[((2*j + 5*c + 1) % 16) + 1] END) AS s
      FROM dg, range(8) t(c) WHERE c < nch)
    SELECT doc_id AS media_id, nch::bigint AS n_channels,
           ns::bigint AS n_samples,
           sum(list_sum(s))::bigint AS sum_all,
           min(list_min(s))::bigint AS min_all,
           max(list_max(s))::bigint AS max_all,
           sum((c + 1) * list_sum(s))::bigint AS weighted_sum
    FROM chs GROUP BY doc_id, nch, ns
    """,
    tags=["multimodal", "decode", "flac", "audio", "multichannel"],
)
def multimodal_flac_multichannel_decode(spark, sf_dir):
    """MULTICHANNEL FLAC decode (3-8 channels — the extension
    closing the former >2ch boundary): digest-derived int16 signals per
    channel are FLAC-encoded under the independent-channel assignment
    codes 0b0010-0b0111 (the spec defines no decorrelation beyond
    stereo), decoded back through the full bitstream path with CRC-8/16
    verification, and ASSERTED bit-exact per channel. weighted_sum
    (sum over channels of (c+1) * channel sum) pins the channel
    INTERLEAVE order — a channel-swap bug anywhere reds the row even
    when the multiset of samples survives. Losslessness makes the
    oracle pure digest arithmetic. One Arrow mapInPandas scan, zero
    shuffles at any corpus size."""
    import hashlib

    import numpy as np

    from cam_etl_spark.multimodal.flac import decode_flac, encode_flac

    def run(did, text):
        d = int(did)
        seed = hashlib.md5((text or "").encode()).digest()
        dig = np.frombuffer(seed, dtype=np.uint8).astype(np.int64)
        ns = d % 240 + 4
        nch = 3 + d % 6
        j = np.arange(ns)
        chans = []
        for c in range(nch):
            raw = (dig[(2 * j + 3 * c) % 16]
                   + 256 * dig[(2 * j + 5 * c + 1) % 16])
            chans.append(np.where(raw >= 32768, raw - 65536, raw))
        lpc = d % 5 or None  # rotate None,1,2,3,4
        buf = encode_flac(
            [[int(v) for v in ch] for ch in chans],
            48000, lpc_order=lpc,
        )
        m = decode_flac(buf)
        got = np.array(m["samples"], dtype=np.int64)
        assert m["channels"] == nch and m["n_samples"] == ns
        for c in range(nch):
            assert np.array_equal(got[c::nch], chans[c]), (
                f"channel {c} mismatch doc {d}"
            )
        yield {
            "media_id": d,
            "n_channels": nch,
            "n_samples": ns,
            "sum_all": int(sum(ch.sum() for ch in chans)),
            "min_all": int(min(ch.min() for ch in chans)),
            "max_all": int(max(ch.max() for ch in chans)),
            "weighted_sum": int(
                sum((c + 1) * ch.sum()
                    for c, ch in enumerate(chans))
            ),
        }

    d = widen_table(spark, sf_dir, "documents", "doc_id", "text")
    return map_rows(
        d, run,
        "media_id long, n_channels long, n_samples long, sum_all long, "
        "min_all long, max_all long, weighted_sum long",
    )


@register(
    "multimodal_mpeg_441_padding_decode",
    f"""
    WITH {md5_digest()},
    cfg AS (
      SELECT doc_id, d,
             CASE doc_id % 2 WHEN 0 THEN 1 ELSE 2 END AS layer,
             CASE doc_id % 2 WHEN 0 THEN 256 ELSE 128 END AS kbps,
             CASE doc_id % 2 WHEN 0 THEN 32 ELSE 30 END AS sbl,
             ((doc_id // 2) % 2) + ((doc_id // 4) % 2) AS n_padded,
             CASE doc_id % 2
                  WHEN 0 THEN 552 + 4 * ((doc_id // 2) % 2)
                              + 4 * ((doc_id // 4) % 2)
                  ELSE 834 + (doc_id // 2) % 2
                           + (doc_id // 4) % 2 END AS stream_bytes
      FROM dg),
    sbf AS (
      SELECT doc_id, d, layer, sb, f
      FROM cfg, range(2) ff(f), range(32) t(sb) WHERE sb < sbl),
    al AS (
      SELECT *,
             CASE WHEN layer = 1 THEN d[((sb*7 + f*5 + 1) % 16) + 1] % 4
                  ELSE d[((sb*5 + f*3 + 2) % 16) + 1] % 3 END AS a,
             d[((sb*3 + f*7 + 5) % 16) + 1] % 63 AS l1scf,
             d[((sb*3 + f*5 + 4) % 16) + 1] % 4 AS scfsi,
             d[((sb*2 + f*7 + 3) % 16) + 1] % 63 AS s0,
             d[((sb*2 + f*7 + 8) % 16) + 1] % 63 AS s1,
             d[((sb*2 + f*7 + 13) % 16) + 1] % 63 AS s2
      FROM sbf),
    act AS (SELECT * FROM al WHERE a > 0),
    l1s AS (
      SELECT doc_id, sb, f,
             {l1_micro('''d[((sb + j*5 + f*3) % 16) + 1] * 31 + j*7 + f*19
                        + doc_id''')}
      FROM act, range(12) u(j) WHERE layer = 1),
    l2cls AS (
      SELECT *,
             (CASE WHEN sb < 3 THEN [3,7] ELSE [3,5] END)[a] AS steps,
             {SCFSI_EFF}
      FROM act WHERE layer = 2),
    l2nb AS (
      SELECT *, {L2_NB_357}
      FROM l2cls),
    l2s AS (
      SELECT doc_id, sb, f,
             {l2_micro('''(d[((sb + i*7 + f*3 + 1) % 16) + 1] * 29 + i*11
                        + f*13 + doc_id) % steps''')}
      FROM l2nb, range(36) u(i)),
    s AS (SELECT * FROM l1s UNION ALL SELECT * FROM l2s),
    agg AS (
      SELECT doc_id,
             count(DISTINCT f*100 + sb) AS n_active_sb,
             {MICRO_TOTALS}
      FROM s GROUP BY doc_id)
    SELECT c.doc_id AS media_id, c.layer::BIGINT AS layer,
           44100::BIGINT AS sample_rate, c.kbps::BIGINT AS bitrate_kbps,
           2::BIGINT AS n_frames, c.n_padded::BIGINT AS n_padded,
           c.stream_bytes::BIGINT AS stream_bytes,
           {MPEG_AGG_COLS}
    """,
    tags=["multimodal", "decode", "mpeg", "audio", "padding", "44100"],
)
def multimodal_mpeg_441_padding_decode(spark, sf_dir):
    """44.1 kHz MPEG-1 audio with the PADDING bit — the slot
    extension: no 44.1 kHz bitrate yields an integer slot count, so
    every 44.1 kHz stream needs per-frame padding, which until now was
    rejected. Each doc encodes TWO back-to-back frames (Layer I mono at
    256 kbps for even docs, Layer II mono at 128 kbps — a table-b
    stream per the applicability matrix — for odd docs) whose padding
    flags come from the doc key, so the stream mixes padded and
    unpadded frames and the decoder must locate frame 2 purely from
    frame 1's header (276/280 B Layer I, 417/418 B Layer II).
    stream_bytes pins the slot arithmetic end-to-end; subband values
    aggregate in integer micro-units against the closed-form SQL
    replay. One Arrow mapInPandas scan, zero shuffles."""
    import hashlib

    from cam_etl_spark.multimodal import micro6
    from cam_etl_spark.multimodal.mpegaudio import (
        decode_mpeg1_audio,
        encode_layer1_frame,
        encode_layer2_frame,
        l2_steps_list,
    )

    def run(did, text):
        d = int(did)
        dig = hashlib.md5((text or "").encode()).digest()
        layer = 1 if d % 2 == 0 else 2
        kbps = 256 if layer == 1 else 128
        sblimit = 32 if layer == 1 else 30
        pads = [bool((d >> 1) & 1), bool((d >> 2) & 1)]
        bufs = []
        for f in range(2):
            if layer == 1:
                alloc = [dig[(sb * 7 + f * 5 + 1) % 16] % 4
                         for sb in range(32)]
                active = [sb for sb in range(32) if alloc[sb]]
                scf = [dig[(sb * 3 + f * 7 + 5) % 16] % 63
                       for sb in active]
                codes = [
                    [
                        (dig[(sb + j * 5 + f * 3) % 16] * 31
                         + j * 7 + f * 19 + d)
                        % ((1 << (alloc[sb] + 1)) - 1)
                        for j in range(12)
                    ]
                    for sb in active
                ]
                bufs.append(encode_layer1_frame(
                    alloc, scf, codes, sample_rate=44100,
                    bitrate_kbps=256, padding=pads[f],
                ))
            else:
                alloc = [dig[(sb * 5 + f * 3 + 2) % 16] % 3
                         for sb in range(sblimit)]
                active = [sb for sb in range(sblimit) if alloc[sb]]
                scfsi = [dig[(sb * 3 + f * 5 + 4) % 16] % 4
                         for sb in active]
                stored = [
                    (
                        dig[(sb * 2 + f * 7 + 3) % 16] % 63,
                        dig[(sb * 2 + f * 7 + 8) % 16] % 63,
                        dig[(sb * 2 + f * 7 + 13) % 16] % 63,
                    )
                    for sb in active
                ]
                codes = [
                    [
                        (dig[(sb + i * 7 + f * 3 + 1) % 16] * 29
                         + i * 11 + f * 13 + d)
                        % l2_steps_list("b", sb)[alloc[sb] - 1]
                        for i in range(36)
                    ]
                    for sb in active
                ]
                bufs.append(encode_layer2_frame(
                    alloc, scfsi, stored, codes, sample_rate=44100,
                    bitrate_kbps=128, padding=pads[f],
                ))
        stream = bufs[0] + bufs[1]
        m = decode_mpeg1_audio(stream)
        assert m["n_frames"] == 2
        assert m["sample_rate"] == 44100
        assert [fr["padding"] for fr in m["frames"]] == pads
        if layer == 2:
            assert all(fr["table"] == "b" for fr in m["frames"])
        micro = [
            micro6(x)
            for fr in m["frames"]
            for row in fr["values"] for x in row
        ]
        yield {
            "media_id": d,
            "layer": layer,
            "sample_rate": 44100,
            "bitrate_kbps": kbps,
            "n_frames": 2,
            "n_padded": sum(pads),
            "stream_bytes": len(stream),
            "n_active_sb": sum(
                len(fr["active"]) for fr in m["frames"]
            ),
            "n_active_samples": len(micro),
            "sum_micro": sum(micro),
            "max_abs_micro": (
                max(abs(x) for x in micro) if micro else 0
            ),
        }

    d = widen_table(spark, sf_dir, "documents", "doc_id", "text")
    return map_rows(
        d, run,
        "media_id long, layer long, sample_rate long, bitrate_kbps long, "
        "n_frames long, n_padded long, stream_bytes long, n_active_sb long, "
        "n_active_samples long, sum_micro long, max_abs_micro long",
    )


@register(
    "multimodal_mpeg_crc_decode",
    f"""
    WITH {md5_digest()},
    cfg AS (
      SELECT doc_id, d,
             CASE doc_id % 2 WHEN 0 THEN 1 ELSE 2 END AS layer,
             CASE doc_id % 2 WHEN 0 THEN 32 ELSE 27 END AS sbl
      FROM dg),
    sbx AS (
      SELECT doc_id, d, layer, sb
      FROM cfg, range(32) t(sb) WHERE sb < sbl),
    al AS (
      SELECT *,
             CASE WHEN layer = 1 THEN d[((sb*11 + 2) % 16) + 1] % 6
                  ELSE d[((sb*7 + 1) % 16) + 1]
                       % (1 + CASE WHEN sb < 3 THEN 3
                                   WHEN sb < 23 THEN 5 ELSE 2 END) END AS a,
             d[((sb*5 + 3) % 16) + 1] % 63 AS l1scf,
             d[((sb*5 + 6) % 16) + 1] % 4 AS scfsi,
             d[((sb*3 + 2) % 16) + 1] % 63 AS s0,
             d[((sb*3 + 7) % 16) + 1] % 63 AS s1,
             d[((sb*3 + 12) % 16) + 1] % 63 AS s2
      FROM sbx),
    act AS (SELECT * FROM al WHERE a > 0),
    l1s AS (
      SELECT doc_id, sb,
             {l1_micro('d[((sb + j*3 + 4) % 16) + 1] * 23 + j*5 + doc_id')}
      FROM act, range(12) u(j) WHERE layer = 1),
    l2cls AS (
      SELECT *,
             {L2_STEPS},
             {SCFSI_EFF}
      FROM act WHERE layer = 2),
    l2nb AS (
      SELECT *, (CASE steps WHEN 3 THEN 2 WHEN 5 THEN 3 WHEN 7 THEN 3
                 WHEN 9 THEN 4 ELSE 4 END) AS nb,
             (CASE steps WHEN 7 THEN 0.25 WHEN 15 THEN 0.125
              ELSE 0.5 END) AS dd
      FROM l2cls),
    l2s AS (
      SELECT doc_id, sb,
             {l2_micro('''(d[((sb + i*5 + 3) % 16) + 1] * 27 + i*7 + doc_id)
                       % steps''')}
      FROM l2nb, range(36) u(i)),
    s AS (SELECT * FROM l1s UNION ALL SELECT * FROM l2s),
    agg AS (
      SELECT doc_id, count(DISTINCT sb) AS n_active_sb,
             {MICRO_TOTALS}
      FROM s GROUP BY doc_id)
    SELECT c.doc_id AS media_id, c.layer::BIGINT AS layer,
           1::BIGINT AS protected,
           {MPEG_AGG_COLS}
    """,
    tags=["multimodal", "decode", "mpeg", "audio", "crc"],
)
def multimodal_mpeg_crc_decode(spark, sf_dir):
    """CRC-PROTECTED MPEG-1 audio (§2.4.3.1 crc_check, polynomial
    X^16+X^15+X^2+1 over header bytes 2-3 + the allocation/scfsi
    prefix) — the protection extension: every doc encodes one
    protected frame (Layer I mono at 448 kbps for even docs, Layer II
    table-a mono at 192 kbps for odd docs), decodes it through the CRC
    verification path, AND asserts in-batch that flipping one
    allocation bit reports 'crc_check mismatch' BEFORE any structure
    error — the corruption detection the protection exists for.
    Requantized values aggregate in integer micro-units against the
    closed-form SQL replay (the CRC changes framing, never values).
    One Arrow mapInPandas scan, zero shuffles."""
    import hashlib

    from cam_etl_spark.multimodal import micro6
    from cam_etl_spark.multimodal.mpegaudio import (
        B2A_SBLIMIT,
        b2a_steps_list,
        decode_mpeg1_audio,
        encode_layer1_frame,
        encode_layer2_frame,
    )

    def run(did, text):
        d = int(did)
        dig = hashlib.md5((text or "").encode()).digest()
        if d % 2 == 0:  # Layer I mono, protected
            layer = 1
            alloc = [dig[(sb * 11 + 2) % 16] % 6 for sb in range(32)]
            active = [sb for sb in range(32) if alloc[sb]]
            scf = [dig[(sb * 5 + 3) % 16] % 63 for sb in active]
            codes = [
                [
                    (dig[(sb + j * 3 + 4) % 16] * 23 + j * 5 + d)
                    % ((1 << (alloc[sb] + 1)) - 1)
                    for j in range(12)
                ]
                for sb in active
            ]
            buf = encode_layer1_frame(alloc, scf, codes, crc=True)
        else:  # Layer II table-a mono, protected
            layer = 2

            def amax(sb):
                return 3 if sb < 3 else (5 if sb < 23 else 2)

            alloc = [
                dig[(sb * 7 + 1) % 16] % (amax(sb) + 1)
                for sb in range(B2A_SBLIMIT)
            ]
            active = [sb for sb in range(B2A_SBLIMIT) if alloc[sb]]
            scfsi = [dig[(sb * 5 + 6) % 16] % 4 for sb in active]
            stored = [
                (
                    dig[(sb * 3 + 2) % 16] % 63,
                    dig[(sb * 3 + 7) % 16] % 63,
                    dig[(sb * 3 + 12) % 16] % 63,
                )
                for sb in active
            ]
            codes = [
                [
                    (dig[(sb + i * 5 + 3) % 16] * 27 + i * 7 + d)
                    % b2a_steps_list(sb)[alloc[sb] - 1]
                    for i in range(36)
                ]
                for sb in active
            ]
            buf = encode_layer2_frame(
                alloc, scfsi, stored, codes, bitrate_kbps=192,
                crc=True,
            )
        m = decode_mpeg1_audio(buf)
        f = m["frames"][0]
        assert f["protected"] and f["codes"] == codes
        if active:  # corruption must FAIL the crc, loudly
            bad = bytearray(buf)
            bad[6] ^= 0x80  # first allocation bit (CRC-covered)
            try:
                decode_mpeg1_audio(bytes(bad))
                raise AssertionError(
                    f"doc {d}: corrupted frame decoded silently"
                )
            except ValueError as err:
                assert "crc_check mismatch" in str(err), err
        micro = [micro6(x) for row in f["values"] for x in row]
        yield {
            "media_id": d,
            "layer": layer,
            "protected": 1,
            "n_active_sb": len(active),
            "n_active_samples": len(micro),
            "sum_micro": sum(micro),
            "max_abs_micro": (
                max(abs(x) for x in micro) if micro else 0
            ),
        }

    d = widen_table(spark, sf_dir, "documents", "doc_id", "text")
    return map_rows(
        d, run,
        "media_id long, layer long, protected long, n_active_sb long, "
        "n_active_samples long, sum_micro long, max_abs_micro long",
    )


@register(
    "multimodal_mpeg_freeformat_decode",
    f"""
    WITH {md5_digest()},
    cfg AS (
      SELECT doc_id, d,
             ((doc_id // 2) % 2) + ((doc_id // 4) % 2) AS n_padded,
             1320 + ((doc_id // 2) % 2) + ((doc_id // 4) % 2) AS stream_bytes
      FROM dg),
    sbf AS (
      SELECT doc_id, d, sb, f
      FROM cfg, range(1, 3) ff(f), range(27) t(sb)),
    al AS (
      SELECT *,
             d[((sb*5 + f*7 + 2) % 16) + 1]
               % (1 + CASE WHEN sb < 3 THEN 2
                           WHEN sb < 23 THEN 3 ELSE 2 END) AS a,
             d[((sb*3 + f*11 + 4) % 16) + 1] % 4 AS scfsi,
             d[((sb*2 + f*5 + 3) % 16) + 1] % 63 AS s0,
             d[((sb*2 + f*5 + 8) % 16) + 1] % 63 AS s1,
             d[((sb*2 + f*5 + 13) % 16) + 1] % 63 AS s2
      FROM sbf),
    cls AS (
      SELECT *,
             {L2_STEPS},
             {SCFSI_EFF}
      FROM al WHERE a > 0),
    nbx AS (
      SELECT *, {L2_NB_357}
      FROM cls),
    smp AS (
      SELECT doc_id, sb, f,
             {l2_micro('''(d[((sb + i*7 + f*9 + 1) % 16) + 1] * 29 + i*11
                        + f*17 + doc_id) % steps''')}
      FROM nbx, range(36) u(i)),
    agg AS (
      SELECT doc_id, count(DISTINCT f*100 + sb) AS n_active_sb,
             {MICRO_TOTALS}
      FROM smp GROUP BY doc_id)
    SELECT c.doc_id AS media_id, 3::BIGINT AS n_frames,
           0::BIGINT AS bitrate_kbps, 'a' AS table_id,
           c.n_padded::BIGINT AS n_padded,
           c.stream_bytes::BIGINT AS stream_bytes,
           {MPEG_AGG_COLS}
    """,
    tags=["multimodal", "decode", "mpeg", "audio", "free-format"],
)
def multimodal_mpeg_freeformat_decode(spark, sf_dir):
    """FREE-FORMAT MPEG-1 audio (bitrate_index 0) — the sizing
    extension: every doc is a THREE-frame Layer II mono stream at
    48 kHz with a caller-chosen 440-byte frame (implied 146.67 kbps →
    table 3-B.2a). Frame 0 is silent (all-zero allocation — provably no
    false sync in its payload), so the decoder's first-frame sync scan
    deterministically locks the 440-byte length; frames 1-2 are
    digest-driven with per-doc padding bits, decoded purely from the
    LOCKED length (no further scanning — the spec's rule). stream_bytes
    pins the lock+padding arithmetic; subband values aggregate in
    integer micro-units against the closed-form replay. One Arrow
    mapInPandas scan, zero shuffles."""
    import hashlib

    from cam_etl_spark.multimodal import micro6
    from cam_etl_spark.multimodal.mpegaudio import (
        B2A_SBLIMIT,
        decode_mpeg1_audio,
        encode_layer2_frame,
        l2_steps_list,
    )

    def run(did, text):
        d = int(did)
        dig = hashlib.md5((text or "").encode()).digest()
        pads = [False, bool((d >> 1) & 1), bool((d >> 2) & 1)]
        bufs = [encode_layer2_frame(
            [0] * B2A_SBLIMIT, [], [], [],
            sample_rate=48000, free_format_bytes=440,
        )]
        for f in (1, 2):
            def amax(sb):
                return 2 if sb < 3 else (3 if sb < 23 else 2)

            alloc = [
                dig[(sb * 5 + f * 7 + 2) % 16] % (amax(sb) + 1)
                for sb in range(B2A_SBLIMIT)
            ]
            active = [sb for sb in range(B2A_SBLIMIT) if alloc[sb]]
            scfsi = [dig[(sb * 3 + f * 11 + 4) % 16] % 4
                     for sb in active]
            stored = [
                (
                    dig[(sb * 2 + f * 5 + 3) % 16] % 63,
                    dig[(sb * 2 + f * 5 + 8) % 16] % 63,
                    dig[(sb * 2 + f * 5 + 13) % 16] % 63,
                )
                for sb in active
            ]
            codes = [
                [
                    (dig[(sb + i * 7 + f * 9 + 1) % 16] * 29
                     + i * 11 + f * 17 + d)
                    % l2_steps_list("a", sb)[alloc[sb] - 1]
                    for i in range(36)
                ]
                for sb in active
            ]
            bufs.append(encode_layer2_frame(
                alloc, scfsi, stored, codes, sample_rate=48000,
                free_format_bytes=440, padding=pads[f],
            ))
        stream = b"".join(bufs)
        m = decode_mpeg1_audio(stream)
        assert m["n_frames"] == 3 and m["bitrate_kbps"] == 0
        assert [fr["padding"] for fr in m["frames"]] == pads
        assert all(fr["free_format"] for fr in m["frames"])
        assert all(fr["table"] == "a" for fr in m["frames"])
        micro = [
            micro6(x)
            for fr in m["frames"]
            for row in fr["values"] for x in row
        ]
        yield {
            "media_id": d,
            "n_frames": 3,
            "bitrate_kbps": 0,
            "table_id": "a",
            "n_padded": sum(pads),
            "stream_bytes": len(stream),
            "n_active_sb": sum(
                len(fr["active"]) for fr in m["frames"]
            ),
            "n_active_samples": len(micro),
            "sum_micro": sum(micro),
            "max_abs_micro": (
                max(abs(x) for x in micro) if micro else 0
            ),
        }

    d = widen_table(spark, sf_dir, "documents", "doc_id", "text")
    return map_rows(
        d, run,
        "media_id long, n_frames long, bitrate_kbps long, table_id string, "
        "n_padded long, n_active_sb long, n_active_samples long, "
        "sum_micro long, max_abs_micro long, stream_bytes long",
    )


@register(
    "multimodal_mpeg2_lsf_decode",
    f"""
    WITH {md5_digest()},
    cfg AS (
      SELECT doc_id, d,
             [22050, 24000, 16000][(doc_id % 3) + 1] AS rate,
             [144, 176, 256][(doc_id % 3) + 1] AS kbps,
             CASE doc_id % 2 WHEN 0 THEN 1 ELSE 2 END AS nch,
             ((doc_id // 8) % 2) + ((doc_id // 16) % 2) AS n_padded
      FROM dg),
    sbf AS (
      SELECT doc_id, d, sb, f, ch
      FROM cfg, range(2) ff(f), range(32) t(sb), range(2) cc(ch)
      WHERE ch < nch AND (sb + doc_id) % 2 = 0),
    al AS (
      SELECT *,
             d[((sb*7 + ch*11 + f*5 + 3) % 16) + 1] % 4 AS a,
             d[((sb*3 + ch*5 + f*7 + 6) % 16) + 1] % 63 AS scf
      FROM sbf),
    act AS (SELECT * FROM al WHERE a > 0),
    s AS (
      SELECT doc_id,
             CAST(round((2.0 * pow(2.0, -scf/3.0)
                   * ((1::BIGINT << (a + 1))
                      / (((1::BIGINT << (a + 1)) - 1)::DOUBLE))
                   * (((d[((sb + j*5 + ch*3 + f*2 + 1) % 16) + 1] * 31
                        + j*7 + f*19 + ch*23 + doc_id)
                       % ((1::BIGINT << (a + 1)) - 1))
                      / ((1::BIGINT << a)::DOUBLE)
                      - 1.0 + pow(2.0, -a::DOUBLE))) * 1000000.0)
                  AS BIGINT) AS micro
      FROM act, range(12) u(j)),
    agg AS (
      SELECT doc_id, count(*) AS n_samp,
             sum(micro)::BIGINT AS sum_micro,
             max(abs(micro))::BIGINT AS max_abs
      FROM s GROUP BY doc_id),
    asb AS (SELECT doc_id, count(*) AS n_sb FROM act GROUP BY doc_id)
    SELECT c.doc_id AS media_id, 2::BIGINT AS version, 1::BIGINT AS layer,
           c.rate::BIGINT AS sample_rate, c.kbps::BIGINT AS bitrate_kbps,
           c.nch::BIGINT AS nch, 2::BIGINT AS n_frames,
           c.n_padded::BIGINT AS n_padded,
           (2 * 4 * ((12 * c.kbps * 1000) // c.rate)
            + 4 * c.n_padded)::BIGINT AS stream_bytes,
           coalesce(b.n_sb, 0)::BIGINT AS n_active_sb,
           coalesce(a.n_samp, 0)::BIGINT AS n_active_samples,
           coalesce(a.sum_micro, 0)::BIGINT AS sum_micro,
           coalesce(a.max_abs, 0)::BIGINT AS max_abs_micro
    FROM cfg c
    LEFT JOIN asb b USING (doc_id)
    LEFT JOIN agg a ON c.doc_id = a.doc_id
    """,
    tags=["multimodal", "decode", "mpeg", "audio", "lsf", "mpeg2"],
)
def multimodal_mpeg2_lsf_decode(spark, sf_dir):
    """MPEG-2 LSF (ISO 13818-3) Layer I — the half-rate extension: the
    header ID bit flips to 0, the sampling frequencies halve
    (22.05/24/16 kHz), and the bitrate table changes (144/176 kbps are
    LSF-only rows), while the Layer I BODY layout is unchanged — which
    is why LSF Layer I decodes table-free (LSF Layer II needs 13818-3
    Table B.1 and stays a named boundary). Each doc encodes TWO
    back-to-back LSF frames (mono for even docs, full stereo for odd;
    rate/bitrate from doc_id % 3; digest-driven padding bits; CRC
    protection on doc_id % 4 >= 2) and decodes them; stream_bytes pins
    the LSF slot arithmetic, and subband values aggregate in integer
    micro-units against the closed-form SQL replay. One Arrow
    mapInPandas scan, zero shuffles."""
    import hashlib

    from cam_etl_spark.multimodal import micro6
    from cam_etl_spark.multimodal.mpegaudio import (
        decode_mpeg1_audio,
        encode_layer1_frame,
        frame_bytes,
    )

    def run(did, text):
        d = int(did)
        dig = hashlib.md5((text or "").encode()).digest()
        rate = [22050, 24000, 16000][d % 3]
        kbps = [144, 176, 256][d % 3]
        nch = 1 if d % 2 == 0 else 2
        crc = d % 4 >= 2
        pads = [bool((d >> 3) & 1), bool((d >> 4) & 1)]
        bufs = []
        for f in range(2):
            alloc = [
                [
                    dig[(sb * 7 + ch * 11 + f * 5 + 3) % 16] % 4
                    if (sb + d) % 2 == 0 else 0
                    for sb in range(32)
                ]
                for ch in range(nch)
            ]
            act = [[sb for sb in range(32) if alloc[ch][sb]]
                   for ch in range(nch)]
            scf = [
                [dig[(sb * 3 + ch * 5 + f * 7 + 6) % 16] % 63
                 for sb in act[ch]]
                for ch in range(nch)
            ]
            codes = [
                [
                    [
                        (dig[(sb + j * 5 + ch * 3 + f * 2 + 1) % 16]
                         * 31 + j * 7 + f * 19 + ch * 23 + d)
                        % ((1 << (alloc[ch][sb] + 1)) - 1)
                        for j in range(12)
                    ]
                    for sb in act[ch]
                ]
                for ch in range(nch)
            ]
            args = (
                (alloc, scf, codes) if nch == 2
                else (alloc[0], scf[0], codes[0])
            )
            bufs.append(encode_layer1_frame(
                *args, sample_rate=rate, bitrate_kbps=kbps,
                padding=pads[f], crc=crc, version=2,
            ))
        stream = bufs[0] + bufs[1]
        m = decode_mpeg1_audio(stream)
        assert m["format"] == "mpeg2_lsf_audio"
        assert m["version"] == 2 and m["n_frames"] == 2
        assert m["sample_rate"] == rate
        assert [fr["padding"] for fr in m["frames"]] == pads
        assert all(fr["protected"] == crc for fr in m["frames"])
        assert len(stream) == sum(
            frame_bytes(1, kbps, rate, p) for p in pads
        )
        micro, n_sb = [], 0
        for fr in m["frames"]:
            chans = (
                fr["values"] if fr["channels"] == 2
                else [fr["values"]]
            )
            acts = (
                fr["active"] if fr["channels"] == 2
                else [fr["active"]]
            )
            n_sb += sum(len(a) for a in acts)
            micro.extend(
                micro6(x) for chan in chans
                for row in chan for x in row
            )
        yield {
            "media_id": d,
            "version": 2,
            "layer": 1,
            "sample_rate": rate,
            "bitrate_kbps": kbps,
            "nch": nch,
            "n_frames": 2,
            "n_padded": sum(pads),
            "stream_bytes": len(stream),
            "n_active_sb": n_sb,
            "n_active_samples": len(micro),
            "sum_micro": sum(micro),
            "max_abs_micro": (
                max(abs(x) for x in micro) if micro else 0
            ),
        }

    d = widen_table(spark, sf_dir, "documents", "doc_id", "text")
    return map_rows(
        d, run,
        "media_id long, version long, layer long, sample_rate long, "
        "bitrate_kbps long, nch long, n_frames long, n_padded long, "
        "stream_bytes long, n_active_sb long, n_active_samples long, "
        "sum_micro long, max_abs_micro long",
    )


@register(
    "multimodal_image_dhash_neardup",
    f"""
    WITH dg AS (
      SELECT doc_id, md5((doc_id // 2)::VARCHAR) AS h FROM documents),
    db AS (
      SELECT doc_id,
             {MD5_BYTES}
      FROM dg),
    px AS (
      SELECT doc_id, x, y,
             CASE WHEN doc_id % 2 = 1 AND y < 2
                  THEN 255 - ((d[((x*7 + y*13) % 16) + 1] * 31
                               + x*3 + y*5) % 256)
                  ELSE (d[((x*7 + y*13) % 16) + 1] * 31
                        + x*3 + y*5) % 256 END AS g
      FROM db, range(36) xs(x), range(32) ys(y)),
    cells AS (
      SELECT doc_id, y // 4 AS r, x // 4 AS c, sum(g) AS s
      FROM px GROUP BY doc_id, y // 4, x // 4),
    bits AS (
      SELECT l.doc_id, l.r, l.c,
             CASE WHEN l.s > rr.s THEN 1 ELSE 0 END AS bit
      FROM cells l
      JOIN cells rr ON l.doc_id = rr.doc_id AND l.r = rr.r
                   AND rr.c = l.c + 1
      WHERE l.c < 8),
    bands AS (
      SELECT doc_id, (r*8 + c) // 16 AS i,
             sum(bit * (1::BIGINT << ((r*8 + c) % 16)))::BIGINT AS band
      FROM bits GROUP BY doc_id, (r*8 + c) // 16),
    {DHASH_NEAR_PAIRS}
    """,
    tags=["multimodal", "dedup", "image", "dhash", "lsh"],
    plan={"CartesianProduct": (0, 0), "HashAggregate": (0, 0)},
)
def multimodal_image_dhash_neardup(spark, sf_dir):
    """IMAGE near-duplicate detection — the perceptual-hash member of
    the dedup family: each doc renders a 36x32 grayscale BMP (digest
    pixels keyed on doc_id // 2, so even/odd siblings share a base
    image; odd docs invert the top two pixel rows — a small visual
    perturbation), the REAL BMP path decodes it back
    (encode_bmp -> bmp_gray_pixels), and dHash area-sums it into a 9x8
    cell lattice whose 64 horizontal-gradient bits pack into four
    16-bit LSH bands. Banded self-join on (band_idx, band_value) finds
    candidates (pigeonhole: <=12 differing bits leave >=1 of 4 bands
    intact), full Hamming distance filters them. Plan: one Arrow
    mapInPandas scan (decode + hash, zero exchanges), ONE candidate
    shuffle on the band key and no pair-dedup exchange (each pair is
    emitted at its first matching band) — linear in band collisions,
    never all-pairs; the join skeleton is the shared
    banded_hamming_pairs operator (operators/dedup.py), whose explicit
    band-key repartition lets both self-join aliases reuse one
    exchange so the decode runs once."""
    import hashlib

    from cam_etl_spark.multimodal.codecs import (
        bmp_gray_pixels,
        dhash_bands,
        encode_bmp,
    )
    from cam_etl_spark.operators.dedup import banded_hamming_pairs

    W, H = 36, 32

    def run(did):
        d = int(did)
        dig = hashlib.md5(str(d // 2).encode()).digest()
        stored_rows = []
        for y in range(H):
            row = bytearray()
            for x in range(W):
                g = (dig[(x * 7 + y * 13) % 16] * 31
                     + x * 3 + y * 5) % 256
                if d % 2 == 1 and y < 2:
                    g = 255 - g
                row += bytes((g, g, g))
            stored_rows.append(bytes(row))
        # encode_bmp stores rows bottom-up; 36 px * 3 B = 108 B
        # rows are already 4-byte aligned (no padding ambiguity)
        buf = encode_bmp(W, H, b"".join(reversed(stored_rows)))
        w, h, gray = bmp_gray_pixels(buf)
        assert (w, h) == (W, H)
        b = dhash_bands(gray, w, h)
        yield {"doc_id": d, "b0": b[0], "b1": b[1],
                     "b2": b[2], "b3": b[3]}

    docs = widen_table(spark, sf_dir, "documents", "doc_id")
    bands = map_rows(
        docs, run, "doc_id long, b0 long, b1 long, b2 long, b3 long"
    )
    return banded_hamming_pairs(bands, ["b0", "b1", "b2", "b3"], 12)


@register(
    "multimodal_audio_fingerprint_neardup",
    f"""
    WITH dg AS (
      SELECT doc_id, md5('aud' || (doc_id // 2)::VARCHAR) AS h
      FROM documents),
    db AS (
      SELECT doc_id,
             {MD5_BYTES}
      FROM dg),
    sm AS (
      SELECT doc_id, t,
             abs(((d[((t*7 + 1) % 16) + 1] * 251 + t)
                  * (d[((t*11 + 3) % 16) + 1] + 13)) % 4097 - 2048) AS a
      FROM db, range(1040) ts(t)),
    mg AS (
      SELECT doc_id, t,
             CASE WHEN doc_id % 2 = 1 AND t >= 16 AND t < 32
                  THEN a // 2 ELSE a END AS m
      FROM sm),
    en AS (
      SELECT doc_id, t // 16 AS f, sum(m) AS e
      FROM mg GROUP BY doc_id, t // 16),
    bits AS (
      SELECT l.doc_id, l.f AS b,
             CASE WHEN l.e > rr.e THEN 1 ELSE 0 END AS bit
      FROM en l
      JOIN en rr ON l.doc_id = rr.doc_id AND rr.f = l.f + 1
      WHERE l.f < 64),
    bands AS (
      SELECT doc_id, b // 16 AS i,
             sum(bit * (1::BIGINT << (b % 16)))::BIGINT AS band
      FROM bits GROUP BY doc_id, b // 16),
    {DHASH_NEAR_PAIRS}
    """,
    tags=["multimodal", "dedup", "audio", "fingerprint", "lsh"],
    plan={"CartesianProduct": (0, 0), "HashAggregate": (0, 0)},
)
def multimodal_audio_fingerprint_neardup(spark, sf_dir):
    """AUDIO near-duplicate detection — the acoustic sibling of
    `multimodal_image_dhash_neardup`, completing the near-dup modality
    matrix (text shingles / embeddings / images / audio): each doc
    renders 1040 int16 PCM samples (digest keyed on doc_id // 2, so
    even/odd siblings share a base signal; odd docs halve frame 1's
    amplitude — a level perturbation that flips only the two adjacent
    energy-gradient bits, both in band 0), routes them through the
    REAL RIFF/WAVE path
    (encode_wav -> wav_data_chunk), and fingerprints 65 frame energies
    (integer sums of |sample| over 16-sample frames) into 64
    energy-gradient bits = four 16-bit LSH bands. Banded self-join +
    full Hamming verify, identical shape and ReuseExchange discipline
    to the image entry (shared banded_hamming_pairs skeleton,
    operators/dedup.py): ONE Arrow decode scan, one candidate shuffle
    on the band key, no pair-dedup exchange — linear in band
    collisions at any corpus size."""
    import hashlib
    import struct

    from cam_etl_spark.multimodal.codecs import encode_wav, wav_data_chunk
    from cam_etl_spark.operators.dedup import banded_hamming_pairs

    T = 1040  # 65 frames x 16 samples

    import numpy as np

    def run(did):
        d = int(did)
        dig = hashlib.md5(("aud" + str(d // 2)).encode()).digest()
        samples = []
        for t in range(T):
            # two-byte multiplicative mix mod 4097: per-frame
            # energies decorrelate ACROSS docs (a single-byte
            # linear form left every frame summing the same 16
            # digest bytes — all fingerprints collided)
            s = ((dig[(t * 7 + 1) % 16] * 251 + t)
                 * (dig[(t * 11 + 3) % 16] + 13)) % 4097 - 2048
            m = abs(s)
            if d % 2 == 1 and 16 <= t < 32:
                m //= 2
            samples.append(m if s >= 0 else -m)
        pcm = struct.pack(f"<{T}h", *samples)
        buf = encode_wav(
            n_frames=T, sample_rate=8000, n_channels=1,
            bits_per_sample=16, samples=pcm,
        )
        meta, data = wav_data_chunk(buf)
        assert meta["n_frames"] == T and meta["n_channels"] == 1
        arr = np.frombuffer(data, "<i2").astype(np.int64)
        en = np.abs(arr).reshape(65, 16).sum(axis=1)
        bands = [0, 0, 0, 0]
        for b in range(64):
            if en[b] > en[b + 1]:
                bands[b // 16] |= 1 << (b % 16)
        yield {"doc_id": d, "b0": bands[0], "b1": bands[1],
                     "b2": bands[2], "b3": bands[3]}

    docs = widen_table(spark, sf_dir, "documents", "doc_id")
    bands = map_rows(
        docs, run, "doc_id long, b0 long, b1 long, b2 long, b3 long"
    )
    return banded_hamming_pairs(bands, ["b0", "b1", "b2", "b3"], 12)


@register(
    "multimodal_video_dhash_neardup",
    f"""
    WITH dg AS (
      SELECT doc_id, md5('vid' || (doc_id // 2)::VARCHAR) AS h
      FROM documents),
    db AS (
      SELECT doc_id,
             {MD5_BYTES}
      FROM dg),
    px AS (
      SELECT doc_id, f, x, y,
             CASE WHEN doc_id % 2 = 1 AND f = 0 AND y < 2
                  THEN 255 - ((d[((x*7 + y*13 + f*3) % 16) + 1] * 31
                               + x*3 + y*5 + f*11) % 256)
                  ELSE (d[((x*7 + y*13 + f*3) % 16) + 1] * 31
                        + x*3 + y*5 + f*11) % 256 END AS g
      FROM db, range(4) fs(f), range(36) xs(x), range(32) ys(y)),
    cells AS (
      SELECT doc_id, f, y // 4 AS r, x // 4 AS c, sum(g) AS s
      FROM px GROUP BY doc_id, f, y // 4, x // 4),
    bits AS (
      SELECT l.doc_id, l.f, l.r, l.c,
             CASE WHEN l.s > rr.s THEN 1 ELSE 0 END AS bit
      FROM cells l
      JOIN cells rr ON l.doc_id = rr.doc_id AND l.f = rr.f
                   AND l.r = rr.r AND rr.c = l.c + 1
      WHERE l.c < 8),
    bands AS (
      SELECT doc_id, f, (r*8 + c) // 16 AS i,
             sum(bit * (1::BIGINT << ((r*8 + c) % 16)))::BIGINT AS band
      FROM bits GROUP BY doc_id, f, (r*8 + c) // 16),
    allb AS (
      SELECT doc_id, f, list(band ORDER BY i) AS bl FROM bands
      GROUP BY doc_id, f),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_l, b.doc_id AS doc_r, a.f
      FROM bands a
      JOIN bands b ON a.f = b.f AND a.i = b.i AND a.band = b.band
                  AND a.doc_id < b.doc_id),
    fham AS (
      SELECT c.doc_l, c.doc_r, c.f,
             (bit_count(xor(la.bl[1], lb.bl[1]))
              + bit_count(xor(la.bl[2], lb.bl[2]))
              + bit_count(xor(la.bl[3], lb.bl[3]))
              + bit_count(xor(la.bl[4], lb.bl[4])))::BIGINT AS ham
      FROM cand c
      JOIN allb la ON c.doc_l = la.doc_id AND c.f = la.f
      JOIN allb lb ON c.doc_r = lb.doc_id AND c.f = lb.f)
    SELECT doc_l, doc_r, sum(ham)::BIGINT AS total_hamming
    FROM fham WHERE ham <= 12
    GROUP BY doc_l, doc_r HAVING count(*) = 4
    """,
    tags=["multimodal", "dedup", "video", "dhash", "lsh"],
    plan={"CartesianProduct": (0, 0), "HashAggregate": (2, 2)},
)
def multimodal_video_dhash_neardup(spark, sf_dir):
    """VIDEO near-duplicate detection — the temporal member of the
    near-dup modality matrix (text / embeddings / images / audio /
    video): each doc renders a 4-frame 36x32 uncompressed AVI (digest
    pixels keyed on doc_id // 2; odd docs invert the top two rows of
    FRAME 0 only — a temporally-local perturbation), the REAL RIFF/AVI
    walk recovers every frame (encode_avi explicit-frames ->
    avi_gray_frames), and each frame dHashes into four 16-bit LSH
    bands. Candidates join on (frame_idx, band_idx, band_value);
    per-frame Hamming <= 12 verifies each frame, and a pair is a video
    near-dup only when ALL FOUR sampled frames match (the
    count(*) = 4 conjunction — chance cross-base survival needs four
    independent frame-level collisions). Plan: one Arrow decode scan
    shared across both self-join aliases (banded_hamming_pairs with
    the frame index as an extra blocking key), one candidate shuffle,
    no per-frame dedup exchange, one pair rollup — linear in band
    collisions."""
    import hashlib

    from pyspark.sql import functions as F

    from cam_etl_spark.multimodal.codecs import (
        avi_gray_frames,
        dhash_bands,
        encode_avi,
    )
    from cam_etl_spark.operators.dedup import banded_hamming_pairs

    W, H, NF = 36, 32, 4

    def run(did):
        d = int(did)
        dig = hashlib.md5(("vid" + str(d // 2)).encode()).digest()
        frames = []
        for f in range(NF):
            stored_rows = []
            for y in range(H):
                row = bytearray()
                for x in range(W):
                    g = (dig[(x * 7 + y * 13 + f * 3) % 16] * 31
                         + x * 3 + y * 5 + f * 11) % 256
                    if d % 2 == 1 and f == 0 and y < 2:
                        g = 255 - g
                    row += bytes((g, g, g))
                stored_rows.append(bytes(row))
            frames.append(b"".join(reversed(stored_rows)))
        buf = encode_avi(W, H, NF, frames=frames)
        w, h, grays = avi_gray_frames(buf)
        assert (w, h, len(grays)) == (W, H, NF)
        for f, gray in enumerate(grays):
            b = dhash_bands(gray, w, h)
            yield {"doc_id": d, "f": f, "b0": b[0],
                         "b1": b[1], "b2": b[2], "b3": b[3]}

    docs = widen_table(spark, sf_dir, "documents", "doc_id")
    bands = map_rows(
        docs, run, "doc_id long, f long, b0 long, b1 long, b2 long, b3 long"
    )
    fham = banded_hamming_pairs(
        bands, ["b0", "b1", "b2", "b3"], 12, extra_key_cols=("f",)
    )
    return (
        fham.groupBy("doc_l", "doc_r")
        .agg(
            F.count("*").alias("nf"),
            F.sum("hamming").cast("long").alias("total_hamming"),
        )
        .filter(F.col("nf") == NF)
        .select("doc_l", "doc_r", "total_hamming")
    )


@register(
    "f24_python_udtf_chunks",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         t -> t <> '') AS w
      FROM documents),
    starts AS (
      SELECT doc_id, w, unnest(range(0, len(w), 4)) AS s
      FROM toks WHERE len(w) > 0),
    chunks AS (
      SELECT doc_id, (s // 4)::INT AS chunk_id,
             w[s + 1 : least(s + 8, len(w))] AS c
      FROM starts)
    SELECT doc_id, chunk_id, len(c)::INT AS n_tokens,
           c[1] AS first_tok, c[-1] AS last_tok
    FROM chunks
    """,
    tags=["F", "udtf", "spark4", "python-udtf", "lateral"],
)
def f24_python_udtf_chunks(spark, sf_dir):
    """PYTHON UDTF (table-valued function) in a LATERAL join — the one
    §2.9 UDF surface the catalog lacked: a ``@udtf`` class yielding one
    row per overlapping token window (window 8, stride 4) per document,
    invoked as ``FROM documents d, LATERAL doc_chunks(d.doc_id, d.text)``
    — Spark plans it as a per-row table-function generate, the same
    shape the reference's row→N-quad worker loops take
    (ref /root/reference/etl_lalf_address.py:273-686). Arrow-optimized
    (``useArrow=True``) so batches cross the Python boundary columnar,
    and scan-shaped: zero shuffles at any corpus size. The oracle
    replays the windowing as pure list arithmetic."""
    from pyspark.sql.functions import udtf

    @udtf(
        returnType=(
            "doc_id bigint, chunk_id int, n_tokens int, "
            "first_tok string, last_tok string"
        ),
        useArrow=True,
    )
    class DocChunks:
        def eval(self, doc_id, text):
            import re

            toks = [t for t in re.split(r"\s+", (text or "").lower()) if t]
            for s in range(0, len(toks), 4):
                c = toks[s : s + 8]
                yield (doc_id, s // 4, len(c), c[0], c[-1])

    spark.udtf.register("doc_chunks", DocChunks)
    t(spark, sf_dir, "documents").select("doc_id", "text").createOrReplaceTempView(
        "udtf_docs_v"
    )
    return spark.sql(
        "SELECT c.* FROM udtf_docs_v d, "
        "LATERAL doc_chunks(d.doc_id, d.text) c"
    )


@register(
    "f25_sql_udf_tiering",
    """
    WITH tiers(tier, lo) AS (
      VALUES ('base', 0.0), ('preferred', 100000.0), ('premium', 250000.0)),
    j AS (
      SELECT CASE WHEN o_totalprice < 50000 THEN 'S'
                  WHEN o_totalprice < 150000 THEN 'M' ELSE 'L' END AS band,
             t.tier, o_totalprice
      FROM orders o JOIN tiers t ON o.o_totalprice >= t.lo)
    SELECT band, tier, count(*)::BIGINT AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM j GROUP BY band, tier
    """,
    tags=["F", "sql-udf", "spark4", "lateral"],
)
def f25_sql_udf_tiering(spark, sf_dir):
    """SQL UDFs (Spark 4 ``CREATE FUNCTION ... RETURN``) — both kinds:
    a SCALAR SQL UDF (price band CASE) and a TABLE SQL UDF invoked as a
    correlated LATERAL (each order fans out to every loyalty tier whose
    threshold it clears — the reference's code→concept mapping shape as
    a declarative function, ref /root/reference/etl_lalf_address.py:313-367).
    Both inline into the plan (Catalyst expands SQL UDFs before
    optimization, so the CASE and the lateral join constant-fold and
    prune like hand-written SQL — no Python boundary at all). The
    oracle states the expanded query directly."""
    spark.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION price_band(p DOUBLE)
        RETURNS STRING
        RETURN CASE WHEN p < 50000 THEN 'S'
                    WHEN p < 150000 THEN 'M' ELSE 'L' END"""
    )
    spark.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION loyalty_tiers(p DOUBLE)
        RETURNS TABLE(tier STRING, lo DOUBLE)
        RETURN SELECT t.tier, t.lo
               FROM VALUES ('base', 0.0d), ('preferred', 100000.0d),
                           ('premium', 250000.0d) AS t(tier, lo)
               WHERE p >= t.lo"""
    )
    t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    ).createOrReplaceTempView("sqludf_orders_v")
    return spark.sql(
        """
        SELECT price_band(o.o_totalprice) AS band, lt.tier,
               count(*) AS n_orders,
               round(sum(o.o_totalprice), 2) AS total_price
        FROM sqludf_orders_v o,
             LATERAL loyalty_tiers(o.o_totalprice) lt
        GROUP BY 1, 2
        """
    )


@register(
    "stream_state_store_reader",
    """
    SELECT user_id, count(*)::BIGINT AS n_events,
           round(sum(value), 4) AS total_value
    FROM events GROUP BY 1
    """,
    tags=["streaming", "statestore", "spark4", "ops"],
)
def stream_state_store_reader(spark, sf_dir):
    """STATE STORE READER (Spark 4 ``spark.read.format("statestore")``)
    — the streaming-ops introspection surface: a streaming groupBy
    aggregation runs to completion, then its CHECKPOINTED STATE is read
    back as a batch DataFrame (struct key / agg-buffer value /
    partition_id) and unpacked. The driver row asserts the recovered
    state equals the plain batch aggregate — i.e. what an operator
    would resume from IS the answer. The state-metadata reader is also
    exercised in-batch (operator name + partition count sanity). At
    scale this is how you audit or migrate terabytes of checkpoint
    state without replaying the stream."""
    e = t(spark, sf_dir, "events").select("user_id", "value")
    work = fixture_dir(sf_dir, "cam_etl_ssread_fixture")
    src = file_stream(e, work + "/in", per_trigger=2, files=6)
    agg = src.groupBy("user_id").agg(
        F.count("*").alias("n_events"), F.sum("value").alias("total_value")
    )
    q = (
        agg.writeStream.format("noop")
        .outputMode("complete")
        .option("checkpointLocation", work + "/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    meta = spark.read.format("state-metadata").load(work + "/ckpt")
    m = meta.collect()
    assert len(m) == 1 and m[0].operatorName == "stateStoreSave", m
    assert m[0].numPartitions == int(
        spark.conf.get("spark.sql.shuffle.partitions")
    ), m
    st = spark.read.format("statestore").load(work + "/ckpt")
    return st.select(
        F.col("key.user_id").alias("user_id"),
        F.col("value.count").alias("n_events"),
        F.round(F.col("value.sum"), 4).alias("total_value"),
    )


@register(
    "sketch_count_min",
    """
    WITH toks AS (
      SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                t -> t <> '')) AS tok
      FROM documents),
    exact AS (SELECT tok, count(*) AS exact_count FROM toks GROUP BY tok),
    cms AS (
      SELECT r, ('0x' || substr(md5(tok || '#' || r), 1, 8))::BIGINT % 1024
               AS bucket, count(*) AS n
      FROM toks, range(4) rr(r) GROUP BY 1, 2),
    probe AS (SELECT tok, exact_count FROM exact WHERE exact_count >= 50),
    est AS (
      SELECT p.tok, p.exact_count, min(c.n) AS est_count
      FROM probe p, range(4) rr(r)
      JOIN cms c
        ON c.r = rr.r
       AND c.bucket = ('0x' || substr(md5(p.tok || '#' || rr.r), 1, 8))::BIGINT
                      % 1024
      GROUP BY 1, 2)
    SELECT tok, exact_count::BIGINT AS exact_count,
           est_count::BIGINT AS est_count,
           (est_count >= exact_count) AS overestimate_ok
    FROM est
    """,
    tags=["sketch", "count-min", "heavy-hitters", "A"],
)
def sketch_count_min(spark, sf_dir):
    """COUNT-MIN SKETCH over the token stream — the mergeable
    bounded-memory frequency sketch the heavy-hitter family lacked
    (complements exact counts, Misra-Gries, and HLL): 4 rows x 1024
    buckets built in ONE map-side-combined shuffle on (row, bucket) —
    at 100 TB the sketch is 4096 counters regardless of corpus size,
    and per-partition sketches merge by addition (the groupBy IS the
    merge). Estimates for every token with exact count >= 50 are the
    min over the 4 bucket counters; the md5-derived bucket hashes make
    collisions — and therefore the exact estimate values — replayable
    in SQL, and the CMS one-sided error guarantee (est >= exact) is
    emitted per token for the oracle to pin. All JVM-side expressions;
    no Python in the hot path."""
    toks = (
        widen_table(spark, sf_dir, "documents", "text")
        .select(
            F.explode(
                F.filter(
                    F.split(F.lower(F.col("text")), r"\s+"),
                    lambda x: x != "",
                )
            ).alias("tok")
        )
    )
    exact = toks.groupBy("tok").agg(F.count("*").alias("exact_count"))

    def bucket(tok_col, r_col):
        return (
            F.conv(F.substring(F.md5(F.concat_ws("#", tok_col, r_col)), 1, 8),
                   16, 10).cast("long") % 1024
        )

    rows = F.explode(F.sequence(F.lit(0), F.lit(3))).alias("r")
    cms = (
        toks.select("tok", rows)
        .select(F.col("r"), bucket(F.col("tok"), F.col("r")).alias("bucket"))
        .groupBy("r", "bucket")
        .agg(F.count("*").alias("n"))
    )
    probe = exact.filter(F.col("exact_count") >= 50)
    probed = (
        probe.select("tok", "exact_count", rows)
        .withColumn("bucket", bucket(F.col("tok"), F.col("r")))
        .join(cms, ["r", "bucket"])
        .groupBy("tok", "exact_count")
        .agg(F.min("n").alias("est_count"))
    )
    return probed.select(
        "tok", "exact_count", "est_count",
        (F.col("est_count") >= F.col("exact_count")).alias("overestimate_ok"),
    )


@register(
    "s16_cow_bucketed_upsert",
    """
    WITH upd AS (
      SELECT o_orderkey, o_totalprice + 1000.0 AS price, 'U' AS status
      FROM orders WHERE o_orderkey % 97 = 0
      UNION ALL
      SELECT o_orderkey + 100000000, 500.0 AS price, 'N' AS status
      FROM orders WHERE o_orderkey % 193 = 0),
    merged AS (
      SELECT o_orderkey, o_totalprice AS price, o_orderstatus AS status
      FROM orders
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
      UNION ALL SELECT * FROM upd)
    SELECT status, count(*)::BIGINT AS n_rows,
           round(sum(price), 2) AS total_price
    FROM merged GROUP BY status
    """,
    tags=["S", "sink", "upsert", "merge", "copy-on-write", "bucketed"],
)
def s16_cow_bucketed_upsert(spark, sf_dir):
    """COPY-ON-WRITE BUCKETED UPSERT (operators/cow.py) — MERGE
    semantics on plain parquet, no table format: orders laid out as 64
    hash buckets on the order key, then a delta (updated prices for
    keys % 97 == 0, brand-new rows for keys % 193 == 0) merged by
    rewriting ONLY the buckets containing delta keys via per-write
    dynamic partition overwrite. The batch asserts (a) the rewrite was
    genuinely partial (touched < 64) and (b) every UNTOUCHED bucket's
    part-file listing is byte-identical before and after — the
    copy-on-write contract. The final table must equal the SQL MERGE,
    which is the oracle. At 100 TB: delta-bounded driver state, a
    partition-pruned base read, one bucket-local anti-join, atomic
    per-directory replacement."""
    import os

    from cam_etl_spark.operators.cow import upsert_bucketed, write_bucketed

    N_BUCKETS = 64
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").alias("price"),
        F.col("o_orderstatus").alias("status"),
    )
    work = fixture_dir(sf_dir, "cam_etl_cow_fixture")
    path = work + "/table"
    write_bucketed(o.repartition(8), path, "o_orderkey", N_BUCKETS)

    def listing():
        out = {}
        for b in os.listdir(path):
            if b.startswith("bucket="):
                out[int(b.split("=")[1])] = sorted(
                    f for f in os.listdir(os.path.join(path, b))
                    if f.endswith(".parquet")
                )
        return out

    before = listing()
    updates = (
        o.filter(F.col("o_orderkey") % 97 == 0)
        .select(
            "o_orderkey",
            (F.col("price") + 1000.0).alias("price"),
            F.lit("U").alias("status"),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 193 == 0).select(
                (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
                F.lit(500.0).alias("price"),
                F.lit("N").alias("status"),
            )
        )
    )
    touched = upsert_bucketed(spark, path, updates, "o_orderkey", N_BUCKETS)
    assert 0 < len(touched) < N_BUCKETS, (
        f"rewrite not partial: {len(touched)}/{N_BUCKETS} buckets"
    )
    after = listing()
    for b in before:
        if b not in touched:
            assert before[b] == after[b], (
                f"untouched bucket {b} was rewritten"
            )
    final = spark.read.parquet(path)
    return final.groupBy("status").agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("price"), 2).alias("total_price"),
    )


@register(
    "sample_weighted_poisson",
    """
    WITH w AS (
      SELECT doc_id, lang, greatest(length(text), 1) AS n_chars,
             (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT + 1)
               / 4294967296.0 AS u
      FROM documents),
    pri AS (
      SELECT doc_id, lang, n_chars, u / n_chars AS priority,
             row_number() OVER (PARTITION BY lang
                                ORDER BY u / n_chars, doc_id) AS rn
      FROM w)
    SELECT lang, doc_id, n_chars::BIGINT AS n_chars,
           round(priority, 8) AS priority
    FROM pri WHERE rn <= 20
    """,
    tags=["sampling", "weighted", "pps", "sequential-poisson"],
)
def sample_weighted_poisson(spark, sf_dir):
    """WEIGHTED (PPS-approximate) sampling per language via SEQUENTIAL
    POISSON SAMPLING (Ohlsson 1998): priority = u / weight with a
    hash-derived uniform u and weight = document length; the k smallest
    priorities per stratum are the sample. Chosen over
    Efraimidis-Spirakis (u^(1/w)) deliberately: the priority uses ONLY
    IEEE-correctly-rounded operations (+, /), so Spark and the oracle
    compute BIT-IDENTICAL doubles and the selected set is exactly
    replayable — pow/log keys can differ in the last ulp across math
    libraries and flip boundary ranks. Longer documents draw smaller
    priorities more often, giving inclusion probability ≈ proportional
    to length. One window per stratum (shuffle on lang + doc_id
    tiebreak); rerun-stable and layout-independent like the other
    sampling operators (operators/sampling.py)."""
    w = t(spark, sf_dir, "documents").select(
        "doc_id", "lang",
        F.greatest(F.length("text"), F.lit(1)).alias("n_chars"),
        (
            (
                F.conv(
                    F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                    16, 10,
                ).cast("long")
                + 1
            )
            / F.lit(4294967296.0)
        ).alias("u"),
    )
    pri = w.withColumn("priority", F.col("u") / F.col("n_chars"))
    win = Window.partitionBy("lang").orderBy("priority", "doc_id")
    return (
        pri.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= 20)
        .select(
            "lang", "doc_id", "n_chars",
            F.round("priority", 8).alias("priority"),
        )
    )


@register(
    "multimodal_audio_decimate",
    f"""
    WITH {md5_digest(cols='(doc_id % 200) + 16 AS ns')},
    sig AS (
      SELECT doc_id, ns, (ns + 1) // 2 AS n_out,
             list_transform(range(ns),
               j -> CASE WHEN d[((2*j+3) % 16) + 1]
                          + 256 * d[((2*j+7) % 16) + 1] >= 32768
                         THEN d[((2*j+3) % 16) + 1]
                              + 256 * d[((2*j+7) % 16) + 1] - 65536
                         ELSE d[((2*j+3) % 16) + 1]
                              + 256 * d[((2*j+7) % 16) + 1] END) AS s
      FROM dg),
    acc AS (
      SELECT doc_id, ns, n_out,
             list_transform(range(n_out), n ->
               list_sum(list_transform(range(9), k ->
                 [1,4,8,12,14,12,8,4,1][k+1]
                 * (CASE WHEN 2*n + k - 3 BETWEEN 1 AND ns
                         THEN s[2*n + k - 3] ELSE 0 END)))) AS a
      FROM sig)
    SELECT doc_id AS media_id, ns::BIGINT AS n_in, n_out::BIGINT AS n_out,
           list_sum(a)::BIGINT AS sum_acc,
           list_min(a)::BIGINT AS min_acc,
           list_max(a)::BIGINT AS max_acc
    FROM acc
    """,
    tags=["multimodal", "audio", "dsp", "resample", "decimate"],
)
def multimodal_audio_decimate(spark, sf_dir):
    """AUDIO DECIMATION (x2 downsample through a 9-tap symmetric integer
    low-pass FIR [1,4,8,12,14,12,8,4,1]) — the sample-rate-reduction
    step an audio training pipeline runs after decode: digest-derived
    int16 signals round-trip through REAL FLAC encode/decode (asserted
    bit-exact) and the decoded PCM is polyphase-decimated with
    zero-padded edges. Integer accumulators (no division) keep every
    value exact, so the oracle replays the convolution as pure list
    arithmetic. One Arrow mapInPandas scan, zero shuffles — at 100 TB
    this is embarrassingly parallel per-file DSP, the same shape as the
    decode entries."""
    import hashlib

    import numpy as np

    from cam_etl_spark.multimodal.flac import decode_flac, encode_flac

    H = np.array([1, 4, 8, 12, 14, 12, 8, 4, 1], dtype=np.int64)

    def run(did, text):
        d = int(did)
        seed = hashlib.md5((text or "").encode()).digest()
        dig = np.frombuffer(seed, dtype=np.uint8).astype(np.int64)
        ns = d % 200 + 16
        j = np.arange(ns)
        raw = dig[(2 * j + 3) % 16] + 256 * dig[(2 * j + 7) % 16]
        sig = np.where(raw >= 32768, raw - 65536, raw)
        m = decode_flac(encode_flac([int(v) for v in sig]))
        x = np.array(m["samples"], dtype=np.int64)
        assert np.array_equal(x, sig)
        n_out = (ns + 1) // 2
        padded = np.concatenate(
            [np.zeros(4, np.int64), x, np.zeros(4, np.int64)]
        )
        acc = np.array(
            [
                int((padded[2 * n : 2 * n + 9] * H).sum())
                for n in range(n_out)
            ],
            dtype=np.int64,
        )
        yield {
            "media_id": d,
            "n_in": ns,
            "n_out": n_out,
            "sum_acc": int(acc.sum()),
            "min_acc": int(acc.min()),
            "max_acc": int(acc.max()),
        }

    d = widen_table(spark, sf_dir, "documents", "doc_id", "text")
    return map_rows(
        d, run,
        "media_id long, n_in long, n_out long, sum_acc long, "
        "min_acc long, max_acc long",
    )


@register(
    "multimodal_mp3_sideinfo_parse",
    f"""
    WITH {md5_digest()},
    cfg AS (
      SELECT doc_id, d, 1 + doc_id % 2 AS nch,
             CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS protected
      FROM dg),
    gc AS (
      SELECT doc_id, d, nch, gr, ch,
             d[((gr*7 + ch*3 + 1) % 16) + 1] % 16 AS sfc,
             d[((gr*5 + ch*11 + 2) % 16) + 1] % 5 AS wsel,
             d[((gr*3 + ch*7 + 3) % 16) + 1] % 256 AS gg,
             d[((gr*9 + ch*2 + 6) % 16) + 1] % 8 AS nq
      FROM cfg, range(2) g(gr), range(2) c(ch) WHERE ch < nch),
    gcb AS (
      SELECT *,
             CASE wsel WHEN 1 THEN 1 WHEN 2 THEN 2 WHEN 3 THEN 2
                       WHEN 4 THEN 3 ELSE 0 END AS bt,
             CASE WHEN wsel = 3 THEN 1 ELSE 0 END AS mixed,
             [0,0,0,0,3,1,1,1,2,2,2,3,3,3,4,4][sfc + 1] AS slen1,
             [0,1,2,3,0,1,2,3,1,2,3,1,2,3,2,3][sfc + 1] AS slen2
      FROM gc),
    sc AS (
      SELECT g0.doc_id, g0.ch,
             CASE WHEN g0.bt != 2 AND g1.bt != 2
                  THEN g0.d[((g0.ch*13 + 5) % 16) + 1] % 16
                  ELSE 0 END AS scfsi,
             g0.slen1 AS slen1_0, g0.slen2 AS slen2_0
      FROM gcb g0 JOIN gcb g1
        ON g0.doc_id = g1.doc_id AND g0.ch = g1.ch
      WHERE g0.gr = 0 AND g1.gr = 1),
    lay AS (
      SELECT b.*, s.scfsi, s.slen1_0, s.slen2_0,
             CASE WHEN bt != 2 THEN 21
                  WHEN mixed = 1 THEN 35 ELSE 36 END AS nslots,
             CASE WHEN bt != 2 THEN 11
                  WHEN mixed = 1 THEN 17 ELSE 18 END AS kcut
      FROM gcb b JOIN sc s ON b.doc_id = s.doc_id AND b.ch = s.ch),
    slots AS (
      SELECT l.*, i,
             CASE WHEN i < kcut THEN slen1 ELSE slen2 END AS slen,
             CASE WHEN l.gr = 1 AND l.bt != 2 AND l.scfsi != 0
                   AND ((l.scfsi >> (3 - (CASE WHEN i < 6 THEN 0
                                               WHEN i < 11 THEN 1
                                               WHEN i < 16 THEN 2
                                               ELSE 3 END))) & 1) = 1
                  THEN 1 ELSE 0 END AS reused
      FROM lay l, range(36) t(i) WHERE i < nslots),
    sval AS (
      SELECT doc_id, gr, ch,
             CASE WHEN reused = 1
                  THEN d[((ch*5 + i*7 + 8) % 16) + 1]
                       % (1::BIGINT << (CASE WHEN i < 11 THEN slen1_0
                                             ELSE slen2_0 END))
                  ELSE d[((gr*3 + ch*5 + i*7 + 8) % 16) + 1]
                       % (1::BIGINT << slen) END AS val,
             CASE WHEN reused = 1 THEN 0 ELSE slen END AS tx_bits
      FROM slots),
    qd AS (
      SELECT l.doc_id, l.gr, l.ch,
             d[((l.gr*9 + l.ch*2 + q*5 + 7) % 16) + 1] % 16 AS mag,
             d[((l.gr*9 + l.ch*2 + q*5 + 12) % 16) + 1] % 16 AS sgn
      FROM lay l, range(8) t(q) WHERE q < nq),
    qv AS (
      SELECT doc_id, gr, ch,
             4 + ((mag >> 3) & 1) + ((mag >> 2) & 1)
               + ((mag >> 1) & 1) + (mag & 1) AS bits,
             ((mag >> 3) & 1) * (1 - 2 * ((sgn >> 3) & 1))
             + ((mag >> 2) & 1) * (1 - 2 * ((sgn >> 2) & 1))
             + ((mag >> 1) & 1) * (1 - 2 * ((sgn >> 1) & 1))
             + (mag & 1) * (1 - 2 * (sgn & 1)) AS qsum
      FROM qd),
    p2 AS (
      SELECT doc_id, gr, ch, sum(tx_bits) AS part2,
             count(*) AS nsf, sum(val) AS sumsf
      FROM sval GROUP BY doc_id, gr, ch),
    p3 AS (
      SELECT doc_id, gr, ch, sum(bits) AS part3,
             count(*) AS nq3, sum(qsum) AS sumq
      FROM qv GROUP BY doc_id, gr, ch),
    pergc AS (
      SELECT l.doc_id, l.gr, l.ch, l.gg,
             p2.part2 + coalesce(p3.part3, 0) AS p23,
             p2.nsf AS nsf, p2.sumsf AS sumsf,
             coalesce(p3.nq3, 0) AS nq3, coalesce(p3.sumq, 0) AS sumq
      FROM lay l
      JOIN p2 ON l.doc_id = p2.doc_id AND l.gr = p2.gr AND l.ch = p2.ch
      LEFT JOIN p3
        ON l.doc_id = p3.doc_id AND l.gr = p3.gr AND l.ch = p3.ch),
    agg AS (
      SELECT doc_id, sum(p23) AS sum_part2_3, sum(gg) AS sum_global_gain,
             sum(nsf) AS n_scalefac_values, sum(sumsf) AS sum_scalefac,
             sum(nq3) AS n_quads, sum(sumq) AS sum_count1
      FROM pergc GROUP BY doc_id),
    scs AS (SELECT doc_id, sum(scfsi) AS sum_scfsi FROM sc GROUP BY doc_id)
    SELECT c.doc_id AS media_id, c.nch::BIGINT AS nch,
           c.protected::BIGINT AS protected,
           (CASE c.nch WHEN 1 THEN 136 ELSE 256 END)::BIGINT AS side_bits,
           a.sum_part2_3::BIGINT AS sum_part2_3,
           a.sum_global_gain::BIGINT AS sum_global_gain,
           a.n_scalefac_values::BIGINT AS n_scalefac_values,
           a.sum_scalefac::BIGINT AS sum_scalefac,
           a.n_quads::BIGINT AS n_quads,
           a.sum_count1::BIGINT AS sum_count1,
           s.sum_scfsi::BIGINT AS sum_scfsi
    FROM cfg c
    JOIN agg a ON c.doc_id = a.doc_id
    JOIN scs s ON c.doc_id = s.doc_id
    """,
    tags=["multimodal", "decode", "mp3", "audio", "sideinfo"],
    plan=SCAN_ONLY_PLAN,
)
def multimodal_mp3_sideinfo_parse(spark, sf_dir):
    """MP3 (MPEG-1 Layer III) STRUCTURAL parse — the codes-recovered
    scaffolding entry the Layer III boundary shrinks to (docs/SCALE.md):
    every doc synthesizes one spec-compliant Layer III frame (mono for
    even docs, stereo for odd; every third doc CRC-protected per
    §2.4.3.1 over the side info) with digest-derived side information
    spanning ALL block layouts (long / start / short / mixed / stop),
    scalefactors under the published slen table with scfsi granule-2
    reuse, and a count1 quadruple region under Huffman table B (fixed
    4-bit complement codes + sign bits). The parser recovers every
    field bit-exactly (asserted in-batch), rejects the documented
    boundaries loudly (bit reservoir via a flipped main_data_begin bit
    -> NotImplementedError; corrupted protected side info ->
    'crc_check mismatch' BEFORE any field parse), and the recovered
    codes aggregate against this closed-form digest-arithmetic SQL
    replay. (Big-values tables 0-12, count1 A, the full IMDCT/synthesis
    chain to PCM, M-S/intensity stereo and mixed blocks decode in the
    other Layer III entries; tables 13/15 and ESC/linbits 16-31 are
    not decoded.) One Arrow mapInPandas scan, zero shuffles."""
    import hashlib

    from cam_etl_spark.multimodal.mp3 import (
        SLEN,
        _transmitted_slots,
        encode_mp3_frame,
        parse_mp3_frame,
        scalefac_layout,
    )

    _WSEL = [(0, 0), (1, 0), (2, 0), (2, 1), (3, 0)]

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            did_reservoir = did_crc = False
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(did)
                dig = hashlib.md5((text or "").encode()).digest()

                def B(i):
                    return dig[i % 16]

                nch = 1 + d % 2
                crc = d % 3 == 0
                grs = [[], []]
                cfg = {}
                for gr in range(2):
                    for ch in range(nch):
                        bt, mixed = _WSEL[B(gr * 5 + ch * 11 + 2) % 5]
                        cfg[(gr, ch)] = (bt, mixed)
                scfsis = []
                for ch in range(nch):
                    both_long = (cfg[(0, ch)][0] != 2
                                 and cfg[(1, ch)][0] != 2)
                    scfsis.append(B(ch * 13 + 5) % 16 if both_long else 0)
                for gr in range(2):
                    for ch in range(nch):
                        bt, mixed = cfg[(gr, ch)]
                        sfc = B(gr * 7 + ch * 3 + 1) % 16
                        g = {
                            "block_type": bt,
                            "mixed_block_flag": mixed,
                            "scalefac_compress": sfc,
                            "global_gain": B(gr * 3 + ch * 7 + 3) % 256,
                            "preflag": B(gr * 2 + ch * 5 + 4) % 2,
                            "scalefac_scale": B(gr * 2 + ch * 5 + 9) % 2,
                            "table_select": [
                                B(gr + ch + k + 10) % 32 for k in range(3)
                            ],
                            "subblock_gain": [
                                B(gr + ch + k + 13) % 8 for k in range(3)
                            ],
                            "region0_count": B(gr + ch + 11) % 16,
                            "region1_count": B(gr + ch + 12) % 8,
                            "scfsi": scfsis[ch],
                        }
                        layout = scalefac_layout(bt, mixed)
                        slen1, slen2 = SLEN[sfc]
                        sent = _transmitted_slots(g, scfsis[ch], gr)
                        g["scalefacs"] = [
                            B(gr * 3 + ch * 5 + i * 7 + 8)
                            % (1 << (slen1 if layout[i][1] == 1
                                     else slen2))
                            if (slen1 if layout[i][1] == 1 else slen2)
                            else 0
                            for i in sent
                        ]
                        nq = B(gr * 9 + ch * 2 + 6) % 8
                        quads = []
                        for q in range(nq):
                            mag = B(gr * 9 + ch * 2 + q * 5 + 7) % 16
                            sgn = B(gr * 9 + ch * 2 + q * 5 + 12) % 16
                            quads.append(tuple(
                                ((mag >> (3 - j)) & 1)
                                * (1 - 2 * ((sgn >> (3 - j)) & 1))
                                for j in range(4)
                            ))
                        g["quads"] = quads
                        grs[gr].append(g)
                buf = encode_mp3_frame(grs, crc=crc)
                m = parse_mp3_frame(buf)
                assert m["nch"] == nch and m["protected"] == crc
                assert m["main_data_begin"] == 0
                for ch in range(nch):
                    assert m["scfsi"][ch] == scfsis[ch]
                for gr in range(2):
                    for ch in range(nch):
                        enc, dec = grs[gr][ch], m["granules"][gr][ch]
                        for k in ("block_type", "mixed_block_flag",
                                  "scalefac_compress", "global_gain",
                                  "preflag", "scalefac_scale",
                                  "part2_3_length"):
                            assert dec[k] == enc[k], (d, gr, ch, k)
                        assert dec["big_values"] == 0
                        assert dec["count1table_select"] == 1
                        if enc["block_type"] != 0:
                            assert (dec["table_select"]
                                    == enc["table_select"][:2])
                            assert (dec["subblock_gain"]
                                    == enc["subblock_gain"])
                        else:
                            assert (dec["table_select"]
                                    == enc["table_select"])
                            assert (dec["region0_count"]
                                    == enc["region0_count"])
                            assert (dec["region1_count"]
                                    == enc["region1_count"])
                        assert dec["quads"] == enc["quads"], (d, gr, ch)
                if not crc and not did_reservoir:
                    # bit-reservoir boundary: loud, never mis-parsed
                    bad = bytearray(buf)
                    bad[4] |= 0x80  # main_data_begin high bit
                    try:
                        parse_mp3_frame(bytes(bad))
                        raise AssertionError(
                            f"doc {d}: reservoir frame parsed silently"
                        )
                    except NotImplementedError as err:
                        assert "bit reservoir" in str(err), err
                    did_reservoir = True
                if crc and not did_crc:
                    # corrupted protected side info fails the CRC first
                    bad = bytearray(buf)
                    bad[8] ^= 0x40
                    try:
                        parse_mp3_frame(bytes(bad))
                        raise AssertionError(
                            f"doc {d}: corrupted frame parsed silently"
                        )
                    except ValueError as err:
                        assert "crc_check mismatch" in str(err), err
                    did_crc = True
                gs = [g for gr in m["granules"] for g in gr]
                rows.append(
                    {
                        "media_id": d,
                        "nch": nch,
                        "protected": 1 if crc else 0,
                        "side_bits": m["side_bits"],
                        "sum_part2_3": sum(
                            g["part2_3_length"] for g in gs
                        ),
                        "sum_global_gain": sum(
                            g["global_gain"] for g in gs
                        ),
                        "n_scalefac_values": sum(
                            len(g["scalefacs"]) for g in gs
                        ),
                        "sum_scalefac": sum(
                            sum(g["scalefacs"]) for g in gs
                        ),
                        "n_quads": sum(len(g["quads"]) for g in gs),
                        "sum_count1": sum(
                            sum(q) for g in gs for q in g["quads"]
                        ),
                        "sum_scfsi": sum(m["scfsi"]),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "nch", "protected", "side_bits",
                    "sum_part2_3", "sum_global_gain",
                    "n_scalefac_values", "sum_scalefac", "n_quads",
                    "sum_count1", "sum_scfsi",
                ],
            )

    d = widen_table(spark, sf_dir, "documents", "doc_id", "text")
    return d.mapInPandas(
        run,
        "media_id long, nch long, protected long, side_bits long, "
        "sum_part2_3 long, sum_global_gain long, "
        "n_scalefac_values long, sum_scalefac long, n_quads long, "
        "sum_count1 long, sum_scfsi long",
    )


@register(
    "multimodal_h264_sps_parse",
    f"""
    WITH {md5_digest()},
    cfg AS (
      SELECT doc_id, d,
             [66, 77, 100][(doc_id % 3) + 1] AS profile_idc,
             [10,11,12,13,20,21,22,30,31,32,
              40,41,42,50,51,52][(d[2] % 16) + 1] AS level_idc,
             CASE WHEN doc_id % 3 = 2 THEN 1 + d[3] % 3 ELSE 1 END
               AS chroma
      FROM dg),
    cfg2 AS (
      SELECT *,
             CASE WHEN chroma = 3 AND d[4] % 2 = 1 THEN 1 ELSE 0 END
               AS sep_colour,
             (d[10] % 3) AS poc_type,
             (d[3] + d[10]) % 2 AS fmof,
             d[12] % 6 AS max_ref,
             1 + (d[14]*2 + d[15]) % 120 AS pw_m1,
             1 + (d[16]*3 + d[1]) % 67 AS ph_m1,
             d[6] % 2 AS cropf,
             d[7] % 3 AS c_left, d[8] % 3 AS c_right,
             d[9] % 3 AS c_top, d[10] % 3 AS c_bottom,
             d[11] % 2 AS vui_present, d[12] % 2 AS timing,
             1 + d[13] AS nuit, 1000 * (24 + d[14] % 40) AS tscale,
             CASE WHEN doc_id % 3 = 2 AND d[8] % 2 = 1
                  THEN list_sum(list_transform(
                         range(CASE WHEN chroma = 3 THEN 12 ELSE 8 END),
                         i -> d[((i*3 + 7) % 16) + 1] % 2))
                  ELSE 0 END AS n_scaling_lists,
             d[4] % 2 AS entropy_cabac,
             (d[9] % 52) - 26 AS initqp,
             (d[16] % 11) - 5 AS qp_delta_raw
      FROM cfg),
    geo AS (
      SELECT *,
             CASE WHEN sep_colour = 1 THEN 0 ELSE chroma END AS cat,
             (pw_m1 + 1) * 16 AS w_raw,
             (2 - fmof) * (ph_m1 + 1) * 16 AS h_raw
      FROM cfg2),
    dims AS (
      SELECT *,
             CASE WHEN cat = 0 OR cat = 3 THEN 1 ELSE 2 END AS cux,
             CASE WHEN cat = 0 THEN (2 - fmof)
                  WHEN cat = 1 THEN 2 * (2 - fmof)
                  ELSE (2 - fmof) END AS cuy
      FROM geo)
    SELECT doc_id AS media_id,
           profile_idc::BIGINT AS profile_idc,
           level_idc::BIGINT AS level_idc,
           chroma::BIGINT AS chroma_format_idc,
           sep_colour::BIGINT AS separate_colour_planes,
           (w_raw - cropf * cux * (c_left + c_right))::BIGINT AS width,
           (h_raw - cropf * cuy * (c_top + c_bottom))::BIGINT AS height,
           fmof::BIGINT AS frame_mbs_only,
           poc_type::BIGINT AS poc_type,
           max_ref::BIGINT AS max_num_ref_frames,
           n_scaling_lists::BIGINT AS n_scaling_lists,
           (3 + doc_id % 2)::BIGINT AS n_nals,
           entropy_cabac::BIGINT AS entropy_cabac,
           LEAST(51, GREATEST(0, 26 + initqp + qp_delta_raw))::BIGINT
             AS slice_qp,
           (CASE WHEN vui_present = 1 AND timing = 1
                 THEN tscale ELSE 0 END)::BIGINT AS fps_num,
           (CASE WHEN vui_present = 1 AND timing = 1
                 THEN nuit ELSE 0 END)::BIGINT AS fps_den
    FROM dims
    """,
    tags=["multimodal", "decode", "h264", "video", "structural"],
    plan=SCAN_ONLY_PLAN,
)
def multimodal_h264_sps_parse(spark, sf_dir):
    """H.264/AVC STRUCTURAL parse (ISO 14496-10) — the codes-recovered
    scaffolding entry the H.264 honest stub shrinks to (docs/SCALE.md):
    every doc synthesizes an Annex-B stream (SPS + PPS + an IDR I-slice
    header; odd docs append a non-IDR P-slice header) with
    digest-derived parameters spanning baseline/main/high profiles,
    4:2:0/4:2:2/4:4:4 chroma (incl. separate colour planes), scaling
    matrices under the 7.3.2.1.1.1 delta_scale recurrence, all three
    pic_order_cnt_types, interlace (frame_mbs_only=0 + MBAFF),
    cropping with chroma-dependent CropUnitX/Y, and VUI timing — then
    parses it back via the real NAL/EBSP/exp-Golomb path and asserts
    EVERY field bit-exact in-batch (emulation-prevention bytes
    verified present-and-stripped; FMO, forbidden_zero_bit, illegal
    00 00 02, data-partition NALs and ref-list modification all
    rejected loudly once per batch). Decoded picture geometry
    (7.4.2.1.1) and the parameter aggregates replay against this
    closed-form digest-arithmetic SQL. Slice DATA (CAVLC/CABAC
    macroblock decode to pixels) remains the documented boundary.
    One Arrow mapInPandas scan, zero shuffles."""
    import hashlib

    from cam_etl_spark.multimodal import h264 as H

    _LV = [10, 11, 12, 13, 20, 21, 22, 30, 31, 32, 40, 41, 42, 50, 51, 52]

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            did_boundaries = False
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(did)
                dig = hashlib.md5((text or "").encode()).digest()

                def B(i):
                    return dig[i % 16]

                profile = [66, 77, 100][d % 3]
                high = profile == 100
                chroma = 1 + B(2) % 3 if high else 1
                sep = 1 if (chroma == 3 and B(3) % 2) else 0
                fmof = (B(2) + B(9)) % 2
                poc_type = B(9) % 3
                sps = {
                    "profile_idc": profile,
                    "constraint_set_flags": B(5) % 4,
                    "level_idc": _LV[B(1) % 16],
                    "seq_parameter_set_id": 0,
                    "chroma_format_idc": chroma,
                    "separate_colour_plane_flag": sep,
                    "log2_max_frame_num_minus4": B(8) % 9,
                    "pic_order_cnt_type": poc_type,
                    "max_num_ref_frames": B(11) % 6,
                    "gaps_in_frame_num_value_allowed_flag": B(12) % 2,
                    "pic_width_in_mbs_minus1": 1 + (B(13) * 2 + B(14)) % 120,
                    "pic_height_in_map_units_minus1": 1
                    + (B(15) * 3 + B(0)) % 67,
                    "frame_mbs_only_flag": fmof,
                    "direct_8x8_inference_flag": B(4) % 2,
                    "frame_cropping_flag": B(5) % 2,
                }
                if high:
                    sps["bit_depth_luma_minus8"] = B(4) % 5
                    sps["bit_depth_chroma_minus8"] = B(5) % 5
                    sps["qpprime_y_zero_transform_bypass_flag"] = B(6) % 2
                    if B(7) % 2:
                        nl = 12 if chroma == 3 else 8
                        sps["seq_scaling_lists"] = [
                            {
                                "values": [
                                    1 + (B(i + j) * 7 + j * 13) % 255
                                    for j in range(16 if i < 6 else 64)
                                ],
                                "use_default": False,
                            }
                            if B(i * 3 + 7) % 2
                            else None
                            for i in range(nl)
                        ]
                if not fmof:
                    sps["mb_adaptive_frame_field_flag"] = B(3) % 2
                if sps["frame_cropping_flag"]:
                    sps["frame_crop"] = (
                        B(6) % 3, B(7) % 3, B(8) % 3, B(9) % 3,
                    )
                if poc_type == 0:
                    sps["log2_max_pic_order_cnt_lsb_minus4"] = B(10) % 9
                elif poc_type == 1:
                    sps["delta_pic_order_always_zero_flag"] = B(10) % 2
                    sps["offset_for_non_ref_pic"] = B(11) - 128
                    sps["offset_for_top_to_bottom_field"] = B(12) - 128
                    sps["offset_for_ref_frame"] = [
                        B(13 + k * 5) - 128 for k in range(B(13) % 4)
                    ]
                if B(10) % 2:
                    vui = {"pic_struct_present_flag": B(1) % 2}
                    if B(0) % 2:
                        vui["aspect_ratio_idc"] = B(15) % 17
                    if B(11) % 2:
                        vui["num_units_in_tick"] = 1 + B(12)
                        vui["time_scale"] = 1000 * (24 + B(13) % 40)
                        vui["fixed_frame_rate_flag"] = B(14) % 2
                    sps["vui"] = vui
                pps = {
                    "pic_parameter_set_id": B(2) % 4,
                    "seq_parameter_set_id": 0,
                    "entropy_coding_mode_flag": B(3) % 2,
                    "bottom_field_pic_order_in_frame_present_flag": B(4) % 2,
                    "num_ref_idx_l0_default_active_minus1": B(5) % 4,
                    "num_ref_idx_l1_default_active_minus1": B(6) % 4,
                    "weighted_pred_flag": 0,
                    "weighted_bipred_idc": B(7) % 3,
                    "pic_init_qp_minus26": (B(8) % 52) - 26,
                    "pic_init_qs_minus26": (B(9) % 52) - 26,
                    "chroma_qp_index_offset": (B(10) % 25) - 12,
                    "deblocking_filter_control_present_flag": B(11) % 2,
                    "constrained_intra_pred_flag": B(12) % 2,
                    "redundant_pic_cnt_present_flag": B(13) % 2,
                }
                if B(14) % 2:
                    pps["transform_8x8_mode_flag"] = B(15) % 2
                    pps["second_chroma_qp_index_offset"] = (B(0) % 25) - 12

                def slice_fields(idr: bool) -> dict:
                    hdr = {
                        "first_mb_in_slice": 0,
                        "slice_type_code": 7 if idr else 5,
                        "pic_parameter_set_id": pps["pic_parameter_set_id"],
                        "frame_num": 0 if idr else B(5) % 16,
                        "field_pic_flag": 0,
                    }
                    if sep:
                        hdr["colour_plane_id"] = B(4) % 3
                    if idr:
                        hdr["idr_pic_id"] = B(6) % 32
                    if poc_type == 0:
                        hdr["pic_order_cnt_lsb"] = B(7) % 16
                        if pps[
                            "bottom_field_pic_order_in_frame_present_flag"
                        ]:
                            hdr["delta_pic_order_cnt_bottom"] = B(8) % 7 - 3
                    elif poc_type == 1 and not sps[
                        "delta_pic_order_always_zero_flag"
                    ]:
                        hdr["delta_pic_order_cnt"] = [B(8) % 7 - 3] + (
                            [B(9) % 7 - 3]
                            if pps[
                                "bottom_field_pic_order_in_frame_present_flag"
                            ]
                            else []
                        )
                    if pps["redundant_pic_cnt_present_flag"]:
                        hdr["redundant_pic_cnt"] = 0
                    if not idr:
                        hdr["num_ref_idx_active_override_flag"] = B(4) % 2
                        if hdr["num_ref_idx_active_override_flag"]:
                            hdr["num_ref_idx_l0_active_minus1"] = B(3) % 4
                        if pps["entropy_coding_mode_flag"]:
                            hdr["cabac_init_idc"] = B(14) % 3
                    else:
                        hdr["no_output_of_prior_pics_flag"] = B(11) % 2
                        hdr["long_term_reference_flag"] = B(12) % 2
                    qp = min(
                        51,
                        max(
                            0,
                            26
                            + pps["pic_init_qp_minus26"]
                            + (B(15) % 11) - 5,
                        ),
                    )
                    hdr["slice_qp_delta"] = (
                        qp - 26 - pps["pic_init_qp_minus26"]
                    )
                    if pps["deblocking_filter_control_present_flag"]:
                        hdr["disable_deblocking_filter_idc"] = B(0) % 3
                        if hdr["disable_deblocking_filter_idc"] != 1:
                            hdr["slice_alpha_c0_offset_div2"] = B(1) % 13 - 6
                            hdr["slice_beta_offset_div2"] = B(2) % 13 - 6
                    return hdr

                idr_hdr = slice_fields(True)
                nals = [
                    H.make_nal(3, H.NAL_SPS, H.encode_sps(sps)),
                    H.make_nal(3, H.NAL_PPS, H.encode_pps(pps)),
                    H.make_nal(
                        3,
                        H.NAL_IDR,
                        H.encode_slice_header(idr_hdr, sps, pps, 3, True),
                    ),
                ]
                p_ref_idc = B(13) % 4
                if d % 2:
                    p_hdr = slice_fields(False)
                    nals.append(
                        H.make_nal(
                            p_ref_idc,
                            H.NAL_SLICE,
                            H.encode_slice_header(
                                p_hdr, sps, pps, p_ref_idc, False
                            ),
                        )
                    )
                recs = H.parse_annexb(H.annexb_stream(nals))
                assert len(recs) == 3 + d % 2
                got_sps, got_pps = recs[0]["sps"], recs[1]["pps"]
                for k, v in sps.items():
                    g = got_sps.get(k)
                    assert g == (tuple(v) if isinstance(v, tuple) else v), (
                        d, "sps", k, v, g,
                    )
                for k, v in pps.items():
                    assert got_pps.get(k) == v, (d, "pps", k, v)
                for k, v in idr_hdr.items():
                    assert recs[2]["slice"].get(k) == v, (d, "idr", k, v)
                if d % 2:
                    for k, v in p_hdr.items():
                        assert recs[3]["slice"].get(k) == v, (d, "p", k, v)
                    assert recs[3]["slice"]["slice_type"] == "P"
                if not did_boundaries:
                    did_boundaries = True
                    # loud boundaries, never mis-parsed
                    try:
                        H.nal_header(b"\x80")
                        raise AssertionError("forbidden_zero_bit accepted")
                    except ValueError:
                        pass
                    try:
                        H.nal_header(bytes([2]))
                        raise AssertionError("data partition accepted")
                    except NotImplementedError:
                        pass
                    try:
                        H.ebsp_to_rbsp(b"\x00\x00\x02")
                        raise AssertionError("illegal 000002 accepted")
                    except ValueError:
                        pass
                    fmo = H.encode_pps(pps)
                    # re-encode with num_slice_groups_minus1 = 1: flip by
                    # building a raw writer is overkill — parse a crafted
                    # minimal PPS instead
                    from cam_etl_spark.multimodal.mpegaudio import _BitWriter

                    w = _BitWriter()
                    for val in (0, 0):  # pps_id, sps_id (ue 0 = bit 1)
                        H.ue_write(w, val)
                    w.write(0, 1)
                    w.write(0, 1)
                    H.ue_write(w, 1)  # num_slice_groups_minus1 = 1 -> FMO
                    w.write(1, 1)
                    w.align()
                    try:
                        H.parse_pps(bytes(w.out))
                        raise AssertionError("FMO accepted")
                    except NotImplementedError:
                        pass
                    assert fmo is not None
                width, height = H.sps_dimensions(got_sps)
                vui = sps.get("vui", {})
                has_t = "num_units_in_tick" in vui
                rows.append(
                    {
                        "media_id": d,
                        "profile_idc": profile,
                        "level_idc": sps["level_idc"],
                        "chroma_format_idc": chroma,
                        "separate_colour_planes": sep,
                        "width": width,
                        "height": height,
                        "frame_mbs_only": fmof,
                        "poc_type": poc_type,
                        "max_num_ref_frames": sps["max_num_ref_frames"],
                        "n_scaling_lists": sum(
                            1
                            for x in sps.get("seq_scaling_lists", [])
                            if x is not None
                        ),
                        "n_nals": len(recs),
                        "entropy_cabac": pps["entropy_coding_mode_flag"],
                        "slice_qp": 26
                        + pps["pic_init_qp_minus26"]
                        + idr_hdr["slice_qp_delta"],
                        "fps_num": vui["time_scale"] if has_t else 0,
                        "fps_den": vui["num_units_in_tick"] if has_t else 0,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "profile_idc", "level_idc",
                    "chroma_format_idc", "separate_colour_planes",
                    "width", "height", "frame_mbs_only", "poc_type",
                    "max_num_ref_frames", "n_scaling_lists", "n_nals",
                    "entropy_cabac", "slice_qp", "fps_num", "fps_den",
                ],
            )

    d = widen_table(spark, sf_dir, "documents", "doc_id", "text")
    return d.mapInPandas(
        run,
        "media_id long, profile_idc long, level_idc long, "
        "chroma_format_idc long, separate_colour_planes long, "
        "width long, height long, frame_mbs_only long, poc_type long, "
        "max_num_ref_frames long, n_scaling_lists long, n_nals long, "
        "entropy_cabac long, slice_qp long, fps_num long, fps_den long",
    )


@register(
    "temporal_cohort_retention",
    """
    WITH firsts AS (
      SELECT user_id, date_trunc('week', min(ts))::DATE AS cohort_week
      FROM events GROUP BY user_id),
    joined AS (
      SELECT f.cohort_week,
             ((date_trunc('week', e.ts)::DATE - f.cohort_week) // 7)
               ::BIGINT AS weeks_since,
             e.user_id, e.event_id
      FROM events e JOIN firsts f ON e.user_id = f.user_id)
    SELECT cohort_week, weeks_since,
           count(DISTINCT user_id)::BIGINT AS n_users,
           count(*)::BIGINT AS n_events
    FROM joined GROUP BY cohort_week, weeks_since
    """,
    tags=["temporal", "cohort", "retention", "analytics"],
    plan={"BroadcastHashJoin": (1, None), "Exchange hashpartitioning": (0, 3)},
)
def temporal_cohort_retention(spark, sf_dir):
    """Cohort retention matrix — the standard product-analytics rollup:
    each user joins the cohort of their first active week
    (date_trunc('week'), Monday-anchored in both engines), every later
    event lands in (cohort_week, weeks_since) with weeks_since an exact
    integer division of a day difference that is a multiple of 7 by
    construction. Plan shape (audited via executedPlan): the
    first-touch side is one map-side-combined min(ts) exchange and then
    BROADCASTS into the event scan (it is user-cardinality, orders of
    magnitude below event-cardinality), and the count-distinct rollup
    is Spark's standard two-level aggregate — (matrix key, user) pre-agg
    exchange, then the matrix-key exchange. Three hash exchanges, no
    window sort, no per-user state. At 100 TB the same plan holds as
    long as the user dimension fits the broadcast threshold; past that
    AQE falls back to a shuffle join keyed on user_id and the exchange
    count rises by exactly one."""
    from pyspark.sql import functions as F

    e = t(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    j = e.join(firsts, "user_id")
    return (
        j.select(
            "cohort_week",
            (
                F.datediff(
                    F.date_trunc("week", F.col("ts")).cast("date"),
                    F.col("cohort_week"),
                )
                / 7
            )
            .cast("long")
            .alias("weeks_since"),
            "user_id",
        )
        .groupBy("cohort_week", "weeks_since")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
        )
    )


@register(
    "a14_regression_aggregates",
    """
    WITH pts AS (
      SELECT l_suppkey % 12 AS grp,
             date_diff('day', DATE '1992-01-01', l_shipdate)::DOUBLE AS x,
             (round(l_extendedprice * 100, 0))::BIGINT::DOUBLE AS y
      FROM lineitem)
    SELECT grp::BIGINT AS grp,
           regr_count(y, x)::BIGINT AS n,
           round(1000000.0 * regr_slope(y, x))::BIGINT AS slope_micro,
           round(1000.0 * regr_intercept(y, x))::BIGINT AS intercept_milli,
           round(1000000.0 * regr_r2(y, x))::BIGINT AS r2_micro,
           round(1000.0 * regr_avgx(y, x))::BIGINT AS avgx_milli,
           round(1000.0 * regr_avgy(y, x))::BIGINT AS avgy_milli
    FROM pts GROUP BY grp
    """,
    tags=["A3", "regression", "ansi-sql", "aggregates"],
    plan={"Exchange hashpartitioning": (1, 1), "partial": (1, None)},
)
def a14_regression_aggregates(spark, sf_dir):
    """ANSI SQL:2003 linear-regression aggregates (regr_slope /
    regr_intercept / regr_r2 / regr_count / regr_avgx / regr_avgy) —
    the built-in JVM-side implementations, not a UDF. Inputs are
    pre-scaled to exact integers (day numbers, price cents) so the
    double moments both engines accumulate are sums of exactly-
    representable values, and the micro/milli-unit rounding is
    engine-independent; one map-side-combined shuffle on a 12-key
    group. This is the cheap screening pass next to the robust
    Theil-Sen entry (a13): at 100 TB regr_* is one pass with
    constant per-group state while Theil-Sen's pair space needs
    sampling."""
    from pyspark.sql import functions as F

    pts = t(spark, sf_dir, "lineitem").select(
        (F.col("l_suppkey") % 12).alias("grp"),
        F.datediff(
            F.col("l_shipdate").cast("date"), F.lit("1992-01-01").cast("date")
        )
        .cast("double")
        .alias("x"),
        F.round(F.col("l_extendedprice") * 100, 0)
        .cast("long")
        .cast("double")
        .alias("y"),
    )
    return pts.groupBy("grp").agg(
        F.expr("regr_count(y, x)").cast("long").alias("n"),
        F.round(F.expr("1000000.0 * regr_slope(y, x)"), 0)
        .cast("long")
        .alias("slope_micro"),
        F.round(F.expr("1000.0 * regr_intercept(y, x)"), 0)
        .cast("long")
        .alias("intercept_milli"),
        F.round(F.expr("1000000.0 * regr_r2(y, x)"), 0)
        .cast("long")
        .alias("r2_micro"),
        F.round(F.expr("1000.0 * regr_avgx(y, x)"), 0)
        .cast("long")
        .alias("avgx_milli"),
        F.round(F.expr("1000.0 * regr_avgy(y, x)"), 0)
        .cast("long")
        .alias("avgy_milli"),
    )


@register(
    "temporal_ohlc_downsample",
    f"""
    WITH o AS (
      SELECT date_trunc('month', o_orderdate)::DATE AS bucket,
             {CENTS} AS cents,
             date_diff('day', DATE '1992-01-01', o_orderdate)::BIGINT
               * 10000000 + o_orderkey AS seq
      FROM orders)
    SELECT bucket,
           arg_min(cents, seq)::BIGINT AS open_cents,
           arg_max(cents, seq)::BIGINT AS close_cents,
           max(cents)::BIGINT AS high_cents,
           min(cents)::BIGINT AS low_cents,
           sum(cents)::BIGINT AS volume_cents,
           count(*)::BIGINT AS n_orders
    FROM o GROUP BY bucket
    """,
    tags=["temporal", "downsample", "ohlc", "min_by"],
    plan={"Exchange hashpartitioning": (1, 1), "partial": (1, None)},
)
def temporal_ohlc_downsample(spark, sf_dir):
    """OHLC bar downsampling — the time-series rollup pattern: per
    month bucket, open/close via min_by/max_by over a strictly-unique
    sequence key (day number * 1e7 + order key, unique because order
    keys sit far below 1e7 at catalog scales — at larger scales widen
    the multiplier or use a struct ordering key), high/low/volume as
    plain aggregates. Everything is one map-side-combined exchange —
    min_by keeps (value, key) pairs as constant-size partial state, so
    downsampling 100 TB of ticks into bars is a single pass with no
    window sort and no per-bucket data movement."""
    from pyspark.sql import functions as F

    o = t(spark, sf_dir, "orders").select(
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("bucket"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        (
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit("1992-01-01").cast("date"),
            ).cast("long")
            * 10000000
            + F.col("o_orderkey")
        ).alias("seq"),
    )
    return o.groupBy("bucket").agg(
        F.min_by("cents", "seq").alias("open_cents"),
        F.max_by("cents", "seq").alias("close_cents"),
        F.max("cents").alias("high_cents"),
        F.min("cents").alias("low_cents"),
        F.sum("cents").alias("volume_cents"),
        F.count("*").alias("n_orders"),
    )


@register(
    "text_gzip_inflate",
    """
    WITH p AS (
      SELECT doc_id,
             repeat(coalesce(text, '') || ' ', 1 + doc_id % 3) AS payload
      FROM documents)
    SELECT doc_id AS media_id,
           CASE doc_id % 2 WHEN 0 THEN 'zlib' ELSE 'gzip' END AS container,
           ['dynamic', 'fixed', 'stored'][(doc_id % 3) + 1] AS comp_mode,
           strlen(payload)::BIGINT AS raw_len,
           md5(payload) AS payload_md5,
           (CASE doc_id % 2 WHEN 1 THEN doc_id ELSE 0 END)::BIGINT AS mtime,
           1::BIGINT AS n_members
    FROM p
    """,
    tags=["text", "decompress", "gzip", "zlib", "deflate"],
    plan=SCAN_ONLY_PLAN,
)
def text_gzip_inflate(spark, sf_dir):
    """gzip/zlib/DEFLATE decompression in the scan pass — the
    from-spec inflater (multimodal/inflate.py, RFC 1950/1951/1952)
    applied the way a 100 TB corpus pipeline ingests compressed text:
    per row inside one Arrow mapInPandas batch, zero shuffles.
    Fixtures are compressed by CPython's zlib — an INDEPENDENT
    reference implementation — cycling all three DEFLATE block types
    (level 9 dynamic-Huffman / Z_FIXED fixed-Huffman / level 0 stored)
    and both containers (zlib with Adler-32, gzip with FNAME + mtime +
    CRC-32). OUR decoder reproduces the original bytes (md5 of the
    decoded payload is an oracle column, so byte-exactness is pinned
    by the hash gate, not just in-batch asserts); block-type
    guarantees (stored streams contain only stored blocks, Z_FIXED
    streams no dynamic blocks) and the corruption boundaries (flipped
    Adler byte, preset-dictionary FDICT) are asserted once per
    batch."""
    import hashlib
    import zlib as _zlib

    from cam_etl_spark.multimodal.inflate import (
        gzip_decompress,
        zlib_decompress,
    )

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            did_boundaries = False
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(did)
                payload = ((text or "") + " ") * (1 + d % 3)
                raw = payload.encode("utf-8")
                mode = ["dynamic", "fixed", "stored"][d % 3]
                if mode == "dynamic":
                    co = _zlib.compressobj(9, _zlib.DEFLATED, -15)
                elif mode == "fixed":
                    co = _zlib.compressobj(
                        6, _zlib.DEFLATED, -15, 8, _zlib.Z_FIXED
                    )
                else:
                    co = _zlib.compressobj(0, _zlib.DEFLATED, -15)
                body = co.compress(raw) + co.flush()
                if d % 2 == 0:
                    # zlib container: CMF/FLG with FCHECK, Adler trailer
                    cmf = 0x78
                    flg = 31 - (cmf << 8) % 31
                    stream = (
                        bytes([cmf, flg])
                        + body
                        + _zlib.adler32(raw).to_bytes(4, "big")
                    )
                    out, meta = zlib_decompress(stream)
                    blocks = meta["blocks"]
                    mtime = 0
                else:
                    name = f"doc{d}.txt".encode() + b"\x00"
                    hdr = (
                        b"\x1f\x8b\x08\x08"
                        + d.to_bytes(4, "little")
                        + b"\x00\xff"
                        + name
                    )
                    stream = (
                        hdr
                        + body
                        + _zlib.crc32(raw).to_bytes(4, "little")
                        + (len(raw) % (1 << 32)).to_bytes(4, "little")
                    )
                    out, meta = gzip_decompress(stream)
                    m = meta["members"][0]
                    assert m["name"] == f"doc{d}.txt" and m["mtime"] == d
                    blocks = m["blocks"]
                    mtime = m["mtime"]
                assert out == raw, d
                if mode == "stored":
                    assert blocks["fixed"] == 0 and blocks["dynamic"] == 0
                elif mode == "fixed":
                    assert blocks["dynamic"] == 0
                if not did_boundaries:
                    did_boundaries = True
                    z = _zlib.compress(b"corrupt me corrupt me", 9)
                    bad = bytearray(z)
                    bad[-1] ^= 0xFF
                    try:
                        zlib_decompress(bytes(bad))
                        raise AssertionError("corrupt Adler accepted")
                    except ValueError:
                        pass
                    cod = _zlib.compressobj(
                        9, _zlib.DEFLATED, 15, 8, 0, b"presetdict"
                    )
                    zd = cod.compress(b"presetdict data") + cod.flush()
                    try:
                        zlib_decompress(zd)
                        raise AssertionError("FDICT accepted")
                    except NotImplementedError:
                        pass
                rows.append(
                    {
                        "media_id": d,
                        "container": "zlib" if d % 2 == 0 else "gzip",
                        "comp_mode": mode,
                        "raw_len": len(raw),
                        "payload_md5": hashlib.md5(raw).hexdigest(),
                        "mtime": mtime,
                        "n_members": 1,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "container", "comp_mode", "raw_len",
                    "payload_md5", "mtime", "n_members",
                ],
            )

    d = widen_table(spark, sf_dir, "documents", "doc_id", "text")
    return d.mapInPandas(
        run,
        "media_id long, container string, comp_mode string, raw_len long, "
        "payload_md5 string, mtime long, n_members long",
    )


@register(
    "temporal_sessionize",
    """
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                       <= 1800 * 1000000
                  THEN 0 ELSE 1 END AS new_session
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    numbered AS (
      SELECT user_id, ts, event_id,
             sum(new_session) OVER
               (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS session_no
      FROM marked)
    SELECT user_id, session_no::BIGINT AS session_no,
           count(*)::BIGINT AS n_events,
           ((max(epoch_us(ts)) - min(epoch_us(ts))) // 1000000)
             ::BIGINT AS duration_sec,
           min(event_id)::BIGINT AS first_event
    FROM numbered GROUP BY user_id, session_no
    """,
    tags=["temporal", "sessionize", "window", "analytics"],
    plan={"Exchange hashpartitioning": (1, 1)},
)
def temporal_sessionize(spark, sf_dir):
    """Batch sessionization — the gap rule (new session when >30 min
    since the previous event) as the lag-flag + running-sum window
    idiom, the batch twin of stream_session_window's state-based
    sessions. Ordering is (ts, event_id) so ties are deterministic in
    both engines, and the gap compares EXACT microsecond epochs
    (unix_micros / epoch_us) — truncated-seconds comparison would
    diverge from the interval rule within 1 s of the boundary. One
    shuffle: both windows and the final rollup share the user_id hash
    partitioning (the rollup key extends it), and per-user state is a
    sort, not a buffer — sessionizing 100 TB of events is one exchange
    plus a per-key sort that spills cleanly."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", F.unix_micros("ts").alias("us")
    )
    marked = e.withColumn(
        "new_session",
        F.when(
            F.col("us") - F.lag("us").over(w) <= 1800 * 1000000, F.lit(0)
        ).otherwise(F.lit(1)),
    )
    numbered = marked.withColumn(
        "session_no",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return numbered.groupBy("user_id", "session_no").agg(
        F.count("*").alias("n_events"),
        ((F.max("us") - F.min("us")) / 1000000)
        .cast("long")
        .alias("duration_sec"),
        F.min("event_id").alias("first_event"),
    )


@register(
    "s17_parquet_footer_scan",
    """
    WITH flat AS (
      SELECT * FROM (VALUES
        ('region', 'r_regionkey'), ('region', 'r_name'),
        ('nation', 'n_nationkey'), ('nation', 'n_name'),
        ('nation', 'n_regionkey'),
        ('customer', 'c_custkey'), ('customer', 'c_name'),
        ('customer', 'c_nationkey'), ('customer', 'c_acctbal'),
        ('customer', 'c_mktsegment'),
        ('supplier', 's_suppkey'), ('supplier', 's_name'),
        ('supplier', 's_nationkey'), ('supplier', 's_acctbal'),
        ('part', 'p_partkey'), ('part', 'p_name'), ('part', 'p_brand'),
        ('part', 'p_type'), ('part', 'p_size'), ('part', 'p_retailprice'),
        ('orders', 'o_orderkey'), ('orders', 'o_custkey'),
        ('orders', 'o_orderstatus'), ('orders', 'o_totalprice'),
        ('orders', 'o_orderdate'), ('orders', 'o_orderpriority'),
        ('lineitem', 'l_orderkey'), ('lineitem', 'l_partkey'),
        ('lineitem', 'l_suppkey'), ('lineitem', 'l_linenumber'),
        ('lineitem', 'l_quantity'), ('lineitem', 'l_extendedprice'),
        ('lineitem', 'l_discount'), ('lineitem', 'l_tax'),
        ('lineitem', 'l_returnflag'), ('lineitem', 'l_linestatus'),
        ('lineitem', 'l_shipdate'),
        ('events', 'event_id'), ('events', 'ts'), ('events', 'user_id'),
        ('events', 'event_type'), ('events', 'value'), ('events', 'props'),
        ('documents', 'doc_id'), ('documents', 'text'),
        ('documents', 'lang'), ('documents', 'source'),
        ('documents', 'n_chars'),
        ('embeddings', 'vec_id'), ('embeddings', 'label')
      ) v(tbl, col_path)),
    counts AS (
      SELECT 'region' AS tbl, count(*) AS n FROM region UNION ALL
      SELECT 'nation', count(*) FROM nation UNION ALL
      SELECT 'customer', count(*) FROM customer UNION ALL
      SELECT 'supplier', count(*) FROM supplier UNION ALL
      SELECT 'part', count(*) FROM part UNION ALL
      SELECT 'orders', count(*) FROM orders UNION ALL
      SELECT 'lineitem', count(*) FROM lineitem UNION ALL
      SELECT 'events', count(*) FROM events UNION ALL
      SELECT 'documents', count(*) FROM documents UNION ALL
      SELECT 'embeddings', count(*) FROM embeddings)
    SELECT f.tbl, f.col_path, c.n::BIGINT AS n_values
    FROM flat f JOIN counts c ON f.tbl = c.tbl
    UNION ALL
    SELECT 'embeddings', 'embedding.list.element',
           sum(len(embedding))::BIGINT
    FROM embeddings
    """,
    tags=["S1", "parquet", "footer", "thrift", "metadata"],
    plan=SCAN_ONLY_PLAN,
)
def s17_parquet_footer_scan(spark, sf_dir):
    """Parquet footer scan — table maintenance as a distributed
    operator: one task per file parses the trailing thrift-compact
    FileMetaData with the from-spec reader (sources/parquet_meta.py)
    and emits per-column value counts summed over row groups. In the
    same batch, EVERY parsed field (paths, physical types, codecs,
    encodings, page offsets, chunk sizes, per-row-group row counts,
    created_by) is cross-checked against DuckDB's independent parquet
    reader (parquet_metadata / parquet_file_metadata) — the same
    independent-reference verification class as the zlib-checked
    inflater — and the encrypted-footer (PARE) and truncated-magic
    boundaries are asserted to reject loudly. The oracle replays the
    value counts from the table views themselves (count(*) per flat
    column; sum(len(embedding)) for the nested leaf — definition
    levels make a leaf's num_values the element count, not the row
    count). At 100 TB this shape is the nightly lake audit: footers
    are KBs, so a million-file inventory is one mapInPandas over the
    listing, no data pages touched."""
    from pyspark.sql import functions as F

    from cam_etl_spark.sources.parquet_meta import parse_footer

    tables = [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ]

    def run(batches):
        import duckdb
        import pandas as pd

        con = duckdb.connect()
        for pdf in batches:
            rows = []
            for tbl in pdf["tbl"]:
                path = f"{sf_dir}/{tbl}.parquet"
                data = open(path, "rb").read()
                m = parse_footer(data)
                fmeta = con.execute(
                    "SELECT num_rows, num_row_groups, created_by FROM "
                    "parquet_file_metadata(?)",
                    [path],
                ).fetchone()
                assert (
                    m["num_rows"], len(m["row_groups"]), m["created_by"],
                ) == fmeta, tbl
                ref = con.execute(
                    "SELECT row_group_id, column_id, path_in_schema, "
                    "type, num_values, total_compressed_size, "
                    "total_uncompressed_size, compression, encodings, "
                    "data_page_offset, dictionary_page_offset, "
                    "row_group_num_rows FROM parquet_metadata(?) "
                    "ORDER BY row_group_id, column_id",
                    [path],
                ).fetchall()
                ours = [
                    (gi, ci, c)
                    for gi, rg in enumerate(m["row_groups"])
                    for ci, c in enumerate(rg["columns"])
                ]
                assert len(ref) == len(ours), tbl
                per_col: dict[str, int] = {}
                for (gi, ci, c), d in zip(ours, ref):
                    assert (gi, ci) == (d[0], d[1])
                    assert c["path"] == d[2].replace(", ", "."), tbl
                    assert c["type"] == d[3] and c["num_values"] == d[4]
                    assert c["total_compressed_size"] == d[5]
                    assert c["total_uncompressed_size"] == d[6]
                    assert c["codec"] == d[7]
                    assert sorted(d[8].split(", ")) == c["encodings"]
                    assert c["data_page_offset"] == d[9]
                    assert c["dictionary_page_offset"] == d[10]
                    assert m["row_groups"][gi]["num_rows"] == d[11]
                    per_col[c["path"]] = (
                        per_col.get(c["path"], 0) + c["num_values"]
                    )
                # loud boundaries
                try:
                    parse_footer(data[:-4] + b"PARE")
                    raise AssertionError("encrypted footer accepted")
                except NotImplementedError:
                    pass
                try:
                    parse_footer(data[:-2])
                    raise AssertionError("bad magic accepted")
                except ValueError:
                    pass
                for path_, n in per_col.items():
                    rows.append(
                        {"tbl": tbl, "col_path": path_, "n_values": n}
                    )
            yield pd.DataFrame(
                rows, columns=["tbl", "col_path", "n_values"]
            )

    files = task_per_item(spark, [(t,) for t in tables], "tbl string")
    return files.mapInPandas(
        run, "tbl string, col_path string, n_values long"
    )


@register(
    "s18_parquet_page_decode",
    f"""
    SELECT 'documents' AS tbl, 'doc_id' AS col_path,
           count(*)::BIGINT AS n_values,
           (count(*) - count(doc_id))::BIGINT AS n_nulls,
           sum(doc_id)::BIGINT AS checksum FROM documents
    UNION ALL SELECT 'documents', 'text', count(*), count(*) - count(text),
           sum(strlen(text))::BIGINT FROM documents
    UNION ALL SELECT 'documents', 'lang', count(*), count(*) - count(lang),
           sum(strlen(lang))::BIGINT FROM documents
    UNION ALL SELECT 'documents', 'source', count(*),
           count(*) - count(source), sum(strlen(source))::BIGINT
    FROM documents
    UNION ALL SELECT 'documents', 'n_chars', count(*),
           count(*) - count(n_chars), sum(n_chars)::BIGINT FROM documents
    UNION ALL SELECT 'orders', 'o_orderkey', count(*),
           count(*) - count(o_orderkey), sum(o_orderkey)::BIGINT FROM orders
    UNION ALL SELECT 'orders', 'o_custkey', count(*),
           count(*) - count(o_custkey), sum(o_custkey)::BIGINT FROM orders
    UNION ALL SELECT 'orders', 'o_orderstatus', count(*),
           count(*) - count(o_orderstatus),
           sum(strlen(o_orderstatus))::BIGINT FROM orders
    UNION ALL SELECT 'orders', 'o_totalprice', count(*),
           count(*) - count(o_totalprice),
           sum({CENTS})::BIGINT FROM orders
    UNION ALL SELECT 'orders', 'o_orderdate', count(*),
           count(*) - count(o_orderdate),
           sum(epoch_us(o_orderdate) % 1000000000)::BIGINT FROM orders
    UNION ALL SELECT 'orders', 'o_orderpriority', count(*),
           count(*) - count(o_orderpriority),
           sum(strlen(o_orderpriority))::BIGINT FROM orders
    UNION ALL SELECT 'events', 'event_id', count(*),
           count(*) - count(event_id), sum(event_id)::BIGINT FROM events
    UNION ALL SELECT 'events', 'ts', count(*), count(*) - count(ts),
           sum(epoch_us(ts) % 1000000000)::BIGINT FROM events
    UNION ALL SELECT 'events', 'user_id', count(*),
           count(*) - count(user_id), sum(user_id)::BIGINT FROM events
    UNION ALL SELECT 'events', 'event_type', count(*),
           count(*) - count(event_type),
           sum(strlen(event_type))::BIGINT FROM events
    UNION ALL SELECT 'events', 'value', count(*), count(*) - count(value),
           sum((round(value * 100, 0))::BIGINT)::BIGINT FROM events
    UNION ALL SELECT 'events', 'props', count(*), count(*) - count(props),
           sum(strlen(props))::BIGINT FROM events
    UNION ALL SELECT 'embeddings', 'vec_id', count(*),
           count(*) - count(vec_id), sum(vec_id)::BIGINT FROM embeddings
    UNION ALL SELECT 'embeddings', 'label', count(*),
           count(*) - count(label), sum(label)::BIGINT FROM embeddings
    UNION ALL SELECT 'embeddings', 'embedding.list.element',
           sum(len(embedding))::BIGINT, count(*) - count(embedding),
           sum(list_sum(list_transform(
                 embedding, e -> floor(e::DOUBLE * 1000))))::BIGINT
    FROM embeddings
    """,
    tags=["S1", "parquet", "pages", "snappy", "decode"],
    plan=SCAN_ONLY_PLAN,
)
def s18_parquet_page_decode(spark, sf_dir):
    """Parquet DATA PAGE decode from spec (sources/parquet_pages.py) —
    the full read path below the footer: thrift page headers, Snappy
    decompression (from-spec varint+tag format), RLE/bit-packed
    definition levels, PLAIN and dictionary encodings. One task per
    (table, column): the kernel decodes EVERY value of the chunk,
    compares the complete value list against DuckDB reading the same
    file (independent reference — byte-exact for strings, bit-exact
    for ints/doubles/timestamp micros), then emits typed checksums
    the oracle replays from the table views (int sums, string byte
    lengths, price cents, epoch-micro residues; the embeddings LIST
    leaf reassembles through real Dremel rep/def levels and checksums
    floor(element*1000) against list_transform on the view). Data
    pages v1 AND v2 decode (pyarrow-written v2 fixtures in tests),
    codecs SNAPPY / GZIP / LZ4_RAW / legacy Hadoop-framed LZ4 / ZSTD
    (the engine's own RFC-8878 decoder) / UNCOMPRESSED; encodings
    PLAIN / dictionary / RLE-boolean / all three DELTA_* /
    BYTE_STREAM_SPLIT; boundaries loud: nesting deeper than one list
    and BROTLI raise NotImplementedError. At 100 TB this shape
    is a lake-integrity audit (decode-and-checksum every chunk of a
    million files, one task each, no Spark scan involved) — and the
    same kernel is what a custom DataSource needs to serve row
    groups selectively."""
    from pyspark.sql import functions as F

    from cam_etl_spark.sources.parquet_meta import leaf_levels, parse_footer
    from cam_etl_spark.sources.parquet_pages import decode_column_chunk

    plan = [
        ("documents", ["doc_id", "text", "lang", "source", "n_chars"]),
        ("orders", ["o_orderkey", "o_custkey", "o_orderstatus",
                    "o_totalprice", "o_orderdate", "o_orderpriority"]),
        ("events", ["event_id", "ts", "user_id", "event_type", "value",
                    "props"]),
        ("embeddings", ["vec_id", "label", "embedding.list.element"]),
    ]
    pairs = [(t_, c) for t_, cs in plan for c in cs]

    def run(batches):
        import duckdb
        import pandas as pd

        con = duckdb.connect()
        footers: dict[str, tuple[bytes, dict]] = {}
        for pdf in batches:
            rows = []
            for tbl, col in zip(pdf["tbl"], pdf["col_path"]):
                if tbl not in footers:
                    data = open(f"{sf_dir}/{tbl}.parquet", "rb").read()
                    footers[tbl] = (data, parse_footer(data))
                data, m = footers[tbl]
                md, mr = leaf_levels(m["schema"])[col]
                vals: list = []
                for rg in m["row_groups"]:
                    chunk = next(
                        c for c in rg["columns"] if c["path"] == col
                    )
                    vals += decode_column_chunk(
                        data, chunk, rg["num_rows"],
                        max_def=md, max_rep=mr,
                    )
                refcol = col.split(".")[0]
                ref = [
                    r[0]
                    for r in con.execute(
                        f'SELECT "{refcol}" FROM read_parquet(?)',
                        [f"{sf_dir}/{tbl}.parquet"],
                    ).fetchall()
                ]
                assert len(vals) == len(ref), (tbl, col)
                if mr:  # single-level LIST leaf (Dremel reassembly)
                    import math

                    n_vals = n_nulls = checksum = 0
                    for lst, rl in zip(vals, ref):
                        if lst is None:
                            assert rl is None, (tbl, col)
                            n_nulls += 1
                            continue
                        assert len(lst) == len(rl), (tbl, col)
                        for v, rv in zip(lst, rl):
                            assert v == rv, (tbl, col)
                            n_vals += 1
                            checksum += int(math.floor(v * 1000))
                    rows.append(
                        {
                            "tbl": tbl,
                            "col_path": col,
                            "n_values": n_vals,
                            "n_nulls": n_nulls,
                            "checksum": checksum,
                        }
                    )
                    continue
                n_nulls = checksum = 0
                kind = None
                for v, rv in zip(vals, ref):
                    if v is None:
                        assert rv is None, (tbl, col)
                        n_nulls += 1
                        continue
                    if isinstance(v, bytes):
                        kind = "str"
                        assert v.decode("utf-8") == rv, (tbl, col)
                        checksum += len(v)
                    elif isinstance(rv, float):
                        kind = "cents"
                        assert v == rv, (tbl, col)
                        # HALF_UP like F.round / DuckDB round
                        import decimal

                        checksum += int(
                            decimal.Decimal(repr(v * 100)).quantize(
                                0, rounding=decimal.ROUND_HALF_UP
                            )
                        )
                    elif hasattr(rv, "timestamp"):  # datetime vs int64 us
                        kind = "ts"
                        import calendar

                        us = (
                            calendar.timegm(rv.timetuple()) * 1_000_000
                            + rv.microsecond
                        )
                        assert v == us, (tbl, col, v, us)
                        checksum += v % 1_000_000_000
                    else:
                        kind = "int"
                        assert v == rv, (tbl, col)
                        checksum += v
                assert kind is not None
                rows.append(
                    {
                        "tbl": tbl,
                        "col_path": col,
                        "n_values": len(vals),
                        "n_nulls": n_nulls,
                        "checksum": checksum,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=["tbl", "col_path", "n_values", "n_nulls",
                         "checksum"],
            )

    files = task_per_item(spark, pairs, "tbl string, col_path string")
    return files.mapInPandas(
        run,
        "tbl string, col_path string, n_values long, n_nulls long, "
        "checksum long",
    )


@register(
    "s19_parquet_write_roundtrip",
    ORDER_BUCKET_STATS,
    tags=["S7", "parquet", "writer", "thrift", "roundtrip"],
)
def s19_parquet_write_roundtrip(spark, sf_dir):
    """Parquet WRITE from spec (sources/parquet_write.py) — the format
    layer end-to-end: each of 8 order buckets is written to a COMPLETE
    parquet file by the engine's own thrift-compact encoder (PLAIN
    pages; buckets alternate all-literal Snappy and UNCOMPRESSED),
    then read back in the same task by DuckDB (independent reference
    reader) AND the engine's own from-spec page decoder, asserted
    row-exact against the input before emitting per-bucket aggregates
    the oracle replays from the view. One applyInPandas group pass —
    the write is task-local and parallel, the only exchange is the
    bucket grouping, exactly how a distributed sink fans out at
    100 TB. Scope: flat INT64/DOUBLE/BYTE_ARRAY columns, required or
    nullable (nulls as v1 RLE definition levels, verified by all
    three readers in tests/test_parquet_pages.py; nesting raises
    NotImplementedError — this proves the format layer, Spark's
    native sink remains the production writer)."""
    from pyspark.sql import functions as F

    from cam_etl_spark.sources.parquet_meta import leaf_levels, parse_footer
    from cam_etl_spark.sources.parquet_pages import decode_column_chunk
    from cam_etl_spark.sources.parquet_write import write_parquet

    def run(key, pdf):
        import os
        import tempfile

        import duckdb
        import pandas as pd

        bucket = int(key[0])
        pdf = pdf.sort_values("o_orderkey").reset_index(drop=True)
        keys = [int(v) for v in pdf["o_orderkey"]]
        prices = [float(v) for v in pdf["o_totalprice"]]
        prios = [str(v) for v in pdf["o_orderpriority"]]
        codec = "SNAPPY" if bucket % 2 == 0 else "UNCOMPRESSED"
        data = write_parquet(
            [
                ("o_orderkey", "INT64", keys),
                ("o_totalprice", "DOUBLE", prices),
                ("o_orderpriority", "BYTE_ARRAY", prios),
            ],
            codec=codec,
        )
        fd, path = tempfile.mkstemp(suffix=".parquet")
        try:
            os.write(fd, data)
            os.close(fd)
            con = duckdb.connect()
            back = con.execute(
                "SELECT o_orderkey, o_totalprice, o_orderpriority "
                "FROM read_parquet(?) ORDER BY o_orderkey",
                [path],
            ).fetchall()
            assert [r[0] for r in back] == keys, bucket
            assert [r[1] for r in back] == prices, bucket
            assert [r[2] for r in back] == prios, bucket
        finally:
            os.unlink(path)
        m = parse_footer(data)
        lv = leaf_levels(m["schema"])
        chunkmap = {
            c["path"]: c for c in m["row_groups"][0]["columns"]
        }
        for col, want in (
            ("o_orderkey", keys),
            ("o_totalprice", prices),
        ):
            md, mr = lv[col]
            got = decode_column_chunk(
                data, chunkmap[col], len(keys), max_def=md, max_rep=mr
            )
            assert got == want, (bucket, col)
        md, mr = lv["o_orderpriority"]
        got = decode_column_chunk(
            data, chunkmap["o_orderpriority"], len(keys),
            max_def=md, max_rep=mr,
        )
        assert [g.decode("utf-8") for g in got] == prios, bucket
        import decimal

        cents = sum(
            int(
                decimal.Decimal(repr(p * 100)).quantize(
                    0, rounding=decimal.ROUND_HALF_UP
                )
            )
            for p in prices
        )
        return pd.DataFrame(
            [
                {
                    "bucket": bucket,
                    "n_rows": len(keys),
                    "sum_key": sum(keys),
                    "sum_cents": cents,
                    "sum_prio_len": sum(
                        len(s.encode("utf-8")) for s in prios
                    ),
                }
            ]
        )

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority",
        (F.col("o_orderkey") % 8).alias("bucket"),
    )
    return o.groupBy("bucket").applyInPandas(
        run,
        "bucket long, n_rows long, sum_key long, sum_cents long, "
        "sum_prio_len long",
    )


@register(
    "s20_xml_roundtrip",
    f"""
    SELECT o_orderstatus AS status,
           count(*)::BIGINT AS n_orders,
           sum(o_orderkey)::BIGINT AS sum_key,
           sum({CENTS})::BIGINT
             AS sum_cents,
           sum(strlen(o_orderpriority))::BIGINT AS sum_prio_len
    FROM orders GROUP BY status
    """,
    tags=["S3", "xml", "source", "roundtrip"],
)
def s20_xml_roundtrip(spark, sf_dir):
    """XML round trip — Spark 4's NATIVE XML source (the spark-xml
    package folded into core), BOTH directions: orders are written
    distributed by the native XML writer (one rooted document per
    task; monetary values as integer cents so no float-text round-trip
    ambiguity), read back through format('xml') with an EXPLICIT
    schema (inference is a second pass over the data — never in a
    pipeline's hot path), and aggregated; the oracle replays from the
    original view, so any escaping/parsing defect breaks the hash.
    Scale shape: the reader parses whole rooted documents, so
    parallelism is file-count driven — emit many task-sized files,
    never one giant document (a single-root XML document is
    unsplittable; bare un-rooted fragment streams parse only their
    first element — measured, hence the native writer)."""
    from pyspark.sql import functions as F

    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("key"),
        F.round(F.col("o_totalprice") * 100, 0)
        .cast("long")
        .alias("cents"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("prio"),
    )
    out_dir = fixture_dir(sf_dir, "cam_etl_xml_rt_fixture")
    (
        o.write.mode("overwrite")
        .format("xml")
        .option("rowTag", "order")
        .option("rootTag", "orders")
        .save(out_dir)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "order")
        .schema("key long, cents long, status string, prio string")
        .load(out_dir)
    )
    return back.groupBy(F.col("status")).agg(
        F.count("*").alias("n_orders"),
        F.sum("key").alias("sum_key"),
        F.sum("cents").alias("sum_cents"),
        F.sum(F.octet_length("prio")).alias("sum_prio_len"),
    )


@register(
    "multimodal_g711_decode",
    f"""
    WITH {md5_digest()},
    cfg AS (
      SELECT doc_id, d, 64 + doc_id % 64 AS n,
             CASE doc_id % 2 WHEN 0 THEN 'ulaw' ELSE 'alaw' END AS law
      FROM dg),
    codes AS (
      SELECT doc_id, law,
             (d[(j % 16) + 1] * 31 + j * 17 + doc_id) % 256 AS code
      FROM cfg, range(128) t(j) WHERE j < n),
    pcm AS (
      SELECT doc_id, law,
             CASE WHEN law = 'ulaw' THEN
               (CASE WHEN (255 - code) >= 128 THEN -1 ELSE 1 END) *
               ((((((255 - code) % 16) * 8 + 132)
                  * (1::BIGINT << (((255 - code) // 16) % 8))) - 132))
             ELSE
               (CASE WHEN xor(code, 85) >= 128 THEN 1 ELSE -1 END) *
               (CASE WHEN ((xor(code, 85) // 16) % 8) = 0
                     THEN (xor(code, 85) % 16) * 16 + 8
                     ELSE ((xor(code, 85) % 16) * 16 + 264)
                          * (1::BIGINT
                             << (((xor(code, 85) // 16) % 8) - 1)) END)
             END AS v
      FROM codes)
    SELECT doc_id AS media_id, law,
           count(*)::BIGINT AS n_samples,
           sum(v)::BIGINT AS sum_pcm,
           min(v)::BIGINT AS min_pcm,
           max(v)::BIGINT AS max_pcm,
           sum(CASE WHEN v = 0 THEN 1 ELSE 0 END)::BIGINT AS n_zero
    FROM pcm GROUP BY doc_id, law
    """,
    tags=["multimodal", "decode", "g711", "audio", "wav"],
)
def multimodal_g711_decode(spark, sf_dir):
    """G.711 companded audio (µ-law / A-law) in WAV carriage — the
    telephony-audio member of the codec family (multimodal/g711.py):
    each doc synthesizes a WAV whose fmt code is 7 (µ-law, even docs)
    or 6 (A-law, odd docs) around digest-derived code bytes, expands
    it with the CLOSED-FORM G.711 decoder (3-bit exponent + 4-bit
    mantissa segments, no tables), and aggregates the int16 PCM. The
    decoder is calibrated exhaustively — all 512 codes across both
    laws — against CPython's audioop (independent reference; asserted
    once per batch here AND in tests/test_g711.py), the PCM-format
    boundary rejects loudly, and the oracle replays the expansion
    arithmetic per code in SQL. One Arrow mapInPandas scan, zero
    shuffles."""
    import hashlib

    from cam_etl_spark.multimodal.g711 import (
        ALAW_TABLE,
        ULAW_TABLE,
        decode_wav_g711,
        encode_wav_g711,
    )

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            did_ref = False
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(did)
                dig = hashlib.md5((text or "").encode()).digest()
                n = 64 + d % 64
                codes = bytes(
                    (dig[j % 16] * 31 + j * 17 + d) % 256 for j in range(n)
                )
                law = "ulaw" if d % 2 == 0 else "alaw"
                wav = encode_wav_g711(codes, law, sample_rate=8000)
                m = decode_wav_g711(wav)
                table = ULAW_TABLE if law == "ulaw" else ALAW_TABLE
                assert m["samples"] == [table[b] for b in codes], d
                assert m["law"] == law
                if not did_ref:
                    did_ref = True
                    import struct as _s
                    import warnings

                    try:
                        # stdlib audioop was removed in Python 3.13
                        # (PEP 594): cross-check only where available;
                        # tests/test_g711.py carries the exhaustive
                        # reference comparison under the same guard.
                        with warnings.catch_warnings():
                            warnings.simplefilter("ignore")
                            import audioop
                    except ModuleNotFoundError:
                        audioop = None
                    if audioop is not None:
                        assert ULAW_TABLE == list(
                            _s.unpack(
                                "<256h",
                                audioop.ulaw2lin(bytes(range(256)), 2),
                            )
                        )
                        assert ALAW_TABLE == list(
                            _s.unpack(
                                "<256h",
                                audioop.alaw2lin(bytes(range(256)), 2),
                            )
                        )
                    from cam_etl_spark.multimodal.codecs import encode_wav

                    try:
                        decode_wav_g711(
                            encode_wav(4, samples=b"\x00\x01\x02\x03")
                        )
                        raise AssertionError("PCM fmt accepted as G.711")
                    except ValueError:
                        pass
                s = m["samples"]
                rows.append(
                    {
                        "media_id": d,
                        "law": law,
                        "n_samples": len(s),
                        "sum_pcm": sum(s),
                        "min_pcm": min(s),
                        "max_pcm": max(s),
                        "n_zero": sum(1 for v in s if v == 0),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "law", "n_samples", "sum_pcm",
                         "min_pcm", "max_pcm", "n_zero"],
            )

    d = widen_table(spark, sf_dir, "documents", "doc_id", "text")
    return d.mapInPandas(
        run,
        "media_id long, law string, n_samples long, sum_pcm long, "
        "min_pcm long, max_pcm long, n_zero long",
    )


@register(
    "w8_range_interval_window",
    """
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS us,
             (round(value * 100, 0))::BIGINT AS cents, event_id
      FROM events)
    SELECT user_id, event_id,
           sum(cents) OVER w::BIGINT AS rolling_cents,
           count(*) OVER w::BIGINT AS rolling_n
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY us
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
    tags=["W3", "window", "range-frame", "temporal"],
)
def w8_range_interval_window(spark, sf_dir):
    """Time-RANGE window frames — the rolling-hour aggregate per user
    (sum/count over RANGE BETWEEN 1 hour PRECEDING AND CURRENT ROW),
    the window surface the rest of the catalog does not exercise
    (w5's moving average is a ROWS frame). Ordering is exact epoch
    MICROSECONDS (a numeric range frame, identical semantics in both
    engines — and unlike ROWS frames, RANGE includes ALL ties of the
    current timestamp, so the result is deterministic without a
    tiebreaker). Monetary values pre-rounded to integer cents so the
    rolling sums are exact. One exchange on user_id + a per-key sort;
    per-row state is the sliding frame, which Spark maintains
    incrementally — rolling features over 100 TB of events are the
    same single exchange as sessionization."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    e = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-3600 * 1000000, Window.currentRow)
    )
    return e.select(
        "user_id",
        "event_id",
        F.sum("cents").over(w).alias("rolling_cents"),
        F.count("*").over(w).alias("rolling_n"),
    )


@register(
    "s21_avro_roundtrip",
    f"""
    SELECT (o_orderkey % 6)::BIGINT AS bucket,
           count(*)::BIGINT AS n_rows,
           sum(o_orderkey)::BIGINT AS sum_key,
           sum({CENTS})::BIGINT
             AS sum_cents,
           sum(strlen(o_orderpriority))::BIGINT AS sum_prio_len,
           sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)::BIGINT
             AS n_open
    FROM orders GROUP BY bucket
    """,
    tags=["S3", "avro", "source", "sink", "roundtrip"],
    bench=True,
    plan={**PIPELINE_PLAN, "Exchange hashpartitioning": (0, 1)},
)
def s21_avro_roundtrip(spark, sf_dir):
    """Avro object container files from spec (sources/avro_io.py) —
    the full format layer end-to-end: each of 6 order buckets is
    serialized to a COMPLETE container file by the engine's own
    binary encoder (records with long / double / enum / nullable-
    union string fields; buckets rotate codecs null / deflate /
    snappy, multi-block framing), then read back in the same task by
    the engine's own from-spec decoder, asserted row-exact against
    the input before emitting per-bucket aggregates the oracle
    replays from the view. One applyInPandas group pass — the write
    is task-local and parallel, the only exchange is the bucket
    grouping, exactly how a distributed Avro sink/source fans out at
    100 TB. The codec itself is independently verified BOTH
    directions against the real Apache Avro Java library on Spark's
    classpath (tests/test_avro.py): files we write are read by
    org.apache.avro.file.DataFileReader, and real-deflate files the
    Java library writes are decoded by our from-spec inflater."""
    import json as _json

    from pyspark.sql import functions as F

    from cam_etl_spark.sources.avro_io import read_container, write_container

    schema = _json.dumps(
        {
            "type": "record",
            "name": "Order",
            "namespace": "engine.catalog",
            "fields": [
                {"name": "k", "type": "long"},
                {
                    "name": "status",
                    "type": {
                        "type": "enum",
                        "name": "Status",
                        "symbols": ["O", "F", "P"],
                    },
                },
                {"name": "cents", "type": "long"},
                {"name": "prio", "type": ["null", "string"]},
            ],
        }
    )

    def run(key, pdf):
        import pandas as pd

        bucket = int(key[0])
        pdf = pdf.sort_values("o_orderkey").reset_index(drop=True)
        # column-wise zip instead of itertuples: same dicts, ~2× less
        # per-row Python overhead on the 25k-row buckets (guide §4.2 —
        # do the bulk work column-wise inside the UDF)
        rows = [
            {"k": int(k), "status": str(s), "cents": int(c), "prio": str(p)}
            for k, s, c, p in zip(
                pdf["o_orderkey"].tolist(),
                pdf["o_orderstatus"].tolist(),
                pdf["cents"].tolist(),
                pdf["o_orderpriority"].tolist(),
            )
        ]
        codec = ("null", "deflate", "snappy")[bucket % 3]
        buf = write_container(schema, rows, codec=codec, objects_per_block=256)
        back = read_container(buf)
        assert back["codec"] == codec, bucket
        assert back["values"] == rows, bucket
        assert back["n_blocks"] == (len(rows) + 255) // 256, bucket
        return pd.DataFrame(
            [
                {
                    "bucket": bucket,
                    "n_rows": len(rows),
                    "sum_key": sum(r["k"] for r in rows),
                    "sum_cents": sum(r["cents"] for r in rows),
                    "sum_prio_len": sum(
                        len(r["prio"].encode("utf-8")) for r in rows
                    ),
                    "n_open": sum(1 for r in rows if r["status"] == "O"),
                }
            ]
        )

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        (F.col("o_orderkey") % 6).alias("bucket"),
    )
    # The 6 bucket groups are CPU-heavy (a full container encode+decode
    # each) but byte-light, so AQE's size-based coalescing packed them
    # onto 2 post-shuffle tasks (guide §2: AQE coalesces by bytes, not
    # CPU). An explicit width on the bucket exchange is exempt from
    # coalescing; groupBy's required distribution is satisfied by it, so
    # the group pass itself adds no second exchange and every bucket
    # gets its own core. Width follows the session's parallelism, not a
    # local constant.
    width = max(spark.sparkContext.defaultParallelism, 6)
    return o.repartition(width, "bucket").groupBy("bucket").applyInPandas(
        run,
        "bucket long, n_rows long, sum_key long, sum_cents long, "
        "sum_prio_len long, n_open long",
    )


@register(
    "s22_delta_log_scan",
    f"""
    WITH v1 AS (
      SELECT * FROM orders
      WHERE o_orderstatus <> 'O' OR o_orderkey % 2 = 0
    )
    SELECT 0::BIGINT AS version, o_orderstatus AS status,
           count(*)::BIGINT AS n_orders,
           sum(o_orderkey)::BIGINT AS sum_key,
           sum({CENTS})::BIGINT
             AS sum_cents
    FROM orders GROUP BY status
    UNION ALL
    SELECT 1::BIGINT, o_orderstatus, count(*)::BIGINT,
           sum(o_orderkey)::BIGINT,
           sum({CENTS})::BIGINT
    FROM v1 GROUP BY o_orderstatus
    UNION ALL
    SELECT 2::BIGINT, o_orderstatus, count(*)::BIGINT,
           sum(o_orderkey)::BIGINT,
           sum({CENTS})::BIGINT
    FROM v1 WHERE o_orderstatus = 'F' GROUP BY o_orderstatus
    """,
    tags=["S1", "delta", "lake", "time-travel", "pruning"],
)
def s22_delta_log_scan(spark, sf_dir):
    """Delta Lake snapshot scan from the published protocol
    (sources/delta_log.py) — a transaction log is BUILT over real
    Spark-written partitioned parquet (commit 0: full orders
    partitioned by status; commit 1: a DELETE rewrites partition 'O'
    keeping even keys — remove + add actions), then REPLAYED three
    ways: time travel to version 0 (full table), the latest snapshot
    (version 1), and a log-level PARTITION-PRUNED read of version 1
    that hands Spark only the o_orderstatus=F files (the pruned file
    list is asserted to be exactly the F-partition paths before any
    scan happens). A checkpoint written at version 1 is asserted to
    replay to the identical file set as the pure-JSON log. All three
    reads are native vectorized parquet scans over exactly the live
    file lists (basePath partition materialization); the oracle
    replays each version's logical content from the view. At 100 TB
    this is the whole point of a lake table: the driver replays
    kilobytes of log (checkpoint + tail) and executors only ever see
    live, pruned files."""
    from pyspark.sql import functions as F

    from cam_etl_spark.sources.delta_log import (
        add_action,
        read_snapshot,
        remove_action,
        replay_log,
        table_files,
        write_checkpoint,
        write_commit,
    )

    table = fixture_dir(sf_dir, "cam_etl_delta_fixture", "orders_delta")

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        "o_orderstatus",
    )
    o.write.partitionBy("o_orderstatus").parquet(table, mode="overwrite")

    def part_of(path):
        return path.split("o_orderstatus=")[1].split("/")[0]

    def adds(paths):
        return [add_action(table, p, {"o_orderstatus": part_of(p)}) for p in paths]

    files_v0 = table_files(table)
    meta = {
        "id": "orders-delta-fixture",
        "format": {"provider": "parquet", "options": {}},
        "schemaString": o.schema.json(),
        "partitionColumns": ["o_orderstatus"],
        "configuration": {},
    }
    write_commit(
        table,
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": meta},
        ]
        + adds(files_v0),
    )

    # commit 1: DELETE FROM WHERE status='O' AND k%2=1 as a rewrite
    o.filter(
        (F.col("o_orderstatus") == "O") & (F.col("o_orderkey") % 2 == 0)
    ).write.partitionBy("o_orderstatus").parquet(table, mode="append")
    new_files = sorted(set(table_files(table)) - set(files_v0))
    old_o = [p for p in files_v0 if part_of(p) == "O"]
    write_commit(
        table, 1, [remove_action(p, 1) for p in old_o] + adds(new_files)
    )

    # checkpoint at v1 must reconstruct the identical live set
    snap_json = replay_log(table, version=1)
    write_checkpoint(table, 1, snap_json)
    snap_ckpt = replay_log(table, version=1)
    assert snap_ckpt["from_checkpoint"] == 1
    assert [f["path"] for f in snap_ckpt["files"]] == [
        f["path"] for f in snap_json["files"]
    ]

    df0, snap0, n0 = read_snapshot(spark, table, version=0)
    assert n0 == len(files_v0)
    df1, snap1, _n1 = read_snapshot(spark, table, version=1)
    dfF, _snapF, nF = read_snapshot(
        spark,
        table,
        version=1,
        partition_filter={"o_orderstatus": {"F"}},
    )
    f_files = [
        f["path"]
        for f in snap1["files"]
        if f["partitionValues"]["o_orderstatus"] == "F"
    ]
    assert nF == len(f_files) and nF < len(snap1["files"])

    def agg(df, version):
        return df.groupBy(
            F.col("o_orderstatus").alias("status")
        ).agg(
            F.count("*").alias("n_orders"),
            F.sum("o_orderkey").alias("sum_key"),
            F.sum("cents").alias("sum_cents"),
        ).select(
            F.lit(version).cast("long").alias("version"),
            "status",
            "n_orders",
            "sum_key",
            "sum_cents",
        )

    return agg(df0, 0).unionAll(agg(df1, 1)).unionAll(agg(dfF, 2))


@register(
    "s23_orc_stripe_decode",
    """
    SELECT * FROM (
      SELECT 'orders' AS tbl, 'o_orderkey' AS col,
             count(o_orderkey)::BIGINT AS n_values, 0::BIGINT AS n_nulls,
             sum(o_orderkey)::BIGINT AS checksum FROM orders
      UNION ALL
      SELECT 'orders', 'o_orderstatus', count(*)::BIGINT, 0::BIGINT,
             sum(strlen(o_orderstatus))::BIGINT FROM orders
      UNION ALL
      SELECT 'orders', 'o_totalprice', count(*)::BIGINT, 0::BIGINT,
             sum(floor(o_totalprice * 1000)::BIGINT)::BIGINT FROM orders
      UNION ALL
      SELECT 'orders', 'o_total_dec', count(*)::BIGINT, 0::BIGINT,
             sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                      AS BIGINT))::BIGINT FROM orders
      UNION ALL
      SELECT 'documents', 'doc_id', count(*)::BIGINT, 0::BIGINT,
             sum(doc_id)::BIGINT FROM documents
      UNION ALL
      SELECT 'documents', 'text', count(*)::BIGINT, 0::BIGINT,
             sum(octet_length(text::BLOB))::BIGINT FROM documents
      UNION ALL
      SELECT 'documents', 'tokens', count(*)::BIGINT, 0::BIGINT,
             sum(octet_length(array_to_string(
                 list_slice(string_split(text, ' '), 1, 4),
                 '')::BLOB))::BIGINT FROM documents
      UNION ALL
      SELECT 'documents', 'lang_nullable',
             count(nullif(lang, 'en'))::BIGINT,
             sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT,
             sum(strlen(nullif(lang, 'en')))::BIGINT FROM documents
      UNION ALL
      SELECT 'lineitem', 'l_orderkey', count(*)::BIGINT, 0::BIGINT,
             sum(l_orderkey)::BIGINT FROM lineitem
      UNION ALL
      SELECT 'lineitem', 'l_quantity', count(*)::BIGINT, 0::BIGINT,
             sum(floor(l_quantity * 1000)::BIGINT)::BIGINT FROM lineitem
      UNION ALL
      SELECT 'lineitem', 'l_returnflag', count(*)::BIGINT, 0::BIGINT,
             sum(strlen(l_returnflag))::BIGINT FROM lineitem
      UNION ALL
      SELECT 'lineitem', 'l_line_tiny', count(*)::BIGINT, 0::BIGINT,
             sum(l_linenumber)::BIGINT FROM lineitem
    ) ORDER BY tbl, col
    """,
    tags=["S1", "orc", "lake", "rlev2", "integrity"],
)
def s23_orc_stripe_decode(spark, sf_dir):
    """ORC READ from spec (sources/orc_read.py) — the lake-integrity
    audit shape of s18, for the other columnar lake format: three
    testdata tables are written to ORC by Spark's native (Java) ORC
    writer with rotating compression NONE / ZLIB / SNAPPY, then every
    file is decoded BY THE ENGINE'S OWN from-spec reader — protobuf
    tail, chunked decompression through the engine's own inflater and
    snappy decoder, RLEv2 in all four sub-encodings, dictionary and
    direct strings, PRESENT-stream nulls (documents.lang is NULLed
    where 'en' before writing so null materialization is on the hot
    path), decimal (zigzag-varint DATA + signed-RLEv2 scale),
    tinyint (signed byte-RLE) and list<string> (LENGTH-stream child
    reassembly) — one task per file. Each task FIRST asserts its decode
    value-exact against pyarrow's ORC reader (the Apache ORC C++
    library — an independent reference) and only then emits typed
    per-column checksums, which Spark sums across files and the
    oracle replays from the parquet views. At 100 TB this is
    decode-and-checksum every stripe of a million files, one task
    each, no Spark scan of the audited bytes — and the same kernel a
    custom DataSource needs for stripe-selective serving."""
    import os

    from pyspark.sql import functions as F

    from cam_etl_spark.sources.orc_read import read_orc

    base = fixture_dir(sf_dir, "cam_etl_orc_fixture")
    comps = {"orders": "none", "documents": "zlib", "lineitem": "snappy"}
    plans = {
        "orders": ["o_orderkey", "o_orderstatus", "o_totalprice",
                   "o_total_dec"],
        "documents": ["doc_id", "text", "lang_nullable", "tokens"],
        "lineitem": ["l_orderkey", "l_quantity", "l_returnflag",
                     "l_line_tiny"],
    }
    pairs = []
    for tbl, cols in plans.items():
        df = t(spark, sf_dir, tbl)
        if tbl == "documents":
            df = df.withColumn(
                "lang_nullable", F.nullif(F.col("lang"), F.lit("en"))
            ).withColumn(
                "tokens", F.slice(F.split(F.col("text"), " "), 1, 4)
            )
        elif tbl == "orders":
            df = df.withColumn(
                "o_total_dec",
                F.col("o_totalprice").cast("decimal(12,2)"),
            )
        elif tbl == "lineitem":
            df = df.withColumn(
                "l_line_tiny", F.col("l_linenumber").cast("tinyint")
            )
        out_dir = os.path.join(base, tbl)
        df.select(*cols).repartition(4).write.option(
            "compression", comps[tbl]
        ).orc(out_dir)
        for name in sorted(os.listdir(out_dir)):
            if name.endswith(".orc"):
                pairs.append((tbl, os.path.join(out_dir, name)))

    import pyarrow.orc as paorc

    def run(tbl, path):
        raw = open(path, "rb").read()
        got = read_orc(raw)
        ref = paorc.read_table(path).to_pydict()
        for col in plans[tbl]:
            vals = got["columns"][col]
            assert vals == ref[col], (tbl, col, path)
            present = [v for v in vals if v is not None]
            if col in ("o_totalprice", "l_quantity"):
                import math

                checksum = sum(
                    int(math.floor(v * 1000)) for v in present
                )
            elif col == "o_total_dec":
                # decimal path: exact unscaled cents
                checksum = sum(
                    int(v.scaleb(2)) for v in present
                )
            elif col == "tokens":
                # list path: bytes across all child elements
                checksum = sum(
                    sum(
                        len(e.encode("utf-8"))
                        for e in row
                        if e is not None
                    )
                    for row in present
                )
            elif isinstance(present[0], str) if present else False:
                checksum = sum(
                    len(v.encode("utf-8")) for v in present
                )
            else:
                checksum = sum(present)
            yield {
                "tbl": tbl,
                "col": col,
                "n_values": len(present),
                "n_nulls": len(vals) - len(present),
                "checksum": checksum,
            }

    files = task_per_item(spark, pairs, "tbl string, path string")
    partials = map_rows(
        files, run,
        "tbl string, col string, n_values long, n_nulls long, "
        "checksum long",
    )
    return (
        partials.groupBy("tbl", "col")
        .agg(
            F.sum("n_values").alias("n_values"),
            F.sum("n_nulls").alias("n_nulls"),
            F.sum("checksum").alias("checksum"),
        )
        .orderBy("tbl", "col")
    )


@register(
    "temporal_pattern_match",
    """
    WITH seq AS (
      SELECT user_id, event_type AS sym, epoch_us(ts) AS us, event_id,
             CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS chg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ), runs AS (
      SELECT user_id, sym, us, event_id,
             sum(chg) OVER (PARTITION BY user_id
                            ORDER BY us, event_id) AS seg
      FROM seq
    ), segs AS (
      SELECT user_id, seg, min(sym) AS sym, count(*)::BIGINT AS n,
             min(us)::BIGINT AS start_us, max(us)::BIGINT AS end_us
      FROM runs GROUP BY user_id, seg
    ), lagged AS (
      SELECT user_id, sym, n, start_us, end_us,
             lead(sym, 1) OVER w2 AS sym1,
             lead(sym, 2) OVER w2 AS sym2,
             lead(n, 1) OVER w2 AS n1,
             lead(n, 2) OVER w2 AS n2,
             lead(end_us, 2) OVER w2 AS match_end_us
      FROM segs
      WINDOW w2 AS (PARTITION BY user_id ORDER BY seg)
    )
    SELECT user_id, start_us AS match_start_us, match_end_us,
           n AS n_view, n1 AS n_click, n2 AS n_purchase
    FROM lagged
    WHERE sym = 'view' AND sym1 = 'click' AND sym2 = 'purchase'
    """,
    tags=["W", "pattern", "match-recognize", "temporal"],
    bench=True,
    plan={**PIPELINE_PLAN, "Exchange hashpartitioning": (1, 1), "Window": (3, 3)},
)
def temporal_pattern_match(spark, sf_dir):
    """Row-pattern matching (the MATCH_RECOGNIZE `PATTERN (V+ C+ P+)`
    class, as in Trino/Flink SQL — Spark has no native
    MATCH_RECOGNIZE) expressed PURELY in window algebra, no UDF: per
    user ordered by (ts, event_id), maximal same-symbol runs are
    built with the lag-change running-sum trick (one exchange), runs
    collapse to segments (map-side-combinable agg on the same key),
    and a lead-window over segments detects contiguous
    view+ -> click+ -> purchase+ transitions, emitting one row per
    match with the classic measures (FIRST(ts), LAST(ts), per-phase
    counts). Maximal runs make matches non-overlapping and
    deterministic — AFTER MATCH SKIP PAST LAST ROW semantics for
    free. Everything shuffles ONCE on user_id and stays in
    whole-stage codegen; at 100 TB this is the same single exchange
    as sessionization, with no state beyond the window frame. The
    oracle replays the identical algebra in DuckDB."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    e = t(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_type").alias("sym"),
        F.unix_micros("ts").alias("us"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    runs = e.withColumn(
        "chg",
        F.when(
            ~F.lag("sym").over(w).eqNullSafe(F.col("sym")), F.lit(1)
        ).otherwise(F.lit(0)),
    ).withColumn("seg", F.sum("chg").over(w))
    segs = runs.groupBy("user_id", "seg").agg(
        F.min("sym").alias("sym"),
        F.count("*").alias("n"),
        F.min("us").alias("start_us"),
        F.max("us").alias("end_us"),
    )
    w2 = Window.partitionBy("user_id").orderBy("seg")
    lagged = segs.select(
        "user_id",
        "sym",
        "n",
        "start_us",
        F.lead("sym", 1).over(w2).alias("sym1"),
        F.lead("sym", 2).over(w2).alias("sym2"),
        F.lead("n", 1).over(w2).alias("n1"),
        F.lead("n", 2).over(w2).alias("n2"),
        F.lead("end_us", 2).over(w2).alias("match_end_us"),
    )
    return lagged.filter(
        (F.col("sym") == "view")
        & (F.col("sym1") == "click")
        & (F.col("sym2") == "purchase")
    ).select(
        "user_id",
        F.col("start_us").alias("match_start_us"),
        "match_end_us",
        F.col("n").alias("n_view"),
        F.col("n1").alias("n_click"),
        F.col("n2").alias("n_purchase"),
    )


@register(
    "multimodal_mp3_reservoir_decode",
    f"""
    WITH {md5_digest()},
    gcfg AS (
      SELECT doc_id, d, f, gr,
             d[((f*5 + gr*3 + 1) % 16) + 1] % 16 AS sfc,
             d[((f*7 + gr*2 + 3) % 16) + 1] % 256 AS gg,
             d[((f*9 + gr*4 + 6) % 16) + 1] % 8 AS nq
      FROM dg, range(3) t(f), range(2) g(gr)),
    gsl AS (
      SELECT *,
             [0,0,0,0,3,1,1,1,2,2,2,3,3,3,4,4][sfc + 1] AS slen1,
             [0,1,2,3,0,1,2,3,1,2,3,1,2,3,2,3][sfc + 1] AS slen2
      FROM gcfg),
    sv AS (
      SELECT doc_id, f, gr,
             sum(CASE WHEN (CASE WHEN i < 11 THEN slen1 ELSE slen2 END) = 0
                      THEN 0
                      ELSE d[((f*3 + gr*5 + i*7 + 8) % 16) + 1]
                           % (1::BIGINT << (CASE WHEN i < 11
                                            THEN slen1 ELSE slen2 END))
                 END) AS sumsf
      FROM gsl, range(21) t(i) GROUP BY doc_id, f, gr),
    qv AS (
      SELECT doc_id, f, gr,
             sum(4 + ((mag >> 3) & 1) + ((mag >> 2) & 1)
                   + ((mag >> 1) & 1) + (mag & 1)) AS part3,
             count(*) AS nq3,
             sum(((mag >> 3) & 1) * (1 - 2 * ((sgn >> 3) & 1))
               + ((mag >> 2) & 1) * (1 - 2 * ((sgn >> 2) & 1))
               + ((mag >> 1) & 1) * (1 - 2 * ((sgn >> 1) & 1))
               + (mag & 1) * (1 - 2 * (sgn & 1))) AS sumq
      FROM (SELECT doc_id, f, gr, nq, q,
                   d[((f*11 + gr*6 + q*5 + 7) % 16) + 1] % 16 AS mag,
                   d[((f*11 + gr*6 + q*5 + 12) % 16) + 1] % 16 AS sgn
            FROM gsl, range(8) t(q) WHERE q < nq)
      GROUP BY doc_id, f, gr),
    pergc AS (
      SELECT g.doc_id, g.f, g.gr, g.gg,
             11*g.slen1 + 10*g.slen2 + coalesce(q.part3, 0) AS p23,
             s.sumsf, coalesce(q.nq3, 0) AS nq3, coalesce(q.sumq, 0) AS sumq
      FROM gsl g
      JOIN sv s ON g.doc_id = s.doc_id AND g.f = s.f AND g.gr = s.gr
      LEFT JOIN qv q ON g.doc_id = q.doc_id AND g.f = q.f AND g.gr = q.gr),
    perframe AS (
      SELECT doc_id, f, (sum(p23) + 7) // 8 AS m,
             sum(p23) AS p23f, sum(gg) AS ggf, sum(sumsf) AS sumsff,
             sum(nq3) AS nq3f, sum(sumq) AS sumqf
      FROM pergc GROUP BY doc_id, f),
    pivoted AS (
      SELECT doc_id,
             sum(CASE WHEN f = 0 THEN m END) AS m0,
             sum(CASE WHEN f = 1 THEN m END) AS m1,
             sum(m) AS total_main_bytes,
             sum(p23f) AS sum_p23, sum(ggf) AS sum_gg,
             sum(sumsff) AS sum_scalefac, sum(nq3f) AS n_quads,
             sum(sumqf) AS sum_count1
      FROM perframe GROUP BY doc_id)
    SELECT doc_id AS media_id, 3::BIGINT AS n_frames,
           (171 - m0)::BIGINT AS mdb1,
           (342 - m0 - m1)::BIGINT AS mdb2,
           total_main_bytes::BIGINT AS total_main_bytes,
           sum_p23::BIGINT AS sum_p23,
           n_quads::BIGINT AS n_quads,
           sum_count1::BIGINT AS sum_count1,
           sum_scalefac::BIGINT AS sum_scalefac,
           sum_gg::BIGINT AS sum_gg
    FROM pivoted
    """,
    tags=["multimodal", "decode", "mp3", "audio", "reservoir"],
)
def multimodal_mp3_reservoir_decode(spark, sf_dir):
    """MP3 BIT RESERVOIR decode (§2.4.2.7) — the Layer III boundary
    shrinks again: every doc synthesizes a THREE-FRAME mono Layer III
    stream (48 kHz, 64 kbps, long blocks, digest-derived
    scalefactors and count1 quadruples) packed by the reservoir-aware
    stream encoder, so frames 1 and 2 carry main_data_begin > 0 and
    their main data physically lives in EARLIER frames' payload
    bytes. parse_mp3_stream reconstructs the reservoir byte stream,
    decodes every frame's part2/part3 from its negative offset, and
    the task asserts (a) bit-exact scalefactor/quad recovery against
    the synthesis inputs and (b) the parsed main_data_begin values
    equal the closed-form layout arithmetic (mdb_f = f*cap - sum of
    prior frames' main bytes, cap = 171) the oracle replays — the
    same digest-arithmetic discipline as the sideinfo entry.
    (Most of the former boundary is gone — see
    multimodal_mp3_full_decode; tables 13/15 and ESC/linbits 16-31
    remain.) One Arrow mapInPandas scan, zero shuffles."""
    import hashlib

    from cam_etl_spark.multimodal.mp3 import (
        SLEN,
        encode_mp3_stream,
        parse_mp3_stream,
    )

    CAP = 192 - 4 - 17  # 171: 48 kHz 64 kbps mono payload bytes

    def run(did, text):
        d = int(did)
        dig = hashlib.md5((text or "").encode()).digest()

        def B(i):
            return dig[i % 16]

        frames = []
        m_bytes = []
        stats = {
            "sum_p23": 0, "n_quads": 0, "sum_count1": 0,
            "sum_scalefac": 0, "sum_gg": 0,
        }
        for f in range(3):
            grs = []
            fbits = 0
            for gr in range(2):
                sfc = B(f * 5 + gr * 3 + 1) % 16
                slen1, slen2 = SLEN[sfc]
                gg = B(f * 7 + gr * 2 + 3) % 256
                nq = B(f * 9 + gr * 4 + 6) % 8
                sfs = []
                for i in range(21):
                    slen = slen1 if i < 11 else slen2
                    sfs.append(
                        B(f * 3 + gr * 5 + i * 7 + 8)
                        % (1 << slen) if slen else 0
                    )
                quads = []
                for q in range(nq):
                    mag = B(f * 11 + gr * 6 + q * 5 + 7) % 16
                    sgn = B(f * 11 + gr * 6 + q * 5 + 12) % 16
                    quads.append(tuple(
                        ((mag >> (3 - j)) & 1)
                        * (1 - 2 * ((sgn >> (3 - j)) & 1))
                        for j in range(4)
                    ))
                g = {
                    "block_type": 0, "mixed_block_flag": 0,
                    "scalefac_compress": sfc,
                    "global_gain": gg, "preflag": 0,
                    "scalefac_scale": 0,
                    "table_select": [1, 2, 3],
                    "subblock_gain": [0, 0, 0],
                    "region0_count": 4, "region1_count": 3,
                    "scfsi": 0,
                    "scalefacs": sfs, "quads": quads,
                }
                grs.append([g])
                part3 = sum(
                    4 + sum(1 for v in q if v) for q in quads
                )
                fbits += 11 * slen1 + 10 * slen2 + part3
                stats["sum_gg"] += gg
                stats["sum_scalefac"] += sum(sfs)
                stats["n_quads"] += len(quads)
                stats["sum_count1"] += sum(
                    v for q in quads for v in q
                )
                stats["sum_p23"] += (
                    11 * slen1 + 10 * slen2 + part3
                )
            frames.append(grs)
            m_bytes.append((fbits + 7) // 8)
        buf = encode_mp3_stream(frames, 48000, 64)
        shells = parse_mp3_stream(buf)
        assert len(shells) == 3, d
        want_mdb = [
            0,
            CAP - m_bytes[0],
            2 * CAP - m_bytes[0] - m_bytes[1],
        ]
        got_mdb = [s["main_data_begin"] for s in shells]
        assert got_mdb == want_mdb, (d, got_mdb, want_mdb)
        assert want_mdb[1] > 0 and want_mdb[2] > 0, d
        for f in range(3):
            for gr in range(2):
                enc = frames[f][gr][0]
                dec = shells[f]["granules"][gr][0]
                assert dec["scalefacs"] == enc["scalefacs"], (
                    d, f, gr,
                )
                assert dec["quads"] == enc["quads"], (d, f, gr)
                assert dec["global_gain"] == enc["global_gain"]
        yield {
            "media_id": d,
            "n_frames": 3,
            "mdb1": want_mdb[1],
            "mdb2": want_mdb[2],
            "total_main_bytes": sum(m_bytes),
            "sum_p23": stats["sum_p23"],
            "n_quads": stats["n_quads"],
            "sum_count1": stats["sum_count1"],
            "sum_scalefac": stats["sum_scalefac"],
            "sum_gg": stats["sum_gg"],
        }

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    return map_rows(
        docs, run,
        "media_id long, n_frames long, mdb1 long, mdb2 long, "
        "total_main_bytes long, sum_p23 long, n_quads long, "
        "sum_count1 long, sum_scalefac long, sum_gg long",
    )


@register(
    "s24_iceberg_snapshot_scan",
    f"""
    WITH v2 AS (
      SELECT * FROM orders
      WHERE o_orderstatus <> 'O' OR o_orderkey % 2 = 0
    )
    SELECT 1::BIGINT AS snap, o_orderstatus AS status,
           count(*)::BIGINT AS n_orders,
           sum(o_orderkey)::BIGINT AS sum_key,
           sum({CENTS})::BIGINT
             AS sum_cents
    FROM orders GROUP BY status
    UNION ALL
    SELECT 2::BIGINT, o_orderstatus, count(*)::BIGINT,
           sum(o_orderkey)::BIGINT,
           sum({CENTS})::BIGINT
    FROM v2 GROUP BY o_orderstatus
    UNION ALL
    SELECT 3::BIGINT, o_orderstatus, count(*)::BIGINT,
           sum(o_orderkey)::BIGINT,
           sum({CENTS})::BIGINT
    FROM v2 WHERE o_orderstatus = 'P' GROUP BY o_orderstatus
    """,
    tags=["S1", "iceberg", "lake", "time-travel", "pruning", "avro"],
)
def s24_iceberg_snapshot_scan(spark, sf_dir):
    """Iceberg snapshot scan via the published metadata chain
    (sources/iceberg_meta.py): vN.metadata.json -> manifest list
    (REAL Avro object containers written and read by the engine's
    own from-spec codec, deflate blocks) -> manifests -> data files.
    The fixture builds TWO snapshots over Spark-written partitioned
    parquet (snapshot 101: full orders; snapshot 202: a rewrite of
    partition 'O' keeping even keys — DELETED entries for the old
    files, EXISTING carries, ADDED rewrites), then reads (1) time
    travel to snapshot 101, (2) the current snapshot, and (3) a
    metadata-PRUNED current read whose file list is asserted to be
    exactly the P-partition files before any scan. Everything the
    executors touch is Spark's native vectorized parquet scan over
    the live pruned list. With delta_log.py this covers both
    dominant open-table formats' read-planning paths — at 100 TB the
    driver replays kilobytes of metadata, never lists directories.
    The oracle replays each snapshot's logical content."""
    import os

    from pyspark.sql import functions as F

    from cam_etl_spark.sources.delta_log import table_files
    from cam_etl_spark.sources.iceberg_meta import (
        manifest_entry,
        read_snapshot,
        write_manifest,
        write_snapshot,
        write_table_metadata,
    )

    table = fixture_dir(sf_dir, "cam_etl_iceberg_fixture", "orders_iceberg")
    data_dir = os.path.join(table, "data")

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        "o_orderstatus",
    )
    o.write.partitionBy("o_orderstatus").parquet(data_dir, mode="overwrite")

    def data_files():
        return [os.path.join(data_dir, p) for p in table_files(data_dir)]

    def part_of(path):
        return path.split("o_orderstatus=")[1].split("/")[0]

    def entry(path, status):
        return manifest_entry(path, {"o_orderstatus": part_of(path)}, status=status)

    md = os.path.join(table, "metadata")
    os.makedirs(md, exist_ok=True)
    files_v1 = data_files()
    m1 = os.path.join(md, "m1.avro")
    write_manifest(m1, [entry(p, 1) for p in files_v1])
    snap1 = write_snapshot(table, 101, [m1])

    o.filter(
        (F.col("o_orderstatus") == "O") & (F.col("o_orderkey") % 2 == 0)
    ).write.partitionBy("o_orderstatus").parquet(data_dir, mode="append")
    new_files = sorted(set(data_files()) - set(files_v1))
    old_o = [p for p in files_v1 if part_of(p) == "O"]
    m2 = os.path.join(md, "m2.avro")
    write_manifest(
        m2,
        [entry(p, 2) for p in old_o]
        + [entry(p, 0) for p in files_v1 if part_of(p) != "O"]
        + [entry(p, 1) for p in new_files],
    )
    snap2 = write_snapshot(table, 202, [m2], parent_id=101)
    write_table_metadata(
        table, 2, [snap1, snap2], 202, ["o_orderstatus"]
    )

    df1, s1, n1 = read_snapshot(spark, table, snapshot_id=101)
    assert n1 == len(files_v1)
    df2, s2, _n2 = read_snapshot(spark, table)
    assert s2["snapshot_id"] == 202
    dfP, _sP, nP = read_snapshot(
        spark, table, partition_filter={"o_orderstatus": {"P"}}
    )
    p_files = [
        f["path"] for f in s2["files"]
        if f["partition"]["o_orderstatus"] == "P"
    ]
    assert nP == len(p_files) and nP < len(s2["files"])

    def agg(df, snap):
        return df.groupBy(
            F.col("o_orderstatus").alias("status")
        ).agg(
            F.count("*").alias("n_orders"),
            F.sum("o_orderkey").alias("sum_key"),
            F.sum("cents").alias("sum_cents"),
        ).select(
            F.lit(snap).cast("long").alias("snap"),
            "status",
            "n_orders",
            "sum_key",
            "sum_cents",
        )

    return agg(df1, 1).unionAll(agg(df2, 2)).unionAll(agg(dfP, 3))


@register(
    "s27_iceberg_position_deletes",
    ORDERS_SEVENTH_DELETED,
    tags=["S1", "iceberg", "lake", "merge-on-read", "deletes", "avro"],
)
def s27_iceberg_position_deletes(spark, sf_dir):
    """Iceberg v2 POSITION DELETES, merge-on-read
    (sources/iceberg_meta.py): snapshot 101 is four bucket files of
    orders (each written key-sorted so row ordinals are
    deterministic); snapshot 202 adds a DELETE MANIFEST
    (manifest-list content=1) whose two Avro position-delete files —
    the spec's (file_path, pos) rows with reserved field-ids,
    written and read by the engine's own Avro codec — delete every
    o_orderkey % 7 == 0 row by FILE POSITION, not by predicate. The
    scan applies them as the spec requires: delete rows are decoded
    executor-side (one task per delete file), sequence-gated
    (delete.seq 2 >= data.seq 1), and anti-joined against the
    parquet scan on (file, `_metadata.row_index`). The oracle
    replays both snapshots relationally — it matches only if Spark's
    row_index really is the spec's `pos` for key-sorted files, i.e.
    the position arithmetic is honest. At 100 TB the delete set
    never transits the driver: it fans out as tasks and the
    anti-join either broadcasts (AQE, small deletes) or shuffles on
    (file, pos)."""
    import os

    from pyspark.sql import functions as F

    from cam_etl_spark.sources.iceberg_meta import (
        manifest_entry,
        read_snapshot,
        write_manifest,
        write_position_deletes,
        write_snapshot,
        write_table_metadata,
    )

    table = fixture_dir(sf_dir, "cam_etl_iceberg_posdel", "orders_mor")
    data_dir = os.path.join(table, "data")

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        (F.col("o_orderkey") % 4).cast("string").alias("bucket"),
    )
    # one key-sorted file per bucket -> row ordinal == rank by key
    o.repartition(4, "bucket").sortWithinPartitions(
        "bucket", "o_orderkey"
    ).write.partitionBy("bucket").parquet(data_dir, mode="overwrite")

    bucket_file = {}
    for root, _dirs, names in os.walk(data_dir):
        for n in names:
            if n.endswith(".parquet"):
                bkt = root.split("bucket=")[1].split("/")[0]
                assert bkt not in bucket_file, "one file per bucket"
                bucket_file[bkt] = os.path.join(root, n)

    def entry(path, bkt, seq, content=0, status=1):
        return manifest_entry(
            path, None if content else {"bucket": bkt}, status=status,
            sequence_number=seq, content=content,
        )

    md = os.path.join(table, "metadata")
    os.makedirs(md, exist_ok=True)
    m1 = os.path.join(md, "m-data.avro")
    write_manifest(
        m1, [entry(p, b, 1) for b, p in sorted(bucket_file.items())]
    )
    snap1 = write_snapshot(table, 101, [m1])

    # positions of the doomed rows, computed from the SOURCE relation
    # (rank by key within bucket) — independent of the scan machinery
    # under test
    from pyspark.sql import Window

    pos_w = Window.partitionBy("bucket").orderBy("o_orderkey")
    doomed = (
        o.withColumn("pos", F.row_number().over(pos_w) - 1)
        .filter(F.col("o_orderkey") % 7 == 0)
        .select("bucket", "pos")
        .collect()
    )  # fixture construction only; bounded by |orders|/7
    n_doomed = len(doomed)
    del_files = []
    for half, bkts in enumerate(({"0", "1"}, {"2", "3"})):
        rows = [
            {"file_path": bucket_file[r["bucket"]], "pos": r["pos"]}
            for r in doomed
            if r["bucket"] in bkts
        ]
        p = os.path.join(md, f"pd-{half}.avro")
        write_position_deletes(p, rows)
        del_files.append(p)
    mdel = os.path.join(md, "m-deletes.avro")
    write_manifest(
        mdel,
        [entry(p, None, 2, content=1) for p in del_files],
    )
    snap2 = write_snapshot(table, 202, [m1, (mdel, 1)], parent_id=101)
    write_table_metadata(table, 2, [snap1, snap2], 202, ["bucket"])

    df1, s1, _ = read_snapshot(spark, table, snapshot_id=101)
    assert not s1["delete_files"]
    df2, s2, _ = read_snapshot(spark, table)
    assert len(s2["delete_files"]) == 2
    n1, n2 = df1.count(), df2.count()
    assert n1 - n2 == n_doomed, (n1, n2, n_doomed)

    def agg(df, snap):
        return df.groupBy(
            F.col("bucket").cast("long").alias("bucket")
        ).agg(
            F.count("*").alias("n_orders"),
            F.sum("o_orderkey").alias("sum_key"),
            F.sum("cents").alias("sum_cents"),
        ).select(
            F.lit(snap).cast("long").alias("snap"),
            "bucket",
            "n_orders",
            "sum_key",
            "sum_cents",
        )

    return agg(df1, 1).unionAll(agg(df2, 2))


@register(
    "s32_delta_change_feed",
    f"""
    WITH b AS (
      SELECT o_orderkey AS k,
             {CENTS} AS c0
      FROM orders
    ), v1 AS (
      SELECT k, c0,
             CASE WHEN k % 10 = 0 THEN c0 + 11 ELSE c0 END AS c1
      FROM b
    )
    SELECT 0::BIGINT AS version, 'insert' AS change,
           count(*)::BIGINT AS n, sum(k)::BIGINT AS sum_key,
           sum(c0)::BIGINT AS sum_cents
    FROM b
    UNION ALL
    SELECT 1::BIGINT, 'update_preimage', count(*)::BIGINT,
           sum(k)::BIGINT, sum(c0)::BIGINT
    FROM b WHERE k % 10 = 0
    UNION ALL
    SELECT 1::BIGINT, 'update_postimage', count(*)::BIGINT,
           sum(k)::BIGINT, sum(c0 + 11)::BIGINT
    FROM b WHERE k % 10 = 0
    UNION ALL
    SELECT 2::BIGINT, 'delete', count(*)::BIGINT,
           sum(k)::BIGINT, sum(c1)::BIGINT
    FROM v1
    UNION ALL
    SELECT 2::BIGINT, 'insert', count(*)::BIGINT,
           sum(k)::BIGINT, sum(c1)::BIGINT
    FROM v1 WHERE k % 9 <> 0
    """,
    tags=["S1", "delta", "lake", "cdf", "incremental"],
)
def s32_delta_change_feed(spark, sf_dir):
    """Delta CHANGE DATA FEED (sources/delta_log.py read_changes):
    version 0 inserts orders; version 1 is an UPDATE (cents + 11
    where key % 10 = 0) whose commit carries CDC ACTIONS — files
    under _change_data/ with explicit update_preimage /
    update_postimage rows, which take precedence over the commit's
    add/remove for CDF — and version 2 is a rewrite DELETE
    (key % 9 = 0) with NO cdc actions, so its change set is DERIVED
    per protocol: dataChange adds are inserts, dataChange removes
    are deletes (the removed parquet still on disk). The entry
    aggregates every change row by (version, change type) and the
    oracle replays all five change sets relationally — the derived
    v2 rows only match if the reader really reads the REMOVED
    files' content as deletes. This is the incremental-consumer
    path: at 100 TB a downstream job reads kilobytes of log plus
    exactly the changed files, never diffs snapshots."""
    import os

    from pyspark.sql import functions as F

    from cam_etl_spark.sources import delta_log as D

    table = fixture_dir(sf_dir, "cam_etl_delta_cdf", "orders_cdf")

    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias(
            "cents"
        ),
    )

    def adds(paths, data_change=True):
        return [D.add_action(table, p, mtime=1, data_change=data_change) for p in paths]

    def removes(paths):
        return [D.remove_action(p, 2) for p in paths]

    meta = {
        "id": "orders-cdf",
        "format": {"provider": "parquet", "options": {}},
        "schemaString": "{}",
        "partitionColumns": [],
        "configuration": {"delta.enableChangeDataFeed": "true"},
    }
    v0_files = D.write_files(table, o.repartition(4), "v0")
    D.write_commit(
        table,
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 4}},
            {"metaData": meta},
        ]
        + adds(v0_files),
    )

    # v1: UPDATE cents += 11 where k % 10 = 0, with explicit cdc
    v1_df = o.withColumn(
        "cents",
        F.when(F.col("k") % 10 == 0, F.col("cents") + 11).otherwise(
            F.col("cents")
        ),
    )
    v1_files = D.write_files(table, v1_df.repartition(4), "v1")
    touched = o.filter(F.col("k") % 10 == 0)
    pre = touched.withColumn("_change_type", F.lit("update_preimage"))
    post = (
        touched.withColumn("cents", F.col("cents") + 11)
        .withColumn("_change_type", F.lit("update_postimage"))
    )
    cdc_files = D.write_files(table, pre, "_change_data/v1pre") + D.write_files(
        table, post, "_change_data/v1post"
    )
    cdc_actions = [
        {
            "cdc": {
                "path": p,
                "partitionValues": {},
                "size": os.path.getsize(os.path.join(table, p)),
                "dataChange": False,
            }
        }
        for p in cdc_files
    ]
    D.write_commit(
        table, 1, removes(v0_files) + adds(v1_files) + cdc_actions
    )

    # v2: rewrite DELETE of k % 9 = 0 — NO cdc, change set derived
    v2_df = v1_df.filter(F.col("k") % 9 != 0)
    v2_files = D.write_files(table, v2_df.repartition(4), "v2")
    D.write_commit(table, 2, removes(v1_files) + adds(v2_files))

    snap_df, _snap, _n = D.read_snapshot(spark, table)
    assert snap_df.count() == v2_df.count()

    changes = D.read_changes(spark, table, 0)
    return changes.groupBy(
        F.col("_commit_version").alias("version"),
        F.col("_change_type").alias("change"),
    ).agg(
        F.count("*").alias("n"),
        F.sum("k").alias("sum_key"),
        F.sum("cents").alias("sum_cents"),
    )


@register(
    "s33_iceberg_equality_deletes",
    f"""
    WITH b AS (
      SELECT o_orderkey AS k, (o_orderkey % 4)::BIGINT AS bucket,
             {CENTS} AS cents
      FROM orders
    )
    SELECT 1::BIGINT AS snap, bucket, count(*)::BIGINT AS n_orders,
           sum(k)::BIGINT AS sum_key, sum(cents)::BIGINT AS sum_cents
    FROM b GROUP BY bucket
    UNION ALL
    SELECT 2::BIGINT, bucket, count(*)::BIGINT,
           sum(k)::BIGINT, sum(cents)::BIGINT
    FROM b WHERE k % 7 <> 0 GROUP BY bucket
    UNION ALL
    SELECT 3::BIGINT, bucket, count(*)::BIGINT,
           sum(k)::BIGINT, sum(cents)::BIGINT
    FROM b WHERE bucket = 0 OR k % 7 <> 0 GROUP BY bucket
    """,
    tags=["S1", "iceberg", "lake", "merge-on-read", "equality-deletes",
          "avro"],
)
def s33_iceberg_equality_deletes(spark, sf_dir):
    """Iceberg v2 EQUALITY DELETES, merge-on-read
    (sources/iceberg_meta.py): snapshot 101 (seq 1) is four bucket
    files of orders; snapshot 202 adds a DELETE MANIFEST with TWO
    equality-delete groups — Avro files of o_orderkey values
    (equality_ids=[1], the delete-file schema IS the table schema
    projected onto that column) at sequence 2 deleting every
    k % 7 == 0 key, and a decoy at sequence 1 naming every
    k % 5 == 0 key. The spec's gate for equality deletes is STRICTLY
    greater (delete.seq > data.seq), so the seq-1 decoy — equal to
    the data files' sequence — must NOT apply while the seq-2
    deletes must: the oracle's snap-2 branch filters only k % 7.
    Snapshot 303 re-adds bucket 0's file at sequence 3 (a compaction
    rewrite), which sheds the seq-2 deletes for that bucket only —
    the oracle's snap-3 branch. Deletes are decoded executor-side
    through the engine's own Avro codec and applied as an anti-join
    on the equality column with the per-file sequence gate from a
    broadcast metadata map. At 100 TB this is the streaming-upsert
    read path: equality deletes are how Flink/CDC writers express
    key-level retractions without knowing row positions."""
    import os

    from pyspark.sql import functions as F

    from cam_etl_spark.sources.iceberg_meta import (
        manifest_entry,
        read_snapshot,
        write_equality_deletes,
        write_manifest,
        write_snapshot,
        write_table_metadata,
    )

    table = fixture_dir(sf_dir, "cam_etl_iceberg_eqdel", "orders_eq")
    data_dir = os.path.join(table, "data")

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        (F.col("o_orderkey") % 4).cast("string").alias("bucket"),
    )
    o.repartition(4, "bucket").sortWithinPartitions(
        "bucket", "o_orderkey"
    ).write.partitionBy("bucket").parquet(data_dir, mode="overwrite")

    bucket_file = {}
    for root, _dirs, names in os.walk(data_dir):
        for n in names:
            if n.endswith(".parquet"):
                bkt = root.split("bucket=")[1].split("/")[0]
                assert bkt not in bucket_file, "one file per bucket"
                bucket_file[bkt] = os.path.join(root, n)

    def entry(path, bkt, seq, content=0, status=1, eq_ids=None):
        return manifest_entry(
            path, None if content else {"bucket": bkt}, status=status,
            sequence_number=seq, content=content, equality_ids=eq_ids,
        )

    md = os.path.join(table, "metadata")
    os.makedirs(md, exist_ok=True)
    m1 = os.path.join(md, "m-data.avro")
    write_manifest(
        m1, [entry(p, b, 1) for b, p in sorted(bucket_file.items())]
    )
    snap1 = write_snapshot(table, 101, [m1])

    # doomed keys by VALUE (not position) — two groups at different
    # sequences to pin the strict gate
    keys7 = [
        r["o_orderkey"]
        for r in o.filter(F.col("o_orderkey") % 7 == 0)
        .select("o_orderkey").collect()
    ]  # fixture construction only; bounded by |orders|/7
    keys5 = [
        r["o_orderkey"]
        for r in o.filter(F.col("o_orderkey") % 5 == 0)
        .select("o_orderkey").collect()
    ]
    eq_field = [{"name": "o_orderkey", "type": "long", "field-id": 1}]
    eqd_applies = os.path.join(md, "eqd-seq2.avro")
    write_equality_deletes(
        eqd_applies, eq_field, [{"o_orderkey": k} for k in sorted(keys7)]
    )
    eqd_decoy = os.path.join(md, "eqd-seq1-decoy.avro")
    write_equality_deletes(
        eqd_decoy, eq_field, [{"o_orderkey": k} for k in sorted(keys5)]
    )
    mdel = os.path.join(md, "m-eq-deletes.avro")
    write_manifest(
        mdel,
        [
            entry(eqd_applies, None, 2, content=2, eq_ids=[1]),
            entry(eqd_decoy, None, 1, content=2, eq_ids=[1]),
        ],
    )
    snap2 = write_snapshot(table, 202, [m1, (mdel, 1)], parent_id=101)

    # snapshot 303: bucket 0's file re-added at seq 3 (compaction
    # rewrite) — sheds the seq-2 equality deletes for that file only
    m2 = os.path.join(md, "m-data2.avro")
    write_manifest(
        m2,
        [entry(bucket_file["0"], "0", 3)]
        + [
            entry(p, b, 1, status=0)
            for b, p in sorted(bucket_file.items())
            if b != "0"
        ],
    )
    snap3 = write_snapshot(table, 303, [m2, (mdel, 1)], parent_id=202)
    write_table_metadata(table, 3, [snap1, snap2, snap3], 303, ["bucket"])

    df1, s1, _ = read_snapshot(spark, table, snapshot_id=101)
    assert not s1["delete_files"]
    df2, s2, _ = read_snapshot(spark, table, snapshot_id=202)
    assert [f["content"] for f in s2["delete_files"]] == [2, 2]
    df3, _s3, _ = read_snapshot(spark, table)
    n1, n2, n3 = df1.count(), df2.count(), df3.count()
    assert n1 - n2 == len(keys7), (n1, n2, len(keys7))
    assert n2 < n3 < n1, (n1, n2, n3)

    def agg(df, snap):
        return df.groupBy(
            F.col("bucket").cast("long").alias("bucket")
        ).agg(
            F.count("*").alias("n_orders"),
            F.sum("o_orderkey").alias("sum_key"),
            F.sum("cents").alias("sum_cents"),
        ).select(
            F.lit(snap).cast("long").alias("snap"),
            "bucket",
            "n_orders",
            "sum_key",
            "sum_cents",
        )

    return agg(df1, 1).unionAll(agg(df2, 2)).unionAll(agg(df3, 3))


@register(
    "s34_iceberg_bucket_transform",
    f"""
    WITH b AS (
      {ORDER_CENTS}
    ), pick AS (SELECT k FROM b ORDER BY k LIMIT 5)
    SELECT 1::BIGINT AS mode, count(*)::BIGINT AS n_orders,
           sum(k)::BIGINT AS sum_key, sum(cents)::BIGINT AS sum_cents
    FROM b
    UNION ALL
    SELECT 2::BIGINT, count(*)::BIGINT, sum(k)::BIGINT,
           sum(cents)::BIGINT
    FROM b WHERE k IN (SELECT k FROM pick)
    """,
    tags=["S1", "iceberg", "lake", "partition-transforms", "bucket",
          "murmur3", "pruning"],
)
def s34_iceberg_bucket_transform(spark, sf_dir):
    """Iceberg PARTITION TRANSFORMS (sources/iceberg_meta.py):
    orders partitioned by the spec's `bucket[8]` of o_orderkey —
    32-bit Murmur3 (public Appleby algorithm; our implementation
    independently reproduces the spec's Appendix B vectors
    hashLong(34)=2017239379 and hashString("iceberg")=1210000089,
    and is property-tested against Spark's JVM Murmur3 on
    word-aligned inputs) with the (hash & Int.MAX) % N bucket rule.
    The WRITE side computes buckets numpy-VECTORIZED inside an
    Arrow mapInPandas batch (an 8-byte long is exactly two Murmur3
    words — no per-row Python); the READ side turns a point-lookup
    key set
    into a partition filter via transform_partition_filter and
    prunes files at the METADATA level before any parquet IO. Mode
    1 scans all 8 bucket files; mode 2 reads the 5 smallest keys
    through the pruned scan — the oracle's IN-subquery replay
    matches only if bucket routing is consistent between write and
    prune (a mis-bucketed key would vanish from the pruned scan).
    In-code: pruned file count == |distinct buckets of the keys|
    < 8. At 100 TB bucket transforms are how Iceberg co-locates
    point lookups and joins without a shuffle: the scan plan comes
    from kilobytes of manifest, touching only matching buckets."""
    import os

    from pyspark.sql import functions as F

    from cam_etl_spark.sources.iceberg_meta import (
        bucket_transform,
        manifest_entry,
        read_snapshot,
        transform_partition_filter,
        write_manifest,
        write_snapshot,
        write_table_metadata,
    )

    table = fixture_dir(sf_dir, "cam_etl_iceberg_bucket", "orders_bucketed")
    data_dir = os.path.join(table, "data")

    def add_bucket(batches):
        from cam_etl_spark.sources.iceberg_meta import bucket_long_numpy

        for pdf in batches:
            pdf["kb"] = bucket_long_numpy(
                pdf["o_orderkey"].to_numpy(), 8
            ).astype("int32")
            yield pdf

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    ).mapInPandas(add_bucket, "o_orderkey long, cents long, kb int")
    o.repartition(8, "kb").write.partitionBy("kb").parquet(
        data_dir, mode="overwrite"
    )

    entries = []
    for root, _dirs, names in os.walk(data_dir):
        for n in names:
            if n.endswith(".parquet"):
                kb = root.split("kb=")[1].split("/")[0]
                entries.append(manifest_entry(
                    os.path.join(root, n), {"kb": kb}, sequence_number=1
                ))
    assert len(entries) == 8, len(entries)

    md = os.path.join(table, "metadata")
    os.makedirs(md, exist_ok=True)
    m1 = os.path.join(md, "m1.avro")
    write_manifest(m1, entries)
    snap1 = write_snapshot(table, 101, [m1])
    spec = [
        {
            "name": "kb",
            "transform": "bucket[8]",
            "source-name": "o_orderkey",
        }
    ]
    write_table_metadata(table, 1, [snap1], 101, spec)

    keys = [
        r["o_orderkey"]
        for r in o.select("o_orderkey")
        .orderBy("o_orderkey")
        .limit(5)
        .collect()
    ]
    pf = transform_partition_filter(spec, {"o_orderkey": set(keys)})
    assert pf == {
        "kb": {str(bucket_transform(k, 8)) for k in keys}
    }

    df_full, _s, n_full = read_snapshot(spark, table)
    assert n_full == 8
    df_pruned, _s2, n_pruned = read_snapshot(
        spark, table, partition_filter=pf
    )
    assert n_pruned == len(pf["kb"]) < 8, (n_pruned, pf)

    def agg(df, mode):
        return df.agg(
            F.count("*").alias("n_orders"),
            F.sum("o_orderkey").alias("sum_key"),
            F.sum("cents").alias("sum_cents"),
        ).select(
            F.lit(mode).cast("long").alias("mode"),
            "n_orders",
            "sum_key",
            "sum_cents",
        )

    return agg(df_full, 1).unionAll(
        agg(df_pruned.filter(F.col("o_orderkey").isin(keys)), 2)
    )


@register(
    "s35_delta_optimize_compaction",
    f"""
    WITH b AS (
      {ORDER_CENTS}
    ), app AS (
      SELECT k + 1000000000 AS k, cents + 5 AS cents
      FROM b WHERE k % 11 = 0
    ), v2 AS (SELECT * FROM b UNION ALL SELECT * FROM app)
    SELECT 'snap_v0' AS mode, 12::BIGINT AS n_files,
           count(*)::BIGINT AS n, sum(k)::BIGINT AS sum_key,
           sum(cents)::BIGINT AS sum_cents
    FROM b
    UNION ALL
    SELECT 'snap_v1', 3::BIGINT, count(*)::BIGINT, sum(k)::BIGINT,
           sum(cents)::BIGINT
    FROM b
    UNION ALL
    SELECT 'snap_v2', 4::BIGINT, count(*)::BIGINT, sum(k)::BIGINT,
           sum(cents)::BIGINT
    FROM v2
    UNION ALL
    SELECT 'cdf_v0_insert', 0::BIGINT, count(*)::BIGINT,
           sum(k)::BIGINT, sum(cents)::BIGINT
    FROM b
    UNION ALL
    SELECT 'cdf_v2_insert', 0::BIGINT, count(*)::BIGINT,
           sum(k)::BIGINT, sum(cents)::BIGINT
    FROM app
    """,
    tags=["S1", "delta", "lake", "compaction", "optimize", "cdf",
          "checkpoint"],
)
def s35_delta_optimize_compaction(spark, sf_dir):
    """Delta OPTIMIZE-style COMPACTION (delta_log.py compact_files):
    version 0 lands orders as 12 small files with CDF enabled;
    version 1 bin-packs them 4-per-group into 3 files via
    remove+add commits that all carry dataChange=FALSE — the
    protocol's marker for content-preserving rearrangement; version
    2 appends the k % 11 == 0 subset (keys offset by 1e9, cents+5)
    as a real dataChange commit. Pins, each observable in the
    oracle: (a) the v1 snapshot is BYTE-FOR-BYTE the same relation
    as v0 (same aggregates, n_files 12 -> 3); (b) the CDF reader
    SKIPS version 1 entirely — read_changes(0, 2) yields inserts
    for v0 and v2 only, because dataChange=false actions are not
    changes (in-code assert: no _commit_version == 1 rows); (c) a
    checkpoint written at v1 replays v2 from the checkpoint
    (from_checkpoint == 1), so compaction + checkpointing compose.
    At 100 TB compaction bounds scan task counts (12 -> 3 here,
    millions -> thousands there); each group rewrite is one
    distributed job, the commit is kilobytes of log, and CDF
    consumers are provably undisturbed."""
    from pyspark.sql import functions as F

    from cam_etl_spark.sources import delta_log as D

    table = fixture_dir(sf_dir, "cam_etl_delta_optimize", "orders_opt")

    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias(
            "cents"
        ),
    )

    def adds(paths, data_change=True):
        return [D.add_action(table, p, mtime=1, data_change=data_change) for p in paths]

    meta = {
        "id": "orders-optimize",
        "format": {"provider": "parquet", "options": {}},
        "schemaString": "{}",
        "partitionColumns": [],
        "configuration": {"delta.enableChangeDataFeed": "true"},
    }
    v0_files = D.write_files(table, o.repartition(12), "v0")
    assert len(v0_files) == 12, len(v0_files)
    D.write_commit(
        table,
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 4}},
            {"metaData": meta},
        ]
        + adds(v0_files),
    )
    snap0_df, snap0, n0 = D.read_snapshot(spark, table)

    res = D.compact_files(spark, table, group_size=4)
    assert res == {"version": 1, "n_before": 12, "n_after": 3}, res
    snap1_df, snap1, n1 = D.read_snapshot(spark, table)
    assert snap1["version"] == 1 and n1 == 3

    # checkpoint at the compacted version, then append at v2
    D.write_checkpoint(table, 1, snap1)
    appended = o.filter(F.col("k") % 11 == 0).select(
        (F.col("k") + 1000000000).alias("k"),
        (F.col("cents") + 5).alias("cents"),
    )
    v2_files = D.write_files(table, appended.repartition(1), "v2")
    D.write_commit(table, 2, adds(v2_files))
    snap2_df, snap2, n2 = D.read_snapshot(spark, table)
    assert snap2["from_checkpoint"] == 1 and n2 == 4, snap2

    changes = D.read_changes(spark, table, 0)
    assert changes.filter(
        F.col("_commit_version") == 1
    ).count() == 0, "compaction must be invisible to CDF"

    def agg(df, mode, n_files):
        return df.agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_key"),
            F.sum("cents").alias("sum_cents"),
        ).select(
            F.lit(mode).alias("mode"),
            F.lit(n_files).cast("long").alias("n_files"),
            "n",
            "sum_key",
            "sum_cents",
        )

    cdf = changes.filter(F.col("_change_type") == "insert")
    return (
        agg(snap0_df, "snap_v0", n0)
        .unionAll(agg(snap1_df, "snap_v1", n1))
        .unionAll(agg(snap2_df, "snap_v2", n2))
        .unionAll(
            agg(
                cdf.filter(F.col("_commit_version") == 0),
                "cdf_v0_insert",
                0,
            )
        )
        .unionAll(
            agg(
                cdf.filter(F.col("_commit_version") == 2),
                "cdf_v2_insert",
                0,
            )
        )
    )


@register(
    "s36_iceberg_manifest_pruning",
    f"""
    WITH m AS (SELECT max(o_orderkey) AS mx FROM orders),
         b AS (
      SELECT o_orderkey AS k,
             {CENTS} AS cents,
             (o_orderkey * 8) // (mx + 1) AS kr
      FROM orders, m
    )
    SELECT 1::BIGINT AS mode, 8::BIGINT AS n_files,
           2::BIGINT AS n_manifests_read,
           0::BIGINT AS n_manifests_skipped,
           count(*)::BIGINT AS n_rows, sum(k)::BIGINT AS sum_key,
           sum(cents)::BIGINT AS sum_cents
    FROM b
    UNION ALL
    SELECT 2::BIGINT, 2::BIGINT, 1::BIGINT, 1::BIGINT,
           count(*)::BIGINT, sum(k)::BIGINT, sum(cents)::BIGINT
    FROM b WHERE kr >= 6
    """,
    tags=["S1", "iceberg", "lake", "manifest-pruning", "field-summary",
          "pruning"],
)
def s36_iceberg_manifest_pruning(spark, sf_dir):
    """Iceberg MANIFEST-LEVEL pruning (sources/iceberg_meta.py):
    the manifest LIST carries the spec's field_summary per partition
    field (field 507: contains_null + single-value-serialized
    lower/upper bounds), so scan planning can skip whole manifests
    WITHOUT READING THEM — the tier above s31's per-file bounds.
    Fixture: orders in 8 key-range partitions (kr = k*8 div (max+1),
    one file each) tracked by TWO manifests, low half (kr 0-3) and
    high half (kr 4-7), each summarized with its kr bounds. Mode 1
    scans everything; mode 2 asks for kr >= 6 with manifest_ranges
    {0: (6, 7)} — the low manifest is skipped unread
    (n_manifests_read 1, skipped 1, both oracle-checked columns),
    then file-level partition_filter narrows the remaining manifest
    to 2 files. The oracle replays the range relationally, so a
    wrongly-skipped manifest would surface as missing rows. At
    100 TB a table has thousands of manifests; this two-tier prune
    (field_summary -> per-file bounds) is what keeps planning cost
    proportional to the MATCHING data, not the table size."""
    import os

    from pyspark.sql import functions as F

    from cam_etl_spark.sources.iceberg_meta import (
        long_bound,
        manifest_entry,
        read_snapshot,
        write_manifest,
        write_snapshot,
        write_table_metadata,
    )

    table = fixture_dir(sf_dir, "cam_etl_iceberg_msum", "orders_ranges")
    data_dir = os.path.join(table, "data")

    o0 = t(spark, sf_dir, "orders")
    mx = o0.agg(F.max("o_orderkey")).first()[0]
    o = o0.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        F.floor((F.col("o_orderkey") * 8) / (mx + 1))
        .cast("long").alias("kr"),
    )
    o.repartition(8, "kr").write.partitionBy("kr").parquet(
        data_dir, mode="overwrite"
    )

    kr_file = {}
    for root, _dirs, names in os.walk(data_dir):
        for n in names:
            if n.endswith(".parquet"):
                kr = int(root.split("kr=")[1].split("/")[0])
                assert kr not in kr_file, "one file per range"
                kr_file[kr] = os.path.join(root, n)
    assert sorted(kr_file) == list(range(8)), sorted(kr_file)

    def entry(kr):
        return manifest_entry(kr_file[kr], {"kr": str(kr)}, sequence_number=1)

    def summary(lo, hi):
        return [
            {
                "contains_null": False,
                "lower_bound": long_bound(lo),
                "upper_bound": long_bound(hi),
            }
        ]

    md = os.path.join(table, "metadata")
    os.makedirs(md, exist_ok=True)
    m_low = os.path.join(md, "m-low.avro")
    write_manifest(m_low, [entry(kr) for kr in range(4)])
    m_high = os.path.join(md, "m-high.avro")
    write_manifest(m_high, [entry(kr) for kr in range(4, 8)])
    snap1 = write_snapshot(
        table,
        101,
        [(m_low, 0, summary(0, 3)), (m_high, 0, summary(4, 7))],
    )
    write_table_metadata(table, 1, [snap1], 101, ["kr"])

    df_full, s_full, n_full = read_snapshot(spark, table)
    assert n_full == 8
    assert s_full["n_manifests"] == 2
    assert s_full["n_manifests_skipped"] == 0
    df_hi, s_hi, n_hi = read_snapshot(
        spark,
        table,
        partition_filter={"kr": {"6", "7"}},
        manifest_ranges={0: (6, 7)},
    )
    assert n_hi == 2, n_hi
    assert s_hi["n_manifests"] == 1, s_hi["n_manifests"]
    assert s_hi["n_manifests_skipped"] == 1

    def agg(df, mode, n_files, s):
        return df.agg(
            F.count("*").alias("n_rows"),
            F.sum("o_orderkey").alias("sum_key"),
            F.sum("cents").alias("sum_cents"),
        ).select(
            F.lit(mode).cast("long").alias("mode"),
            F.lit(n_files).cast("long").alias("n_files"),
            F.lit(s["n_manifests"]).cast("long").alias(
                "n_manifests_read"
            ),
            F.lit(s["n_manifests_skipped"]).cast("long").alias(
                "n_manifests_skipped"
            ),
            "n_rows",
            "sum_key",
            "sum_cents",
        )

    return agg(df_full, 1, n_full, s_full).unionAll(
        agg(df_hi, 2, n_hi, s_hi)
    )


@register(
    "s37_iceberg_expire_snapshots",
    f"""
    WITH b AS (
      {ORDER_STATUS_CENTS}
      FROM orders
    ), cur AS (
      SELECT * FROM b WHERE NOT (status = 'O' AND k % 3 = 0)
    )
    SELECT 'snap' AS mode, status, count(*)::BIGINT AS n,
           sum(k)::BIGINT AS sum_key, sum(cents)::BIGINT AS sum_cents
    FROM cur GROUP BY status
    UNION ALL
    SELECT 'orphans', 'meta', 1::BIGINT, 1::BIGINT, 1::BIGINT
    """,
    tags=["S1", "iceberg", "lake", "maintenance", "expire-snapshots",
          "gc"],
)
def s37_iceberg_expire_snapshots(spark, sf_dir):
    """Iceberg SNAPSHOT EXPIRATION + orphan GC
    (sources/iceberg_meta.py expire_snapshots): snapshot 101 holds
    one file per o_orderstatus; snapshot 202 REWRITES the 'O'
    partition (drops k % 3 == 0) with a fresh manifest that carries
    the surviving files as EXISTING entries. Expiring 101 must
    orphan exactly the old 'O' data file, the 101 manifest, and the
    101 manifest list — and nothing else, because reachability from
    the surviving snapshot (not age) decides: the F/P files are
    shared by both snapshots and live on. The orphan row's three
    counts are oracle-checked literals; the entry also deletes the
    orphans from disk and proves the current snapshot still scans
    (its aggregate IS the other oracle branch) while time travel to
    101 now raises. At 100 TB expiry is what bounds metadata and
    storage growth under rewrite churn."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from cam_etl_spark.sources.iceberg_meta import (
        expire_snapshots,
        manifest_entry,
        read_snapshot,
        snapshot_files,
        write_manifest,
        write_snapshot,
        write_table_metadata,
    )

    table = fixture_dir(sf_dir, "cam_etl_iceberg_expire", "orders_expire")
    data_dir = os.path.join(table, "data")

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        F.col("o_orderstatus").alias("status"),
    )
    o.repartition(3, "status").write.partitionBy("status").parquet(
        data_dir, mode="overwrite"
    )
    status_file = {}
    for root, _dirs, names in os.walk(data_dir):
        for n in names:
            if n.endswith(".parquet"):
                st = root.split("status=")[1].split("/")[0]
                assert st not in status_file
                status_file[st] = os.path.join(root, n)
    assert sorted(status_file) == ["F", "O", "P"], sorted(status_file)

    # rewrite of the O partition, landed INSIDE the hive layout so
    # basePath still materializes the partition column
    rewrite_tmp = os.path.join(table, "rewrite_tmp")
    o.filter(
        (F.col("status") == "O") & (F.col("o_orderkey") % 3 != 0)
    ).drop("status").repartition(1).write.parquet(
        rewrite_tmp, mode="overwrite"
    )
    import glob

    part = glob.glob(os.path.join(rewrite_tmp, "*.parquet"))
    assert len(part) == 1
    new_o = [os.path.join(data_dir, "status=O", "rewrite-0.parquet")]
    shutil.move(part[0], new_o[0])
    shutil.rmtree(rewrite_tmp)

    def entry(path, st, status_code=1):
        return manifest_entry(
            path, {"status": st}, status=status_code, sequence_number=1
        )

    md = os.path.join(table, "metadata")
    os.makedirs(md, exist_ok=True)
    m1 = os.path.join(md, "m1.avro")
    write_manifest(
        m1, [entry(p, s) for s, p in sorted(status_file.items())]
    )
    snap1 = write_snapshot(table, 101, [m1])
    m2 = os.path.join(md, "m2.avro")
    write_manifest(
        m2,
        [
            entry(status_file["F"], "F", 0),
            entry(status_file["P"], "P", 0),
            entry(new_o[0], "O", 1),
        ],
    )
    snap2 = write_snapshot(table, 202, [m2], parent_id=101)
    write_table_metadata(table, 1, [snap1, snap2], 202, ["status"])

    df1, _s, _n = read_snapshot(spark, table, snapshot_id=101)
    assert df1.count() > 0

    res = expire_snapshots(table, {202}, delete_orphans=True)
    assert res["expired"] == [101]
    assert res["orphan_files"] == [status_file["O"]], res["orphan_files"]
    assert res["orphan_manifests"] == [m1]
    assert len(res["orphan_manifest_lists"]) == 1
    assert not os.path.exists(status_file["O"])
    assert os.path.exists(status_file["F"]) and os.path.exists(new_o[0])

    df2, _s2, _n2 = read_snapshot(spark, table)
    try:
        snapshot_files(table, 101)
        raise AssertionError("expired snapshot must be unreadable")
    except ValueError:
        pass

    agg = df2.groupBy("status").agg(
        F.count("*").alias("n"),
        F.sum("o_orderkey").alias("sum_key"),
        F.sum("cents").alias("sum_cents"),
    ).select(F.lit("snap").alias("mode"), "status", "n", "sum_key",
             "sum_cents")
    orphan_row = spark.createDataFrame(
        [
            (
                "orphans",
                "meta",
                len(res["orphan_files"]),
                len(res["orphan_manifests"]),
                len(res["orphan_manifest_lists"]),
            )
        ],
        "mode string, status string, n long, sum_key long, sum_cents long",
    )
    return agg.unionAll(orphan_row)


@register(
    "s38_delta_vacuum",
    f"""
    WITH b AS (
      {ORDER_CENTS}
    )
    SELECT 'snap_v1' AS mode, count(*)::BIGINT AS n,
           sum(k)::BIGINT AS sum_key, sum(cents)::BIGINT AS sum_cents
    FROM b
    UNION ALL
    SELECT 'vacuumed', 6::BIGINT, 2::BIGINT, 1::BIGINT
    """,
    tags=["S1", "delta", "lake", "maintenance", "vacuum", "gc"],
)
def s38_delta_vacuum(spark, sf_dir):
    """Delta VACUUM (delta_log.py vacuum): version 0 lands orders as
    6 small files; version 1 compacts them into 2 (compact_files,
    dataChange=false tombstones with deletionTimestamp 0). Vacuum at
    cutoff 10 lists EXACTLY the 6 tombstoned-and-not-live originals
    (a re-added path would be exempt — the latest action wins),
    deletes them, and the current snapshot still scans byte-for-byte
    (its aggregate is the oracle's first branch; candidate count,
    live count and version are the literals in the second). Time
    travel to v0 metadata still replays — reading its files is what
    breaks, the real system's retention trade-off. At 100 TB vacuum
    reclaims the storage compaction strands; the candidate scan is a
    driver-side walk over kilobytes of log."""
    import os

    from pyspark.sql import functions as F

    from cam_etl_spark.sources import delta_log as D

    table = fixture_dir(sf_dir, "cam_etl_delta_vacuum", "orders_vac")

    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias(
            "cents"
        ),
    )
    out = os.path.join(table, "v0")
    o.repartition(6).write.parquet(out, mode="overwrite")
    v0_files = [
        os.path.join("v0", n)
        for n in sorted(os.listdir(out))
        if n.endswith(".parquet")
    ]
    assert len(v0_files) == 6
    meta = {
        "id": "orders-vacuum",
        "format": {"provider": "parquet", "options": {}},
        "schemaString": "{}",
        "partitionColumns": [],
        "configuration": {},
    }
    D.write_commit(
        table,
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": meta},
        ]
        + [D.add_action(table, p, mtime=1) for p in v0_files],
    )
    res = D.compact_files(spark, table, group_size=3)
    assert res["n_after"] == 2

    vac = D.vacuum(table, cutoff_ts=10, delete=True)
    assert vac["candidates"] == v0_files, vac["candidates"]
    assert vac["n_live"] == 2 and vac["version"] == 1
    assert not any(
        os.path.exists(os.path.join(table, p)) for p in v0_files
    )

    snap_df, snap, n = D.read_snapshot(spark, table)
    assert n == 2 and snap["version"] == 1
    # metadata replay of v0 still works; its files are gone
    assert len(D.replay_log(table, 0)["files"]) == 6

    agg = snap_df.agg(
        F.count("*").alias("n"),
        F.sum("k").alias("sum_key"),
        F.sum("cents").alias("sum_cents"),
    ).select(F.lit("snap_v1").alias("mode"), "n", "sum_key", "sum_cents")
    vrow = spark.createDataFrame(
        [("vacuumed", len(vac["candidates"]), vac["n_live"],
          vac["version"])],
        "mode string, n long, sum_key long, sum_cents long",
    )
    return agg.unionAll(vrow)


@register(
    "s39_iceberg_incremental_scan",
    f"""
    WITH b AS (
      {ORDER_CENTS}
    )
    SELECT 'incr' AS mode, 4::BIGINT AS n_files,
           count(*)::BIGINT AS n, sum(k)::BIGINT AS sum_key,
           sum(cents)::BIGINT AS sum_cents
    FROM b WHERE k % 3 <> 0
    UNION ALL
    SELECT 'rollback', 4::BIGINT, count(*)::BIGINT, sum(k)::BIGINT,
           sum(cents)::BIGINT
    FROM b WHERE k % 3 IN (0, 1)
    """,
    tags=["S1", "iceberg", "lake", "incremental", "rollback",
          "time-travel"],
)
def s39_iceberg_incremental_scan(spark, sf_dir):
    """Iceberg INCREMENTAL APPEND SCAN + ROLLBACK
    (sources/iceberg_meta.py): three append snapshots land orders in
    thirds (k % 3 = 0 / 1 / 2, two files each).
    read_incremental(101, 303) scans EXACTLY the four files the two
    later appends added — kilobytes of metadata diff, then one
    parquet scan over only the new data; the oracle's first branch
    (k % 3 <> 0, n_files 4) matches only if the file-set diff is
    exact in both directions. rollback_to_snapshot(202) then writes
    a NEW metadata version whose current pointer is the older
    snapshot — history kept, nothing deleted — and the current-table
    read (oracle branch two: k % 3 in (0,1)) proves the pointer
    moved while snapshot 303 stays time-travelable. At 100 TB the
    incremental scan is the downstream-consumer checkpoint path and
    rollback is the cheap bad-commit undo: both are pure metadata
    operations."""
    import os

    from pyspark.sql import functions as F

    from cam_etl_spark.sources.iceberg_meta import (
        manifest_entry,
        read_incremental,
        read_snapshot,
        rollback_to_snapshot,
        snapshot_files,
        write_manifest,
        write_snapshot,
        write_table_metadata,
    )

    table = fixture_dir(sf_dir, "cam_etl_iceberg_incr", "orders_incr")
    data_dir = os.path.join(table, "data")

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )

    def land(third, rel):
        out = os.path.join(data_dir, rel)
        o.filter(F.col("o_orderkey") % 3 == third).repartition(
            2
        ).write.parquet(out, mode="overwrite")
        return [
            os.path.join(out, n)
            for n in sorted(os.listdir(out))
            if n.endswith(".parquet")
        ]

    def entry(path, status=1):
        return manifest_entry(path, status=status, sequence_number=1)

    md = os.path.join(table, "metadata")
    os.makedirs(md, exist_ok=True)
    files = {}
    manifests = []
    snaps = []
    for i, third in enumerate((0, 1, 2)):
        files[third] = land(third, f"a{third}")
        assert len(files[third]) == 2
        m = os.path.join(md, f"m{i}.avro")
        write_manifest(m, [entry(p) for p in files[third]])
        manifests.append(m)
        sid = 101 * (i + 1)
        snaps.append(
            write_snapshot(
                table,
                sid,
                list(manifests),
                parent_id=101 * i if i else None,
            )
        )
    write_table_metadata(table, 1, snaps, 303, [])

    df_incr, n_new = read_incremental(spark, table, 101, 303)
    assert n_new == 4, n_new

    rollback_to_snapshot(table, 202)
    df_cur, s_cur, n_cur = read_snapshot(spark, table)
    assert s_cur["snapshot_id"] == 202 and n_cur == 4
    # abandoned snapshot stays time-travelable
    assert len(snapshot_files(table, 303)["files"]) == 6

    def agg(df, mode, n_files):
        return df.agg(
            F.count("*").alias("n"),
            F.sum("o_orderkey").alias("sum_key"),
            F.sum("cents").alias("sum_cents"),
        ).select(
            F.lit(mode).alias("mode"),
            F.lit(n_files).cast("long").alias("n_files"),
            "n",
            "sum_key",
            "sum_cents",
        )

    return agg(df_incr, "incr", n_new).unionAll(
        agg(df_cur, "rollback", n_cur)
    )


@register(
    "s40_delta_schema_evolution",
    f"""
    WITH b AS (
      {ORDER_CENTS}
    ), app AS (
      SELECT k + 1000000000 AS k, cents, 7::BIGINT AS flag
      FROM b WHERE k % 6 = 0
    ), v1 AS (
      SELECT k, cents, NULL::BIGINT AS flag FROM b
      UNION ALL SELECT * FROM app
    )
    SELECT 'v0' AS mode, count(*)::BIGINT AS n,
           sum(k)::BIGINT AS sum_key, sum(cents)::BIGINT AS sum_cents,
           0::BIGINT AS n_flag_null, 0::BIGINT AS sum_flag
    FROM b
    UNION ALL
    SELECT 'v1', count(*)::BIGINT, sum(k)::BIGINT, sum(cents)::BIGINT,
           sum(CASE WHEN flag IS NULL THEN 1 ELSE 0 END)::BIGINT,
           coalesce(sum(flag), 0)::BIGINT
    FROM v1
    """,
    tags=["S1", "delta", "lake", "schema-evolution", "add-column"],
)
def s40_delta_schema_evolution(spark, sf_dir):
    """Delta ADD COLUMN schema evolution (delta_log.py
    read_snapshot): the TABLE schema in metaData.schemaString — not
    the file schemas — defines the read. Version 0 lands orders as
    (k, cents) under a real Spark-JSON schemaString; version 1
    commits a NEW metaData whose schema adds `flag long` (a
    metadata-only ALTER — zero files rewritten, the add set is
    byte-identical) and appends one file that carries the column.
    Reading v0 yields two columns; reading latest yields three, with
    every pre-evolution row surfacing flag = NULL exactly as the
    protocol requires — the oracle counts the NULL backfill and sums
    the real values. Time travel to v0 after evolution still reads
    the OLD schema (last-metaData-wins per version). At 100 TB this
    is why lake schema changes are instant: the schema lives in
    kilobytes of log, never in the petabytes of parquet."""
    import json as _json

    from pyspark.sql import functions as F

    from cam_etl_spark.sources import delta_log as D

    table = fixture_dir(sf_dir, "cam_etl_delta_evolve", "orders_evolve")

    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias(
            "cents"
        ),
    )

    def adds(paths):
        return [D.add_action(table, p, mtime=1) for p in paths]

    def field(name):
        return {
            "name": name,
            "type": "long",
            "nullable": True,
            "metadata": {},
        }

    def meta(fields):
        return {
            "id": "orders-evolve",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": _json.dumps(
                {"type": "struct", "fields": fields}
            ),
            "partitionColumns": [],
            "configuration": {},
        }

    v0_files = D.write_files(table, o.repartition(4), "v0")
    D.write_commit(
        table,
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": meta([field("k"), field("cents")])},
        ]
        + adds(v0_files),
    )
    appended = o.filter(F.col("k") % 6 == 0).select(
        (F.col("k") + 1000000000).alias("k"),
        "cents",
        F.lit(7).cast("long").alias("flag"),
    )
    v1_files = D.write_files(table, appended.repartition(1), "v1")
    D.write_commit(
        table,
        1,
        [{"metaData": meta([field("k"), field("cents"), field("flag")])}]
        + adds(v1_files),
    )

    df0, s0, _ = D.read_snapshot(spark, table, version=0)
    assert df0.columns == ["k", "cents"], df0.columns
    df1, s1, _ = D.read_snapshot(spark, table)
    assert df1.columns == ["k", "cents", "flag"], df1.columns
    # time travel after evolution still reads the old schema
    df0b, _s, _ = D.read_snapshot(spark, table, version=0)
    assert df0b.columns == ["k", "cents"]

    def agg(df, mode, with_flag):
        exprs = [
            F.count("*").alias("n"),
            F.sum("k").alias("sum_key"),
            F.sum("cents").alias("sum_cents"),
        ]
        if with_flag:
            exprs += [
                F.sum(
                    F.when(F.col("flag").isNull(), 1).otherwise(0)
                ).alias("n_flag_null"),
                F.coalesce(F.sum("flag"), F.lit(0)).alias("sum_flag"),
            ]
        out = df.agg(*exprs)
        if not with_flag:
            out = out.withColumn(
                "n_flag_null", F.lit(0).cast("long")
            ).withColumn("sum_flag", F.lit(0).cast("long"))
        return out.select(
            F.lit(mode).alias("mode"),
            "n",
            "sum_key",
            "sum_cents",
            "n_flag_null",
            "sum_flag",
        )

    return agg(df0, "v0", False).unionAll(agg(df1, "v1", True))


@register(
    "s41_delta_merge_upsert",
    f"""
    WITH {ORDER_UPSERT}
    SELECT 'snap' AS mode, count(*)::BIGINT AS n,
           sum(k)::BIGINT AS sum_key, sum(cents)::BIGINT AS sum_cents
    FROM v1
    UNION ALL
    SELECT 'cdf_update_preimage', count(*)::BIGINT, sum(k)::BIGINT,
           sum(cents)::BIGINT
    FROM b WHERE k IN (SELECT k FROM upd)
    UNION ALL
    SELECT 'cdf_update_postimage', count(*)::BIGINT, sum(k)::BIGINT,
           sum(cents + 100)::BIGINT
    FROM b WHERE k IN (SELECT k FROM upd)
    UNION ALL
    SELECT 'cdf_insert', count(*)::BIGINT, sum(k)::BIGINT,
           sum(cents)::BIGINT
    FROM ins
    """,
    tags=["S1", "delta", "lake", "merge", "upsert", "cow", "cdf",
          "stats-pruning"],
)
def s41_delta_merge_upsert(spark, sf_dir):
    """Delta MERGE INTO — copy-on-write upsert (delta_log.py
    merge_into), the flagship lakehouse write: WHEN MATCHED update
    cents, WHEN NOT MATCHED insert. Version 0 lands orders as four
    RANGE-sorted files whose add actions carry real per-file min/max
    key stats; the merge source updates only low-range keys
    (k % 10 = 0, k <= max/4) and inserts fresh keys. The write-side
    discipline under test: candidate files from STATS against the
    source key range (metadata), the exact touched set from a
    distributed semi-join on `_metadata.file_path`, and ONLY touched
    files rewritten — the entry asserts most files' add entries
    survive untouched. The commit emits remove+add plus explicit cdc
    actions, so the oracle checks BOTH the final snapshot relation
    AND the row-level change feed (preimage / postimage / insert) of
    the merge version. At 100 TB this selective-rewrite shape is
    what makes upserts affordable: cost scales with touched data,
    not table size."""
    import os

    from pyspark.sql import functions as F

    from cam_etl_spark.sources import delta_log as D

    table = fixture_dir(sf_dir, "cam_etl_delta_merge", "orders_merge")

    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias(
            "cents"
        ),
    )
    out = os.path.join(table, "v0")
    o.repartitionByRange(4, "k").sortWithinPartitions("k").write.parquet(
        out, mode="overwrite"
    )
    v0_files = [
        os.path.join("v0", n)
        for n in sorted(os.listdir(out))
        if n.endswith(".parquet")
    ]
    assert len(v0_files) == 4
    # real per-file key stats for the add actions
    stats_rows = (
        spark.read.parquet(out)
        .groupBy(
            F.regexp_replace(
                F.col("_metadata.file_path"), "^file:/+", "/"
            ).alias("f")
        )
        .agg(F.min("k").alias("lo"), F.max("k").alias("hi"))
        .collect()
    )
    stats = {
        os.path.relpath(r["f"], table): (r["lo"], r["hi"])
        for r in stats_rows
    }
    meta = {
        "id": "orders-merge",
        "format": {"provider": "parquet", "options": {}},
        "schemaString": "{}",
        "partitionColumns": [],
        "configuration": {"delta.enableChangeDataFeed": "true"},
    }
    D.write_commit(
        table,
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 4}},
            {"metaData": meta},
        ]
        + [
            D.add_action(
                table, p, mtime=1,
                stats={"minValues": {"k": stats[p][0]},
                       "maxValues": {"k": stats[p][1]}},
            )
            for p in v0_files
        ],
    )

    mx = o.agg(F.max("k")).first()[0]
    source = (
        o.filter(
            (F.col("k") % 10 == 0) & (F.col("k") <= mx // 4)
        ).select("k", (F.col("cents") + 100).alias("cents"))
    ).unionByName(
        o.filter(F.col("k") % 97 == 0).select(
            (F.col("k") + 2000000000).alias("k"),
            (F.col("cents") + 9).alias("cents"),
        )
    )
    res = D.merge_into(
        spark, table, source, key="k", update_cols=["cents"],
        rel_prefix="m1",
    )
    assert res["version"] == 1
    assert 1 <= res["n_touched"] <= 2, res
    assert res["n_untouched"] >= 2, res
    assert res["n_inserted"] > 0 and res["n_updated"] > 0

    snap_df, snap, _n = D.read_snapshot(spark, table)
    # untouched files' add entries survive byte-identical
    live = {f["path"] for f in snap["files"]}
    assert len(live & set(v0_files)) == res["n_untouched"]

    changes = D.read_changes(spark, table, 1, 1)

    def agg(df, mode):
        return df.agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_key"),
            F.sum("cents").alias("sum_cents"),
        ).select(F.lit(mode).alias("mode"), "n", "sum_key", "sum_cents")

    parts = [agg(snap_df, "snap")]
    for ct in ("update_preimage", "update_postimage", "insert"):
        parts.append(
            agg(
                changes.filter(F.col("_change_type") == ct),
                f"cdf_{ct}",
            )
        )
    out_df = parts[0]
    for p in parts[1:]:
        out_df = out_df.unionAll(p)
    return out_df


@register(
    "s42_iceberg_merge_on_read_upsert",
    f"""
    WITH {ORDER_UPSERT}
    SELECT 'base' AS mode, count(*)::BIGINT AS n,
           sum(k)::BIGINT AS sum_key, sum(cents)::BIGINT AS sum_cents
    FROM b
    UNION ALL
    SELECT 'merged', count(*)::BIGINT, sum(k)::BIGINT,
           sum(cents)::BIGINT
    FROM v1
    """,
    tags=["S1", "iceberg", "lake", "merge", "upsert", "merge-on-read",
          "equality-deletes"],
)
def s42_iceberg_merge_on_read_upsert(spark, sf_dir):
    """Iceberg MERGE-ON-READ UPSERT (iceberg_meta.merge_upsert_mor)
    — the equality-delete write path, and the deliberate mirror of
    s41's copy-on-write MERGE: the SAME logical upsert (update cents
    for low-range k % 10 keys, insert fresh keys) lands as ONE new
    snapshot that equality-deletes every source key at sequence 2
    and appends every source row at the same sequence. ZERO existing
    files are rewritten — the entry asserts the base snapshot's file
    list survives byte-identical inside the merged snapshot — and
    the strict gate (delete.seq 2 > data.seq 1) retracts only the
    old versions: the new file, at sequence 2, is untouched by its
    own delete. The oracle replays the merge relationally, so a
    wrong gate (>= instead of >) would delete the updates
    themselves and hash-mismatch. COW pays at write, MOR pays at
    read (the anti-join); a 100 TB pipeline picks per update:read
    ratio — this engine now implements BOTH sides of that
    trade-off."""
    import os

    from pyspark.sql import functions as F

    from cam_etl_spark.sources.iceberg_meta import (
        manifest_entry,
        merge_upsert_mor,
        read_snapshot,
        snapshot_files,
        write_manifest,
        write_snapshot,
        write_table_metadata,
    )

    table = fixture_dir(sf_dir, "cam_etl_iceberg_mor", "orders_mor_upsert")
    data_dir = os.path.join(table, "data")

    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias(
            "cents"
        ),
    )
    o.repartition(4).write.parquet(data_dir, mode="overwrite")
    v0_files = sorted(
        os.path.join(data_dir, n)
        for n in os.listdir(data_dir)
        if n.endswith(".parquet")
    )
    assert len(v0_files) == 4

    def entry(path):
        return manifest_entry(path, sequence_number=1)

    md = os.path.join(table, "metadata")
    os.makedirs(md, exist_ok=True)
    m1 = os.path.join(md, "m1.avro")
    write_manifest(m1, [entry(p) for p in v0_files])
    snap1 = write_snapshot(table, 101, [m1])
    write_table_metadata(table, 1, [snap1], 101, [])

    df_base, _s, _n = read_snapshot(spark, table)

    mx = o.agg(F.max("k")).first()[0]
    source = (
        o.filter(
            (F.col("k") % 10 == 0) & (F.col("k") <= mx // 4)
        ).select("k", (F.col("cents") + 100).alias("cents"))
    ).unionByName(
        o.filter(F.col("k") % 97 == 0).select(
            (F.col("k") + 2000000000).alias("k"),
            (F.col("cents") + 9).alias("cents"),
        )
    )
    res = merge_upsert_mor(
        spark, table, source, key="k", key_field_id=1,
        new_snapshot_id=202,
    )
    assert res["sequence"] == 2

    snap2 = snapshot_files(table)
    assert snap2["snapshot_id"] == 202
    # zero rewrite: every base file survives byte-identical
    assert set(v0_files) <= {f["path"] for f in snap2["files"]}
    assert [f["content"] for f in snap2["delete_files"]] == [2]

    df_merged, _s2, _n2 = read_snapshot(spark, table)
    n_base, n_merged = df_base.count(), df_merged.count()
    assert n_merged == n_base + res["n_source_rows"] - df_base.join(
        source.select("k"), "k", "left_semi"
    ).count()

    def agg(df, mode):
        return df.agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_key"),
            F.sum("cents").alias("sum_cents"),
        ).select(F.lit(mode).alias("mode"), "n", "sum_key", "sum_cents")

    return agg(df_base, "base").unionAll(agg(df_merged, "merged"))


@register(
    "s43_iceberg_metadata_tables",
    """
    WITH b AS (
      SELECT o_orderkey AS k, o_orderstatus AS status FROM orders
    ), cur AS (
      SELECT * FROM b WHERE NOT (status = 'O' AND k % 3 = 0)
    )
    SELECT 'history:101' AS mode, -1::BIGINT AS c1, 0::BIGINT AS c2,
           0::BIGINT AS c3
    UNION ALL SELECT 'history:202', 101::BIGINT, 1::BIGINT, 0::BIGINT
    UNION ALL SELECT 'snapshots:101', 1::BIGINT, 0::BIGINT, 0::BIGINT
    UNION ALL SELECT 'snapshots:202', 1::BIGINT, 0::BIGINT, 0::BIGINT
    UNION ALL
    SELECT 'files', 3::BIGINT, count(*)::BIGINT, 4::BIGINT FROM cur
    """,
    tags=["S1", "iceberg", "lake", "metadata-tables", "ops"],
)
def s43_iceberg_metadata_tables(spark, sf_dir):
    """Iceberg METADATA TABLES (iceberg_meta.metadata_table) — the
    `SELECT * FROM tbl.history / .snapshots / .manifests / .files`
    ops surface. Fixture: snapshot 101 holds one file per
    o_orderstatus with REAL per-file record counts in the manifest;
    snapshot 202 rewrites the 'O' partition (drops k % 3 = 0) at
    sequence 2. The entry folds all four tables into one result:
    history rows carry lineage + is_current, snapshots rows carry
    manifest counts, and the files row carries
    (n_files, sum(record_count), sum(sequence)) for the CURRENT
    snapshot — sum(record_count) is cross-checked against the
    oracle's replay of the rewrite, so the manifest counts have to
    be REAL, not decorative. The manifests table is asserted
    in-code (paths are tmp-dependent). At 100 TB these tables are
    how operators audit snapshot churn, file-size health and
    partition skew from kilobytes of metadata, no parquet scan."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from cam_etl_spark.sources.iceberg_meta import (
        manifest_entry,
        metadata_table,
        write_manifest,
        write_snapshot,
        write_table_metadata,
    )

    table = fixture_dir(sf_dir, "cam_etl_iceberg_mtab", "orders_meta")
    data_dir = os.path.join(table, "data")

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderstatus").alias("status")
    )
    o.repartition(3, "status").write.partitionBy("status").parquet(
        data_dir, mode="overwrite"
    )
    status_file = {}
    for root, _dirs, names in os.walk(data_dir):
        for n in names:
            if n.endswith(".parquet"):
                st = root.split("status=")[1].split("/")[0]
                assert st not in status_file
                status_file[st] = os.path.join(root, n)
    counts = {
        r["status"]: r["n"]
        for r in o.groupBy("status").agg(F.count("*").alias("n"))
        .collect()
    }
    rewrite_tmp = os.path.join(table, "rw_tmp")
    kept = o.filter(
        (F.col("status") == "O") & (F.col("o_orderkey") % 3 != 0)
    ).drop("status")
    n_kept = kept.count()
    kept.repartition(1).write.parquet(rewrite_tmp, mode="overwrite")
    import glob

    part = glob.glob(os.path.join(rewrite_tmp, "*.parquet"))
    new_o = os.path.join(data_dir, "status=O", "rw-0.parquet")
    shutil.move(part[0], new_o)
    shutil.rmtree(rewrite_tmp)

    def entry(path, st, n, seq, status_code=1):
        return manifest_entry(
            path, {"status": st}, status=status_code, sequence_number=seq,
            record_count=n,
        )

    md = os.path.join(table, "metadata")
    os.makedirs(md, exist_ok=True)
    m1 = os.path.join(md, "m1.avro")
    write_manifest(
        m1,
        [
            entry(p, s, counts[s], 1)
            for s, p in sorted(status_file.items())
        ],
    )
    snap1 = write_snapshot(table, 101, [m1])
    m2 = os.path.join(md, "m2.avro")
    write_manifest(
        m2,
        [
            entry(status_file["F"], "F", counts["F"], 1, 0),
            entry(status_file["P"], "P", counts["P"], 1, 0),
            entry(new_o, "O", n_kept, 2),
        ],
    )
    snap2 = write_snapshot(table, 202, [m2], parent_id=101)
    write_table_metadata(table, 2, [snap1, snap2], 202, ["status"])

    hist = metadata_table(spark, table, "history")
    snaps = metadata_table(spark, table, "snapshots")
    manifests = metadata_table(spark, table, "manifests")
    files = metadata_table(spark, table, "files")
    assert manifests.count() == 1
    mrow = manifests.first()
    assert mrow["path"] == m2 and mrow["content"] == 0
    assert mrow["length"] == os.path.getsize(m2)
    try:
        metadata_table(spark, table, "partitions")
        raise AssertionError("unknown metadata table must raise")
    except ValueError:
        pass

    hist_rows = hist.select(
        F.concat(F.lit("history:"), F.col("snapshot_id")).alias("mode"),
        F.coalesce(F.col("parent_id"), F.lit(-1)).alias("c1"),
        F.col("is_current").cast("long").alias("c2"),
        F.lit(0).cast("long").alias("c3"),
    )
    snap_rows = snaps.select(
        F.concat(F.lit("snapshots:"), F.col("snapshot_id")).alias(
            "mode"
        ),
        F.col("n_data_manifests").alias("c1"),
        F.col("n_delete_manifests").alias("c2"),
        F.lit(0).cast("long").alias("c3"),
    )
    file_rows = files.agg(
        F.count("*").alias("c1"),
        F.sum("record_count").alias("c2"),
        F.sum("sequence").alias("c3"),
    ).select(F.lit("files").alias("mode"), "c1", "c2", "c3")
    return hist_rows.unionAll(snap_rows).unionAll(file_rows)


@register(
    "data_budget_select",
    """
    WITH d AS (
      SELECT doc_id, source, (n_chars // 5 + 1)::BIGINT AS tokens,
             -abs(n_chars - 500) AS score
      FROM documents
    ), w AS (
      SELECT source, tokens,
             sum(tokens) OVER (
               PARTITION BY source ORDER BY score DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum,
             (sum(tokens) OVER (PARTITION BY source)) // 4 AS budget
      FROM d
    )
    SELECT source, count(*)::BIGINT AS n_total,
           max(budget)::BIGINT AS budget,
           sum(CASE WHEN cum <= budget THEN 1 ELSE 0 END)::BIGINT
             AS n_selected,
           sum(CASE WHEN cum <= budget THEN tokens ELSE 0 END)::BIGINT
             AS sum_tokens
    FROM w GROUP BY source
    """,
    tags=["data-mixing", "token-budget", "curation", "W1",
          "training-data"],
    plan={"Exchange hashpartitioning": (1, 1), "Window": (2, 2), "CartesianProduct": (0, 0)},
)
def data_budget_select(spark, sf_dir):
    """TOKEN-BUDGET DATA CURATION — the selection step every
    training-data mix runs: within each source (domain), take the
    highest-quality documents GREEDILY until the domain's token
    budget (25% of its total tokens here) is exhausted. Quality is a
    pluggable deterministic score (mid-length preference,
    -abs(n_chars-500), doc_id tiebreak — the real pipelines swap in
    classifier scores, see text_quality_classifier); tokens use an
    arithmetic proxy (n_chars/5+1) so the oracle replays exactly
    (the engine's real tokenizers live in text_bpe_token_count).
    Plan shape: ONE exchange on source feeds both window functions
    (running token sum and domain total share the partition; the
    running sum's order is reused) and the final rollup — selection
    over 100 TB is a single shuffle, no self-join, no driver
    iteration. The budget cut is a running-sum prefix, so the
    output is deterministic under any executor parallelism."""
    from pyspark.sql import Window

    from pyspark.sql import functions as F

    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        ((F.col("n_chars") / F.lit(5)).cast("long") + F.lit(1))
        .alias("tokens"),
        (-F.abs(F.col("n_chars") - 500)).alias("score"),
    )
    w_run = (
        Window.partitionBy("source")
        .orderBy(F.col("score").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("source")
    sel = d.select(
        "source",
        "tokens",
        F.sum("tokens").over(w_run).alias("cum"),
        (F.sum("tokens").over(w_all) / F.lit(4))
        .cast("long")
        .alias("budget"),
    )
    return sel.groupBy("source").agg(
        F.count("*").alias("n_total"),
        F.max("budget").alias("budget"),
        F.sum(
            F.when(F.col("cum") <= F.col("budget"), 1).otherwise(0)
        ).alias("n_selected"),
        F.sum(
            F.when(F.col("cum") <= F.col("budget"), F.col("tokens"))
            .otherwise(0)
        ).alias("sum_tokens"),
    )


@register(
    "s31_iceberg_metrics_pruning",
    f"""
    WITH m AS (SELECT max(o_orderkey) AS mx FROM orders),
         b AS (SELECT o_orderkey,
                      {CENTS} AS cents
               FROM orders)
    SELECT 1::BIGINT AS mode, 4::BIGINT AS n_files,
           count(*)::BIGINT AS n_rows,
           sum(o_orderkey)::BIGINT AS sum_key,
           sum(cents)::BIGINT AS sum_cents
    FROM b
    UNION ALL
    SELECT 2::BIGINT, 1::BIGINT, count(*)::BIGINT,
           sum(o_orderkey)::BIGINT, sum(cents)::BIGINT
    FROM b, m WHERE o_orderkey <= mx // 4
    """,
    tags=["S1", "iceberg", "lake", "metrics", "pruning"],
)
def s31_iceberg_metrics_pruning(spark, sf_dir):
    """Iceberg PER-COLUMN METRICS file skipping
    (sources/iceberg_meta.py): manifests carry the spec's
    lower_bounds/upper_bounds per data file (field-id -> Appendix D
    single-value serialization: 8-byte little-endian long), and the
    scan planner drops every file whose [lower, upper] range is
    provably disjoint from the query's key range — BEFORE any
    executor touches parquet. The fixture writes orders as four
    contiguous key-range files with honest bounds; the pruned read
    (keys <= max/4) must plan exactly ONE file, and n_files is part
    of the ORACLE-CHECKED result, so the planner's selectivity — not
    just the row values — is verified relationally. Files missing a
    bound are always kept (pruning never drops a possibly-matching
    file). At 100 TB this is the metadata path that turns a
    million-file table scan into kilobytes of Avro plus the two
    files a point query needs."""
    import os

    from pyspark.sql import functions as F

    from cam_etl_spark.sources.iceberg_meta import (
        long_bound,
        manifest_entry,
        read_snapshot,
        write_manifest,
        write_snapshot,
        write_table_metadata,
    )

    table = fixture_dir(sf_dir, "cam_etl_iceberg_bounds", "orders_bounds")
    data_dir = os.path.join(table, "data")

    src = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    mx = src.agg(F.max("o_orderkey")).first()[0]
    o = src.withColumn(
        "rng",
        F.least(
            F.floor(F.col("o_orderkey") * 4 / (mx + 1)), F.lit(3)
        ).cast("string"),
    )
    o.repartition(4, "rng").write.partitionBy("rng").parquet(
        data_dir, mode="overwrite"
    )
    rng_file = {}
    for root, _dirs, names in os.walk(data_dir):
        for n in names:
            if n.endswith(".parquet"):
                rv = root.split("rng=")[1].split("/")[0]
                assert rv not in rng_file, "one file per range"
                rng_file[rv] = os.path.join(root, n)
    # honest per-file key bounds from the source relation
    bounds = {
        str(r["rng"]): (r["lo"], r["hi"])
        for r in o.groupBy("rng")
        .agg(F.min("o_orderkey").alias("lo"),
             F.max("o_orderkey").alias("hi"))
        .collect()
    }

    KEY_FIELD = 1  # iceberg field id of o_orderkey

    def entry(rv):
        lo, hi = bounds[rv]
        return manifest_entry(
            rng_file[rv], {"rng": rv}, sequence_number=1,
            lower_bounds=[{"key": KEY_FIELD, "value": long_bound(lo)}],
            upper_bounds=[{"key": KEY_FIELD, "value": long_bound(hi)}],
        )

    md = os.path.join(table, "metadata")
    os.makedirs(md, exist_ok=True)
    m1 = os.path.join(md, "m1.avro")
    write_manifest(m1, [entry(rv) for rv in sorted(rng_file)])
    snap1 = write_snapshot(table, 1, [m1])
    write_table_metadata(table, 1, [snap1], 1, ["rng"])

    hi_cut = mx // 4
    df_full, s_full, n_full = read_snapshot(spark, table)
    assert n_full == 4
    df_cut, _s, n_cut = read_snapshot(
        spark, table, bounds_ranges={KEY_FIELD: (0, hi_cut)}
    )
    assert n_cut == 1, n_cut  # planner selectivity under test
    df_cut = df_cut.filter(F.col("o_orderkey") <= hi_cut)

    def agg(df, mode, n_files):
        return df.agg(
            F.count("*").alias("n_rows"),
            F.sum("o_orderkey").alias("sum_key"),
            F.sum("cents").alias("sum_cents"),
        ).select(
            F.lit(mode).cast("long").alias("mode"),
            F.lit(n_files).cast("long").alias("n_files"),
            "n_rows",
            "sum_key",
            "sum_cents",
        )

    return agg(df_full, 1, n_full).unionAll(agg(df_cut, 2, n_cut))


@register(
    "s28_delta_deletion_vectors",
    ORDERS_SEVENTH_DELETED,
    tags=["S1", "delta", "lake", "merge-on-read", "deletes", "roaring"],
)
def s28_delta_deletion_vectors(spark, sf_dir):
    """Delta Lake DELETION VECTORS, merge-on-read
    (sources/delta_log.py + sources/roaring.py): version 0 commits
    four key-sorted bucket files of orders under reader protocol 3 /
    readerFeatures=[deletionVectors]; version 1 is a DELETE — each
    file is removed and re-added with a deletion-vector descriptor
    whose portable Roaring bitmap (the published RoaringFormatSpec
    layout under Delta's RoaringBitmapArray framing) marks every
    o_orderkey % 7 == 0 row BY ROW ORDINAL. Two buckets carry their
    DVs INLINE (storageType "i", RFC-1924 base85); two share one
    on-disk DV file (storageType "p": version byte, big-endian
    size + CRC-32 per blob, offset-addressed). A checkpoint written
    at v1 must round-trip the descriptors, and the v1 read is served
    FROM that checkpoint. The scan decodes DVs executor-side (one
    task per DV) and anti-joins on (file, `_metadata.row_index`);
    the oracle replays both versions relationally, so it only
    matches if ordinal semantics, base85/CRC framing, and the
    Roaring decode are all honest. At 100 TB: DV bytes fan out as
    tasks, never transit the driver; the anti-join broadcasts (AQE)
    or shuffles on (file, pos)."""
    import os

    from pyspark.sql import functions as F

    from cam_etl_spark.sources import delta_log as D
    from cam_etl_spark.sources.roaring import serialize_bitmap_array

    table = fixture_dir(sf_dir, "cam_etl_delta_dv", "orders_dv")

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        (F.col("o_orderkey") % 4).cast("string").alias("bucket"),
    )
    o.repartition(4, "bucket").sortWithinPartitions(
        "bucket", "o_orderkey"
    ).write.partitionBy("bucket").parquet(table, mode="overwrite")

    bucket_rel = {}
    for root, _dirs, names in os.walk(table):
        for n in names:
            if n.endswith(".parquet"):
                bkt = root.split("bucket=")[1].split("/")[0]
                assert bkt not in bucket_rel, "one file per bucket"
                bucket_rel[bkt] = os.path.relpath(
                    os.path.join(root, n), table
                )

    def add(bkt, dv=None):
        extra = {"deletionVector": dv} if dv else {}
        return D.add_action(
            table, bucket_rel[bkt], {"bucket": bkt}, size=1, mtime=1, **extra
        )

    def rm(bkt):
        return D.remove_action(bucket_rel[bkt], 2)

    meta = {
        "id": "orders-dv",
        "format": {"provider": "parquet", "options": {}},
        "schemaString": "{}",
        "partitionColumns": ["bucket"],
        "configuration": {},
    }
    D.write_commit(
        table,
        0,
        [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["deletionVectors"],
                    "writerFeatures": ["deletionVectors"],
                }
            },
            {"metaData": meta},
        ]
        + [add(b) for b in sorted(bucket_rel)],
    )

    # doomed row ordinals from the SOURCE relation (rank by key
    # within bucket) — independent of the scan machinery under test
    from pyspark.sql import Window

    pos_w = Window.partitionBy("bucket").orderBy("o_orderkey")
    doomed = (
        o.withColumn("pos", F.row_number().over(pos_w) - 1)
        .filter(F.col("o_orderkey") % 7 == 0)
        .select("bucket", "pos")
        .collect()
    )  # fixture construction only; bounded by |orders|/7
    by_bucket = {b: [] for b in bucket_rel}
    for r in doomed:
        by_bucket[r["bucket"]].append(r["pos"])

    import base64

    dv_actions = []
    # buckets 0/1: inline DVs
    for b in ("0", "1"):
        blob = serialize_bitmap_array(sorted(by_bucket[b]))
        dv_actions += [
            rm(b),
            add(
                b,
                {
                    "storageType": "i",
                    "pathOrInlineDv": base64.b85encode(blob).decode(
                        "ascii"
                    ),
                    "sizeInBytes": len(blob),
                    "cardinality": len(by_bucket[b]),
                },
            ),
        ]
    # buckets 2/3: one shared on-disk DV file, offset-addressed
    blobs = [
        serialize_bitmap_array(sorted(by_bucket[b])) for b in ("2", "3")
    ]
    dv_path = os.path.join(table, "deletion_vectors.bin")
    frags = D.write_deletion_vector_file(dv_path, blobs)
    for b, frag in zip(("2", "3"), frags):
        dv_actions += [
            rm(b),
            add(
                b,
                {
                    "storageType": "p",
                    "pathOrInlineDv": dv_path,
                    "cardinality": len(by_bucket[b]),
                    **frag,
                },
            ),
        ]
    D.write_commit(table, 1, dv_actions)

    # checkpoint at v1 must carry the descriptors; serve v1 from it
    D.write_checkpoint(table, 1, D.replay_log(table, version=1))
    snap_ck = D.replay_log(table, version=1)
    assert snap_ck["from_checkpoint"] == 1
    assert all(f["deletionVector"] for f in snap_ck["files"])

    df0, _s0, _n = D.read_snapshot(spark, table, version=0)
    df1, s1, _n = D.read_snapshot(spark, table, version=1)
    assert s1["from_checkpoint"] == 1
    n_doomed = len(doomed)
    assert df0.count() - df1.count() == n_doomed

    def agg(df, snap):
        return df.groupBy(
            F.col("bucket").cast("long").alias("bucket")
        ).agg(
            F.count("*").alias("n_orders"),
            F.sum("o_orderkey").alias("sum_key"),
            F.sum("cents").alias("sum_cents"),
        ).select(
            F.lit(snap).cast("long").alias("snap"),
            "bucket",
            "n_orders",
            "sum_key",
            "sum_cents",
        )

    return agg(df0, 1).unionAll(agg(df1, 2))


@register(
    "s29_delta_column_mapping",
    f"""
    WITH b AS (
      SELECT o_orderkey, o_custkey,
             (o_orderkey % 4)::BIGINT AS bucket,
             {CENTS} AS cents
      FROM orders
    )
    SELECT 1::BIGINT AS snap, bucket, count(*)::BIGINT AS n_orders,
           sum(o_orderkey)::BIGINT AS sum_key,
           sum(cents)::BIGINT AS sum_cents,
           sum(o_custkey)::BIGINT AS sum_cust
    FROM b GROUP BY bucket
    UNION ALL
    SELECT 2::BIGINT, bucket, count(*)::BIGINT,
           sum(o_orderkey)::BIGINT, sum(cents)::BIGINT, NULL::BIGINT
    FROM b GROUP BY bucket
    """,
    tags=["S1", "delta", "lake", "column-mapping", "schema-evolution"],
)
def s29_delta_column_mapping(spark, sf_dir):
    """Delta COLUMN MAPPING, name mode (sources/delta_log.py): the
    data files store PHYSICAL column names (col-<id> here, as real
    Delta writers mint) and partitionValues are keyed by physical
    name, so version 1's column RENAME (cents -> total_cents) and
    column DROP (o_custkey) are METADATA-ONLY commits — the add set
    is asserted byte-identical between versions; zero data files
    rewritten, which at 100 TB is the difference between an O(1)
    schema change and a full-table rewrite. The scan reads physical
    parquet columns and renames to each snapshot's logical schema;
    reader protocol is classic minReaderVersion 2. The oracle
    replays both logical schemas (dropped column goes NULL in snap
    2)."""
    import json as _json
    import os

    from pyspark.sql import functions as F

    from cam_etl_spark.sources import delta_log as D

    table = fixture_dir(sf_dir, "cam_etl_delta_cmap", "orders_cmap")

    PHYS = {
        "o_orderkey": "col-8a1",
        "cents": "col-9b2",
        "o_custkey": "col-7c3",
        "bucket": "col-p77",
    }
    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias(PHYS["o_orderkey"]),
        F.round(F.col("o_totalprice") * 100, 0)
        .cast("long")
        .alias(PHYS["cents"]),
        F.col("o_custkey").alias(PHYS["o_custkey"]),
        (F.col("o_orderkey") % 4).cast("string").alias(PHYS["bucket"]),
    )
    o.repartition(4, PHYS["bucket"]).write.partitionBy(
        PHYS["bucket"]
    ).parquet(table, mode="overwrite")

    adds = []
    for root, _dirs, names in os.walk(table):
        for n in names:
            if n.endswith(".parquet"):
                full = os.path.join(root, n)
                bval = root.split(PHYS["bucket"] + "=")[1].split("/")[0]
                adds.append(D.add_action(
                    table, os.path.relpath(full, table),
                    {PHYS["bucket"]: bval}, mtime=1,
                ))

    def field(logical, typ, fid):
        return {
            "name": logical,
            "type": typ,
            "nullable": True,
            "metadata": {
                "delta.columnMapping.id": fid,
                "delta.columnMapping.physicalName": PHYS_BY_ID[fid],
            },
        }

    PHYS_BY_ID = {1: PHYS["o_orderkey"], 2: PHYS["cents"],
                  3: PHYS["o_custkey"], 4: PHYS["bucket"]}

    def meta(fields):
        return {
            "id": "orders-cmap",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": _json.dumps(
                {"type": "struct", "fields": fields}
            ),
            "partitionColumns": ["bucket"],
            "configuration": {"delta.columnMapping.mode": "name"},
        }

    v0_schema = [
        field("o_orderkey", "long", 1),
        field("cents", "long", 2),
        field("o_custkey", "long", 3),
        field("bucket", "string", 4),
    ]
    D.write_commit(
        table,
        0,
        [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {"metaData": meta(v0_schema)},
        ]
        + adds,
    )
    # v1: rename cents -> total_cents, drop o_custkey — METADATA ONLY
    v1_schema = [
        field("o_orderkey", "long", 1),
        field("total_cents", "long", 2),
        field("bucket", "string", 4),
    ]
    D.write_commit(table, 1, [{"metaData": meta(v1_schema)}])

    df0, s0, _ = D.read_snapshot(spark, table, version=0)
    df1, s1, _ = D.read_snapshot(spark, table, version=1)
    assert set(df0.columns) == {"o_orderkey", "cents", "o_custkey",
                                "bucket"}
    assert set(df1.columns) == {"o_orderkey", "total_cents", "bucket"}
    # metadata-only evolution: identical physical add set
    assert [f["path"] for f in s0["files"]] == [
        f["path"] for f in s1["files"]
    ]

    def agg(df, snap, cents_col, with_cust):
        return df.groupBy(
            F.col("bucket").cast("long").alias("bucket")
        ).agg(
            F.count("*").alias("n_orders"),
            F.sum("o_orderkey").alias("sum_key"),
            F.sum(cents_col).alias("sum_cents"),
            (
                F.sum("o_custkey")
                if with_cust
                else F.max(F.lit(None).cast("long"))
            ).alias("sum_cust"),
        ).select(
            F.lit(snap).cast("long").alias("snap"),
            "bucket",
            "n_orders",
            "sum_key",
            "sum_cents",
            "sum_cust",
        )

    return agg(df0, 1, "cents", True).unionAll(
        agg(df1, 2, "total_cents", False)
    )


@register(
    "s30_avro_logical_types",
    f"""
    SELECT (o_orderkey % 8)::BIGINT AS bucket,
           count(*)::BIGINT AS n_rows,
           sum({CENTS})::BIGINT
             AS sum_cents,
           min(o_orderkey % 3000)::BIGINT AS min_day,
           max(o_orderkey % 3000)::BIGINT AS max_day,
           min(o_orderkey)::BIGINT AS min_ts_s,
           max(o_orderkey)::BIGINT AS max_ts_s
    FROM orders GROUP BY bucket
    """,
    tags=["S1", "avro", "lake", "logical-types", "decimal"],
)
def s30_avro_logical_types(spark, sf_dir):
    """Avro LOGICAL TYPES through the engine's own codec
    (sources/avro_io.py to_logical/from_logical — the spec's
    closed-form mappings): each of 8 order buckets becomes an Avro
    object container whose rows carry decimal(12,2) cents
    (two's-complement unscaled bytes + scale), a `date` (days since
    epoch), a `timestamp-micros` UTC instant, and a `uuid` — written
    logical-side IN THE TASK, read back BOTH ways (raw: the decimal
    bytes are asserted equal to the closed-form minimal
    two's-complement encoding; logical: values must round-trip
    exactly), then aggregated FROM THE LOGICAL READ-BACK — cents
    from Decimal arithmetic, days from date subtraction, seconds
    from instant subtraction — so the oracle's relational replay
    only matches if every mapping is honest. One applyInPandas
    group pass; write/read are task-local (a Kafka-era ingest path
    at 100 TB), the bucket grouping is the only exchange."""
    import json as _json

    from pyspark.sql import functions as F

    SCHEMA = _json.dumps(
        {
            "type": "record",
            "name": "order_logical",
            "fields": [
                {"name": "k", "type": "long"},
                {"name": "cents", "type": {
                    "type": "bytes", "logicalType": "decimal",
                    "precision": 12, "scale": 2}},
                {"name": "day", "type": {
                    "type": "int", "logicalType": "date"}},
                {"name": "ts", "type": {
                    "type": "long",
                    "logicalType": "timestamp-micros"}},
                {"name": "u", "type": {
                    "type": "string", "logicalType": "uuid"}},
            ],
        }
    )

    def run(key, pdf):
        import datetime as dt
        import decimal
        import uuid as _uuid

        import pandas as pd

        from cam_etl_spark.sources.avro_io import (
            read_container,
            write_container,
        )

        epoch_d = dt.date(1970, 1, 1)
        epoch_ts = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
        rows = []
        for k, c in zip(pdf["o_orderkey"], pdf["cents"]):
            k = int(k)
            rows.append(
                {
                    "k": k,
                    "cents": decimal.Decimal(int(c)).scaleb(-2),
                    "day": epoch_d + dt.timedelta(days=k % 3000),
                    "ts": epoch_ts + dt.timedelta(seconds=k),
                    "u": _uuid.uuid5(_uuid.NAMESPACE_URL, str(k)),
                }
            )
        rows.sort(key=lambda r: r["k"])
        buf = write_container(
            SCHEMA, rows, codec="deflate", logical=True
        )
        # raw view: decimal bytes must be the minimal two's-complement
        # unscaled encoding the spec prescribes
        raw = read_container(buf)["values"]
        for r, q in zip(raw, rows):
            unscaled = int(q["cents"].scaleb(2))
            n = max(1, (unscaled.bit_length() + 8) // 8)
            assert r["cents"] == unscaled.to_bytes(n, "big", signed=True)
            assert r["day"] == (q["day"] - epoch_d).days
        got = read_container(buf, logical=True)["values"]
        assert got == rows, "logical round-trip drifted"
        cents_sum = sum(int(r["cents"].scaleb(2)) for r in got)
        days = [(r["day"] - epoch_d).days for r in got]
        secs = [int((r["ts"] - epoch_ts).total_seconds()) for r in got]
        assert len({r["u"] for r in got}) == len(got)
        return pd.DataFrame(
            [
                {
                    "bucket": int(key[0]),
                    "n_rows": len(got),
                    "sum_cents": cents_sum,
                    "min_day": min(days),
                    "max_day": max(days),
                    "min_ts_s": min(secs),
                    "max_ts_s": max(secs),
                }
            ]
        )

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        (F.col("o_orderkey") % 8).alias("bucket"),
    )
    return o.groupBy("bucket").applyInPandas(
        run,
        "bucket long, n_rows long, sum_cents long, min_day long, "
        "max_day long, min_ts_s long, max_ts_s long",
    )


@register(
    "s25_orc_write_roundtrip",
    ORDER_BUCKET_STATS,
    tags=["S7", "orc", "writer", "rlev2", "roundtrip"],
)
def s25_orc_write_roundtrip(spark, sf_dir):
    """ORC WRITE from spec (sources/orc_write.py) — the write half of
    the ORC layer, the exact s19 parquet-writer shape: each of 8
    order buckets is written to a COMPLETE single-stripe ORC file by
    the engine's own encoder (integer RLE v2 DIRECT runs with the
    closed-form width table, DIRECT_V2 strings, IEEE doubles, a
    from-first-principles protobuf tail), then read back IN THE SAME
    TASK by pyarrow's ORC C++ reader (independent reference) AND the
    engine's own from-spec decoder, asserted row-exact against the
    input before emitting per-bucket aggregates the oracle replays
    from the view. (Spark's ORC Java reader accepts the same files —
    pinned in tests/test_orc_write.py.) One applyInPandas group pass:
    write is task-local and parallel, the only exchange is the bucket
    grouping — a distributed sink's fan-out shape at 100 TB. Scope:
    flat long/double/string columns (nullable via PRESENT streams,
    pinned by tests/test_orc_write.py), compression NONE (other
    types raise; Spark's native sink remains the production
    writer)."""
    from pyspark.sql import functions as F

    from cam_etl_spark.sources.orc_read import read_orc
    from cam_etl_spark.sources.orc_write import write_orc

    def run(key, pdf):
        import decimal
        import os
        import tempfile

        import pandas as pd
        import pyarrow.orc as paorc

        bucket = int(key[0])
        pdf = pdf.sort_values("o_orderkey").reset_index(drop=True)
        keys = [int(v) for v in pdf["o_orderkey"]]
        prices = [float(v) for v in pdf["o_totalprice"]]
        prios = [str(v) for v in pdf["o_orderpriority"]]
        data = write_orc(
            [
                ("o_orderkey", "long", keys),
                ("o_totalprice", "double", prices),
                ("o_orderpriority", "string", prios),
            ]
        )
        got = read_orc(data)
        assert got["columns"]["o_orderkey"] == keys, bucket
        assert got["columns"]["o_totalprice"] == prices, bucket
        assert got["columns"]["o_orderpriority"] == prios, bucket
        fd, path = tempfile.mkstemp(suffix=".orc")
        try:
            os.write(fd, data)
            os.close(fd)
            ref = paorc.read_table(path).to_pydict()
        finally:
            os.unlink(path)
        assert ref["o_orderkey"] == keys, bucket
        assert ref["o_totalprice"] == prices, bucket
        assert ref["o_orderpriority"] == prios, bucket
        cents = sum(
            int(
                decimal.Decimal(repr(p * 100)).quantize(
                    0, rounding=decimal.ROUND_HALF_UP
                )
            )
            for p in prices
        )
        return pd.DataFrame(
            [
                {
                    "bucket": bucket,
                    "n_rows": len(keys),
                    "sum_key": sum(keys),
                    "sum_cents": cents,
                    "sum_prio_len": sum(
                        len(s.encode("utf-8")) for s in prios
                    ),
                }
            ]
        )

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority",
        (F.col("o_orderkey") % 8).alias("bucket"),
    )
    return o.groupBy("bucket").applyInPandas(
        run,
        "bucket long, n_rows long, sum_key long, sum_cents long, "
        "sum_prio_len long",
    )


@register(
    "a15_listagg_ordered",
    """
    SELECT status,
           string_agg(prio, '|' ORDER BY prio) AS prios,
           count(*)::BIGINT AS n_prios
    FROM (SELECT DISTINCT o_orderstatus AS status,
                 o_orderpriority AS prio FROM orders)
    GROUP BY status
    """,
    tags=["A", "listagg", "sql2023"],
)
def a15_listagg_ordered(spark, sf_dir):
    """SQL:2023 LISTAGG ... WITHIN GROUP (Spark 4's native listagg —
    ordered string aggregation, the one aggregate whose result is
    order-DEFINED rather than order-whatever): distinct
    (status, priority) pairs collapse to one delimited, ordered
    string per status. The distinct pre-aggregate bounds the listagg
    input (5 statuses x 5 priorities), so the concat state is tiny no
    matter how many orders feed it — the safe shape for string
    aggregation at 100 TB is ALWAYS dedup-or-topk first, never
    listagg over raw facts. DuckDB replays it as string_agg with
    ORDER BY."""
    o = t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("_a15_orders")
    return spark.sql(
        """
        SELECT status,
               listagg(prio, '|') WITHIN GROUP (ORDER BY prio) AS prios,
               count(*) AS n_prios
        FROM (SELECT DISTINCT o_orderstatus AS status,
                     o_orderpriority AS prio FROM _a15_orders)
        GROUP BY status
        """
    )


@register(
    "f26_try_arithmetic",
    f"""
    SELECT (o_orderkey % 3)::BIGINT AS grp,
           count(*)::BIGINT AS n_rows,
           sum(CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END)::BIGINT
             AS n_null_div,
           sum(floor({CENTS}
                     / nullif(o_orderkey % 3, 0))::BIGINT)::BIGINT
             AS sum_div,
           sum(CASE WHEN o_orderkey > 0 THEN 1 ELSE 0 END)::BIGINT
             AS n_null_add,
           sum(CASE WHEN TRY_CAST(substr(o_orderpriority, 1, 1) AS INT)
                    IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_cast_ok,
           sum(CASE WHEN TRY_CAST(o_orderpriority AS INT)
                    IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_cast_null
    FROM orders GROUP BY grp
    """,
    tags=["F", "ansi", "try-functions"],
)
def f26_try_arithmetic(spark, sf_dir):
    """ANSI-mode-safe arithmetic (Spark 4 runs ANSI ON by default, so
    1/0 and long-overflow are RUNTIME ERRORS that kill a 100 TB job
    in its last partition): the try_* family — try_divide (NULL on
    zero divisor), try_add (NULL on bigint overflow, exercised
    against LONG_MAX so every row overflows), and Column.try_cast
    (NULL on malformed numerics; '1-URGENT' casts its first char,
    never the whole string). The oracle replays each as the explicit
    guard it replaces (nullif divisor, CASE overflow, TRY_CAST). This
    is the difference between a pipeline that quarantines bad rows
    and one that dies 98% through."""
    from pyspark.sql import functions as F

    LONG_MAX = 9223372036854775807
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        (F.col("o_orderkey") % 3).alias("grp"),
    )
    probed = o.select(
        "grp",
        F.try_divide(F.col("cents"), F.col("grp")).alias("div"),
        F.try_add(F.col("o_orderkey"), F.lit(LONG_MAX)).alias("add"),
        F.substring("o_orderpriority", 1, 1)
        .try_cast("int")
        .alias("cast_ok"),
        F.col("o_orderpriority").try_cast("int").alias("cast_null"),
    )
    return probed.groupBy("grp").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("div").isNull(), 1).otherwise(0)).alias(
            "n_null_div"
        ),
        F.sum(F.floor("div").cast("long")).alias("sum_div"),
        F.sum(F.when(F.col("add").isNull(), 1).otherwise(0)).alias(
            "n_null_add"
        ),
        F.sum(
            F.when(F.col("cast_ok").isNotNull(), 1).otherwise(0)
        ).alias("n_cast_ok"),
        F.sum(
            F.when(F.col("cast_null").isNull(), 1).otherwise(0)
        ).alias("n_cast_null"),
    )


@register(
    "stream_iceberg_tail",
    ORDER_FEED_BY_STATUS,
    tags=["streaming", "iceberg", "datasource-api", "incremental"],
)
def stream_iceberg_tail(spark, sf_dir):
    """STREAMING LAKE INGEST, Iceberg flavor — a registered custom
    streaming source (sources/icebergtail.py) that tails an Iceberg
    SNAPSHOT CHAIN: offsets are chain positions derived purely from
    durable table metadata (restart-safe — an in-memory per-batch
    cursor would regress after a checkpoint reload and
    double-deliver), the driver diffs consecutive snapshots' file sets from
    kilobytes of Avro manifests (iceberg_meta's incremental set-diff),
    each ADDED file becomes an executor-side pyarrow InputPartition
    with manifest partition values injected, and in-between file
    deletions are ignored — append-only change-feed semantics, the
    same contract as stream_delta_tail so the two formats are
    interchangeable ingest feeds. Snapshots: (101) full orders
    partitioned by status, (202) even-key 'O' append, (303) F%5
    append. The run-to-completion sink must hold the exact multiset
    union of all three snapshots' adds; exactly-once across custom
    offset tracking."""
    import os

    from pyspark.sql import functions as F

    from cam_etl_spark.sources.delta_log import table_files
    from cam_etl_spark.sources.iceberg_meta import (
        manifest_entry,
        write_manifest,
        write_snapshot,
        write_table_metadata,
    )
    from cam_etl_spark.sources.icebergtail import register_iceberg_tail

    register_iceberg_tail(spark)
    table = fixture_dir(sf_dir, "cam_etl_icebergtail_fixture", "orders_feed")
    data_dir = os.path.join(table, "data")

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        "o_orderstatus",
    )

    def data_files():
        return [os.path.join(data_dir, p) for p in table_files(data_dir)]

    def entry(path):
        status = path.split("o_orderstatus=")[1].split("/")[0]
        return manifest_entry(path, {"o_orderstatus": status}, sequence_number=1)

    md = os.path.join(table, "metadata")
    os.makedirs(md, exist_ok=True)
    o.write.partitionBy("o_orderstatus").parquet(
        data_dir, mode="overwrite"
    )
    seen = data_files()
    expected = o.count()
    m0 = os.path.join(md, "m0.avro")
    write_manifest(m0, [entry(p) for p in seen])
    snaps = [write_snapshot(table, 101, [m0])]
    manifests = [m0]
    slices = [
        o.filter(
            (F.col("o_orderstatus") == "O") & (F.col("o_orderkey") % 2 == 0)
        ),
        o.filter(
            (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 5 == 0)
        ),
    ]
    for i, sl in enumerate(slices, start=1):
        sl.write.partitionBy("o_orderstatus").parquet(
            data_dir, mode="append"
        )
        now = data_files()
        m = os.path.join(md, f"m{i}.avro")
        write_manifest(
            m, [entry(p) for p in sorted(set(now) - set(seen))]
        )
        manifests.append(m)
        snaps.append(
            write_snapshot(
                table,
                101 * (i + 1),
                list(manifests),
                parent_id=101 * i,
            )
        )
        seen = now
        expected += sl.count()
    write_table_metadata(table, 1, snaps, 303, ["o_orderstatus"])

    work = fixture_dir(sf_dir, "cam_etl_icebergtail_fixture", "stream")
    src = (
        spark.readStream.format("icebergtail")
        .option("path", table)
        .option(
            "schema",
            "o_orderkey long, cents long, o_orderstatus string",
        )
        .option("columns", "o_orderkey,cents,o_orderstatus")
        .load()
    )
    got = run_to_count(src, work, expected)
    return got.groupBy(
        F.col("o_orderstatus").alias("status")
    ).agg(
        F.count("*").alias("n_rows"),
        F.sum("o_orderkey").alias("sum_key"),
        F.sum("cents").alias("sum_cents"),
    )


@register(
    "stream_delta_cdf",
    f"""
    WITH b AS (
      {ORDER_CENTS}
    ), v1 AS (
      SELECT k,
             CASE WHEN k % 10 = 0 THEN cents + 11 ELSE cents END AS cents
      FROM b
    )
    SELECT 0::BIGINT AS version, 'insert' AS change,
           count(*)::BIGINT AS n, sum(k)::BIGINT AS sum_key,
           sum(cents)::BIGINT AS sum_cents
    FROM b
    UNION ALL
    SELECT 1::BIGINT, 'update_preimage', count(*)::BIGINT,
           sum(k)::BIGINT, sum(cents)::BIGINT
    FROM b WHERE k % 10 = 0
    UNION ALL
    SELECT 1::BIGINT, 'update_postimage', count(*)::BIGINT,
           sum(k)::BIGINT, sum(cents + 11)::BIGINT
    FROM b WHERE k % 10 = 0
    UNION ALL
    SELECT 3::BIGINT, 'delete', count(*)::BIGINT, sum(k)::BIGINT,
           sum(cents)::BIGINT
    FROM v1
    UNION ALL
    SELECT 3::BIGINT, 'insert', count(*)::BIGINT, sum(k)::BIGINT,
           sum(cents)::BIGINT
    FROM v1 WHERE k % 9 <> 0
    """,
    tags=["streaming", "delta", "cdf", "datasource-api", "incremental"],
)
def stream_delta_cdf(spark, sf_dir):
    """STREAMING CHANGE DATA FEED (sources/deltacdf.py) — the
    retraction-aware sibling of stream_delta_tail: a registered
    custom streaming source whose offsets are log versions (derived
    purely from the durable log — restart-safe) and whose batches
    are the pending commits' CHANGE SETS with _change_type and
    _commit_version on every row. Version 0 inserts orders; version
    1 is an UPDATE whose commit carries explicit cdc files (protocol
    precedence: they ARE the change set); version 2 is an OPTIMIZE
    compaction (dataChange=false) that the stream must cross in
    SILENCE; version 3 is a rewrite DELETE with no cdc, so its
    change set is DERIVED — removed parquet read back as delete
    retractions, added parquet as inserts. The run-to-completion
    rollup by (version, change type) replays relationally in the
    oracle, including zero rows at version 2. At 100 TB this is the
    incremental-view-maintenance feed: deletes arrive as data, so a
    downstream aggregate or index stays consistent under rewrites —
    an append-only tail cannot give you that."""
    import os

    from pyspark.sql import functions as F

    from cam_etl_spark.sources import delta_log as D
    from cam_etl_spark.sources.deltacdf import register_delta_cdf

    register_delta_cdf(spark)
    table = fixture_dir(sf_dir, "cam_etl_deltacdf_fixture", "orders_cdf_stream")

    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias(
            "cents"
        ),
    )

    def adds(paths, data_change=True):
        return [D.add_action(table, p, mtime=1, data_change=data_change) for p in paths]

    def removes(paths, data_change=True):
        return [D.remove_action(p, 2, data_change=data_change) for p in paths]

    meta = {
        "id": "orders-cdf-stream",
        "format": {"provider": "parquet", "options": {}},
        "schemaString": "{}",
        "partitionColumns": [],
        "configuration": {"delta.enableChangeDataFeed": "true"},
    }
    v0_files = D.write_files(table, o.repartition(4), "v0")
    D.write_commit(
        table,
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 4}},
            {"metaData": meta},
        ]
        + adds(v0_files),
    )
    # v1: UPDATE with explicit cdc
    v1_df = o.withColumn(
        "cents",
        F.when(F.col("k") % 10 == 0, F.col("cents") + 11).otherwise(
            F.col("cents")
        ),
    )
    v1_files = D.write_files(table, v1_df.repartition(4), "v1")
    touched = o.filter(F.col("k") % 10 == 0)
    pre = touched.withColumn("_change_type", F.lit("update_preimage"))
    post = touched.withColumn(
        "cents", F.col("cents") + 11
    ).withColumn("_change_type", F.lit("update_postimage"))
    cdc_files = D.write_files(table, pre, "_change_data/v1pre") + D.write_files(
        table, post, "_change_data/v1post"
    )
    D.write_commit(
        table,
        1,
        removes(v0_files)
        + adds(v1_files)
        + [
            {
                "cdc": {
                    "path": p,
                    "partitionValues": {},
                    "size": os.path.getsize(os.path.join(table, p)),
                    "dataChange": False,
                }
            }
            for p in cdc_files
        ],
    )
    # v2: OPTIMIZE — must be silent in the feed
    res = D.compact_files(spark, table, group_size=2)
    assert res["version"] == 2
    # v3: rewrite DELETE of k % 9 = 0 — derived change set
    compacted = [f["path"] for f in D.replay_log(table)["files"]]
    v3_df = v1_df.filter(F.col("k") % 9 != 0)
    v3_files = D.write_files(table, v3_df.repartition(4), "v3")
    D.write_commit(table, 3, removes(compacted) + adds(v3_files))

    n_orders = o.count()
    n_upd = touched.count()
    expected = n_orders + 2 * n_upd + n_orders + v3_df.count()

    work = fixture_dir(sf_dir, "cam_etl_deltacdf_fixture", "stream")
    src = (
        spark.readStream.format("deltacdf")
        .option("path", table)
        .option(
            "schema",
            "k long, cents long, _change_type string, "
            "_commit_version long",
        )
        .option("columns", "k,cents,_change_type,_commit_version")
        .load()
    )
    got = run_to_count(src, work, expected)
    assert got.filter(F.col("_commit_version") == 2).count() == 0, (
        "compaction must be silent in the change feed"
    )
    return got.groupBy(
        F.col("_commit_version").alias("version"),
        F.col("_change_type").alias("change"),
    ).agg(
        F.count("*").alias("n"),
        F.sum("k").alias("sum_key"),
        F.sum("cents").alias("sum_cents"),
    )


@register(
    "stream_delta_tail",
    ORDER_FEED_BY_STATUS,
    tags=["streaming", "delta", "datasource-api", "incremental"],
)
def stream_delta_tail(spark, sf_dir):
    """STREAMING LAKE INGEST — a registered custom streaming source
    (sources/deltatail.py) that TAILS a Delta transaction log: offsets
    are log versions derived purely from the durable log (restart-safe
    — tests/test_tail_sources.py replays a checkpoint reload and
    proves exactly-once), the driver replays only the
    commit JSON, each added file becomes an executor-side
    InputPartition read via pyarrow with partition values injected
    from the log, and remove actions are ignored — append-only
    change-feed semantics, exactly what incremental training-data
    ingestion does over a lake at 100 TB (no directory listing ever).
    The fixture commits: (0) full orders partitioned by status, (1) a
    rewrite's ADD files (even-key 'O'), (2) an append of F%5 orders.
    The run-to-completion sink must hold the exact multiset union of
    all three commits' adds — the oracle replays it relationally.
    Exactly-once across custom-source offset tracking; the loud
    completion check refuses partial runs."""
    from pyspark.sql import functions as F

    from cam_etl_spark.sources.delta_log import add_action, table_files, write_commit
    from cam_etl_spark.sources.deltatail import register_delta_tail

    register_delta_tail(spark)
    table = fixture_dir(sf_dir, "cam_etl_deltatail_fixture", "orders_feed")

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        "o_orderstatus",
    )

    def adds(paths):
        return [
            add_action(
                table, p, {"o_orderstatus": p.split("o_orderstatus=")[1].split("/")[0]}
            )
            for p in paths
        ]

    o.write.partitionBy("o_orderstatus").parquet(table, mode="overwrite")
    seen = table_files(table)
    write_commit(table, 0, adds(seen))
    slices = [
        o.filter(
            (F.col("o_orderstatus") == "O") & (F.col("o_orderkey") % 2 == 0)
        ),
        o.filter(
            (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 5 == 0)
        ),
    ]
    expected = o.count()
    for v, sl in enumerate(slices, start=1):
        sl.write.partitionBy("o_orderstatus").parquet(table, mode="append")
        now = table_files(table)
        write_commit(table, v, adds(sorted(set(now) - set(seen))))
        seen = now
        expected += sl.count()

    work = fixture_dir(sf_dir, "cam_etl_deltatail_fixture", "stream")
    src = (
        spark.readStream.format("deltatail")
        .option("path", table)
        .option("schema", "o_orderkey long, cents long, o_orderstatus string")
        .option("columns", "o_orderkey,cents,o_orderstatus")
        .load()
    )
    out = run_to_count(src, work, expected)
    return out.groupBy(
        F.col("o_orderstatus").alias("status")
    ).agg(
        F.count("*").alias("n_rows"),
        F.sum("o_orderkey").alias("sum_key"),
        F.sum("cents").alias("sum_cents"),
    )


@register(
    "s26_avro_schema_evolution",
    f"""
    SELECT (o_orderkey % 6)::BIGINT AS bucket,
           count(*)::BIGINT AS n_rows,
           sum(o_orderkey)::BIGINT AS sum_key,
           sum({CENTS})::BIGINT
             AS sum_cents,
           sum(strlen(o_orderpriority))::BIGINT AS sum_prio_len,
           count(*)::BIGINT AS n_quality_default
    FROM orders GROUP BY bucket
    """,
    tags=["S3", "avro", "schema-evolution", "U4"],
)
def s26_avro_schema_evolution(spark, sf_dir):
    """Avro SCHEMA RESOLUTION (the spec's reader-vs-writer evolution
    rules — the codec-layer twin of u4_union_schema_evolution): each
    order bucket is written as a container with the V1 writer schema
    (cents int, priority string, a legacy long) and read back through
    an EVOLVED V2 reader schema — int->long and string->bytes
    promotions, a reordered field list, an added `quality` double
    materialized from its default, an added nullable `note` defaulting
    null, and the legacy field dropped (decoded-and-skipped). The
    resolution path is independently verified against the Apache Avro
    Java library's own resolver both directions
    (tests/test_avro.py::test_schema_resolution_matches_java_resolver);
    here every task asserts the resolved values against the inputs
    before emitting aggregates the oracle replays. At 100 TB schema
    evolution IS the steady state of an ingest lake — old files never
    get rewritten, every reader carries the new schema."""
    import json as _json

    from pyspark.sql import functions as F

    from cam_etl_spark.sources.avro_io import read_container, write_container

    V1 = _json.dumps(
        {
            "type": "record",
            "name": "Order",
            "namespace": "engine.catalog",
            "fields": [
                {"name": "k", "type": "long"},
                {"name": "cents", "type": "int"},
                {"name": "prio", "type": "string"},
                {"name": "legacy", "type": "long"},
            ],
        }
    )
    V2 = _json.dumps(
        {
            "type": "record",
            "name": "Order",
            "namespace": "engine.catalog",
            "fields": [
                {"name": "prio", "type": "bytes"},
                {"name": "k", "type": "long"},
                {"name": "cents", "type": "long"},
                {"name": "quality", "type": "double", "default": 0.5},
                {"name": "note", "type": ["null", "string"],
                 "default": None},
            ],
        }
    )

    def run(key, pdf):
        import pandas as pd

        bucket = int(key[0])
        pdf = pdf.sort_values("o_orderkey").reset_index(drop=True)
        rows = [
            {
                "k": int(r.o_orderkey),
                "cents": int(r.cents),
                "prio": str(r.o_orderpriority),
                "legacy": int(r.o_orderkey) * 7,
            }
            for r in pdf.itertuples()
        ]
        buf = write_container(V1, rows, codec="deflate")
        back = read_container(buf, reader_schema=V2)["values"]
        assert len(back) == len(rows), bucket
        for orig, got in zip(rows, back):
            assert got["k"] == orig["k"]
            assert got["cents"] == orig["cents"]
            assert got["prio"] == orig["prio"].encode("utf-8")
            assert got["quality"] == 0.5 and got["note"] is None
            assert "legacy" not in got
        return pd.DataFrame(
            [
                {
                    "bucket": bucket,
                    "n_rows": len(rows),
                    "sum_key": sum(r["k"] for r in rows),
                    "sum_cents": sum(r["cents"] for r in rows),
                    "sum_prio_len": sum(
                        len(g["prio"]) for g in back
                    ),
                    "n_quality_default": sum(
                        1 for g in back if g["quality"] == 0.5
                    ),
                }
            ]
        )

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        (F.col("o_orderkey") % 6).alias("bucket"),
    )
    return o.groupBy("bucket").applyInPandas(
        run,
        "bucket long, n_rows long, sum_key long, sum_cents long, "
        "sum_prio_len long, n_quality_default long",
    )


@register(
    "multimodal_mpeg_pcm_synthesis",
    f"""
    WITH {md5_digest(where='doc_id % 16 = 0')},
    -- digest-derived subband samples: 36 blocks x 32 subbands per doc
    sb AS MATERIALIZED (
      SELECT doc_id,
             rs.range AS s, rk.range AS k,
             (((d[((rs.range*7 + rk.range*3 + 1) % 16) + 1] * 17
                + rs.range*5 + rk.range*11 + doc_id) % 513) - 256)
               / 256.0 AS val
      FROM dg, range(36) rs, range(32) rk),
    -- Annex A Fig. A.2 matrixing: v_s[i] = sum_k N[i][k] * S_s[k]
    v AS MATERIALIZED (
      SELECT doc_id, s, ri.range AS i,
             sum(cos((16 + ri.range) * (2*k + 1) * pi() / 64) * val) AS vv
      FROM sb, range(64) ri
      GROUP BY doc_id, s, ri.range),
    -- Table 3-B.3: 257-value half prototype (x 65536), mirrored with
    -- the sign of every odd 64-coefficient block flipped
    dwin AS MATERIALIZED (
      SELECT ri.range AS i,
             (CASE WHEN ((ri.range // 64) % 2) = 1
                   THEN -1.0 ELSE 1.0 END)
             * {TABLE_3B3_SQL}[CASE WHEN ri.range <= 256
                        THEN ri.range + 1 ELSE 513 - ri.range END]
             / 65536.0 AS dv
      FROM range(512) ri),
    -- windowed 16-tap sum: out_t[j] = sum_q D[64q+j]   * v_{{t-2q}}[j]
    --                              + D[64q+32+j] * v_{{t-2q-1}}[32+j]
    outp AS MATERIALIZED (
      SELECT b.doc_id, rt.range AS tt, rj.range AS j,
             sum(d1.dv * coalesce(v1.vv, 0)
                 + d2.dv * coalesce(v2.vv, 0)) AS pcm
      FROM (SELECT doc_id FROM base) b
      CROSS JOIN range(36) rt
      CROSS JOIN range(32) rj
      CROSS JOIN range(8) rq
      JOIN dwin d1 ON d1.i = 64*rq.range + rj.range
      JOIN dwin d2 ON d2.i = 64*rq.range + 32 + rj.range
      LEFT JOIN v v1 ON v1.doc_id = b.doc_id
                    AND v1.s = rt.range - 2*rq.range AND v1.i = rj.range
      LEFT JOIN v v2 ON v2.doc_id = b.doc_id
                    AND v2.s = rt.range - 2*rq.range - 1
                    AND v2.i = 32 + rj.range
      GROUP BY b.doc_id, rt.range, rj.range),
    {PCM_STATS}
    """,
    tags=["multimodal", "mpeg", "audio", "synthesis", "pcm",
          "table-3-b-3"],
    plan=WIDENED_DECODE_PLAN,
)
def multimodal_mpeg_pcm_synthesis(spark, sf_dir):
    """MPEG-1 AUDIO PCM SYNTHESIS with the REAL Table 3-B.3 window
    (multimodal/mpegaudio.py synthesize_pcm),
    landed: windowed-PCM values hash-checked against a SQL oracle
    that replays the ENTIRE synthesis relationally — the 64x32 cosine
    matrixing as a grouped join, the V-register/U-vector structure as
    the closed-form index map out_t[j] = sum_q (D[64q+j]*v_{t-2q}[j]
    + D[64q+32+j]*v_{t-2q-1}[32+j]), and the vendored 257-value
    half-prototype of Table 3-B.3 (mirrored, odd 64-blocks
    sign-flipped) embedded as a literal in the SQL itself, so a
    single wrong coefficient ANYWHERE breaks the hash. Window
    provenance + the two in-container validations (-89 dB perfect
    reconstruction at the published filterbank figure; -106 dB
    prototype stopband = the table's own quantization floor):
    mpegaudio._TABLE_3B3_HALF and tests/test_mpegaudio_synthesis.py.
    Subband inputs are digest-derived (36 blocks x 32 subbands per
    sampled doc); the same synthesize_pcm plumbing consumes real
    decoded frames (pinned equal in
    test_synthesize_pcm_matches_independent_replay). Stats are exact
    integer micro-units (per-sample half-away rounding, then integer
    sums — boundary-stable across engines). One Arrow mapInPandas
    scan over a 1/16 doc sample, zero shuffles at any corpus size.
    Reference parity: cam-etl has no audio surface; SURVEY.md SS2.8
    multimodal extension."""
    import hashlib

    from cam_etl_spark.multimodal import micro6
    from cam_etl_spark.multimodal.mpegaudio import synthesize_pcm

    def run(did, text):
        d = int(did)
        dig = hashlib.md5((text or "").encode()).digest()
        # subband samples S[s][k], replayed verbatim in SQL
        vals = [
            [
                (((dig[(s * 7 + k * 3 + 1) % 16] * 17
                   + s * 5 + k * 11 + d) % 513) - 256) / 256.0
                for s in range(36)
            ]
            for k in range(32)
        ]
        frame = {
            "layer": 2,
            "channels": 1,
            "active": list(range(32)),
            "values": vals,
        }
        pcm = synthesize_pcm([frame])
        m = [micro6(v) for v in pcm]
        yield {
            "media_id": d,
            "n_samples": len(m),
            "sum_pcm_micro": sum(m),
            "sum_abs_micro": sum(abs(v) for v in m),
            "max_abs_micro": max(abs(v) for v in m),
        }

    return map_rows(
        sampled_docs(spark, sf_dir, 16, 0), run,
        "media_id long, n_samples long, sum_pcm_micro long, "
        "sum_abs_micro long, max_abs_micro long",
    )


@register(
    "multimodal_mp3_bigvalues_decode",
    f"""
    WITH {md5_digest(where='doc_id % 4 = 1')},
    params AS (
      SELECT doc_id, d,
             [1 + d[1] % 3, 1 + d[2] % 3, 1 + d[3] % 3] AS tl,
             d[4] % 7 AS r0c, d[5] % 6 AS r1c,
             10 + d[6] % 40 AS np_long,
             [1 + d[7] % 3, 1 + d[8] % 3] AS ts,
             10 + d[9] % 40 AS np_short
      FROM dg),
    -- Table B.8 long sfb boundaries (44.1 kHz) -> region sample bounds
    {MP3_REGION_BOUNDS},
    longp AS (
      SELECT doc_id, i.range AS i,
             CASE WHEN 2*i.range < least(r1raw, 2*np_long) THEN tl[1]
                  WHEN 2*i.range < least(greatest(r2raw, r1raw),
                                         2*np_long) THEN tl[2]
                  ELSE tl[3] END AS tid,
             d, np_long
      FROM bounds, range(60) i WHERE i.range < np_long),
    longv AS (
      SELECT doc_id, i, tid,
             ((d[((i*3 + 6) % 16) + 1] + i)
               % (CASE WHEN tid = 1 THEN 2 ELSE 3 END))
             * (CASE WHEN (d[((i + 8) % 16) + 1] + i) % 2 = 1
                     THEN -1 ELSE 1 END) AS x,
             ((d[((i*5 + 7) % 16) + 1] + 2*i)
               % (CASE WHEN tid = 1 THEN 2 ELSE 3 END))
             * (CASE WHEN (d[((i + 11) % 16) + 1] + i) % 2 = 1
                     THEN -1 ELSE 1 END) AS y
      FROM longp),
    shortp AS (
      SELECT doc_id, i.range AS i,
             CASE WHEN 2*i.range < 36 THEN ts[1] ELSE ts[2] END AS tid,
             d
      FROM params, range(60) i WHERE i.range < np_short),
    shortv AS (
      SELECT doc_id, i, tid,
             ((d[((i*7 + 2) % 16) + 1] + i)
               % (CASE WHEN tid = 1 THEN 2 ELSE 3 END))
             * (CASE WHEN (d[((i + 5) % 16) + 1] + i) % 2 = 1
                     THEN -1 ELSE 1 END) AS x,
             ((d[((i*9 + 3) % 16) + 1] + 2*i)
               % (CASE WHEN tid = 1 THEN 2 ELSE 3 END))
             * (CASE WHEN (d[((i + 13) % 16) + 1] + i) % 2 = 1
                     THEN -1 ELSE 1 END) AS y
      FROM shortp),
    quadv AS (
      SELECT doc_id, rj.range AS j,
             ((d[((rj.range*2 + 12) % 16) + 1] + rj.range) % 3) - 1
               AS v
      FROM dg, range(24) rj
      WHERE rj.range < 4 * (d[11] % 6)),
    lagg AS (
      SELECT doc_id, count(*) AS n_long,
             sum(x + y) AS ssum, sum(abs(x) + abs(y)) AS sabs,
             max(greatest(abs(x), abs(y))) AS mabs
      FROM longv GROUP BY doc_id),
    sagg AS (
      SELECT doc_id, count(*) AS n_short,
             sum(x + y) AS ssum, sum(abs(x) + abs(y)) AS sabs,
             max(greatest(abs(x), abs(y))) AS mabs
      FROM shortv GROUP BY doc_id),
    qagg AS (
      SELECT doc_id, count(*) AS n_quad_vals,
             coalesce(sum(v), 0) AS qsum
      FROM quadv GROUP BY doc_id)
    SELECT p.doc_id AS media_id,
           l.n_long::BIGINT AS n_pairs_long,
           s.n_short::BIGINT AS n_pairs_short,
           (l.ssum + s.ssum)::BIGINT AS sum_signed,
           (l.sabs + s.sabs)::BIGINT AS sum_abs,
           greatest(l.mabs, s.mabs)::BIGINT AS max_abs,
           coalesce(q.n_quad_vals, 0)::BIGINT AS n_quad_vals,
           coalesce(q.qsum, 0)::BIGINT AS sum_quads
    FROM params p
    JOIN lagg l USING (doc_id)
    JOIN sagg s USING (doc_id)
    LEFT JOIN qagg q USING (doc_id)
    """,
    tags=["multimodal", "mp3", "huffman", "big-values", "count1",
          "layer3"],
    plan=WIDENED_DECODE_PLAN,
)
def multimodal_mp3_bigvalues_decode(spark, sf_dir):
    """MP3 BIG-VALUES HUFFMAN DECODE (multimodal/mp3.py) for the
    vendored table family: digest-derived
    signed (x, y) pairs are Huffman-coded into spec-compliant frames
    with NONZERO big_values in BOTH a long-block granule (spec region
    partitioning: region0_count/region1_count over the vendored
    44.1 kHz Table B.8 boundaries, three regions under three
    independently-selected tables 1-3) and a window-switching SHORT
    granule (fixed 36-sample region0, two tables), plus a count1
    region alternating tables A and B — then decoded back through
    parse_mp3_frame and ASSERTED value-exact before aggregation, so
    the hash pins the whole encode->decode Huffman path. Every
    vendored table is a validated complete prefix code
    (tests/test_mp3_bigvalues.py); the larger printed tables (5-31,
    ESC/linbits) stay a loud boundary — see BIGVALUE_TABLES. The SQL
    oracle replays the pair/region/table derivation relationally in
    exact integers. One Arrow mapInPandas scan, zero shuffles.
    Reference parity: cam-etl has no audio; SURVEY.md SS2.8
    multimodal extension."""
    import hashlib

    from cam_etl_spark.multimodal.mp3 import (
        bigvalue_regions,
        encode_mp3_frame,
        parse_mp3_frame,
    )

    def run(batches):
        import pandas as pd

        def pairs_from(dig, d, n, tids, bounds):
            out = []
            for i in range(n):
                s = 2 * i
                region = 0 if s < bounds[1] else (
                    1 if s < bounds[2] else 2)
                tid = tids[region]
                dim = 2 if tid == 1 else 3
                x = ((dig[(i * 3 + 6) % 16] + i) % dim) * (
                    -1 if (dig[(i + 8) % 16] + i) % 2 else 1)
                y = ((dig[(i * 5 + 7) % 16] + 2 * i) % dim) * (
                    -1 if (dig[(i + 11) % 16] + i) % 2 else 1)
                out.append((x, y))
            return out

        for pdf in batches:
            rows = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(did)
                dig = hashlib.md5((text or "").encode()).digest()
                tl = [1 + dig[0] % 3, 1 + dig[1] % 3, 1 + dig[2] % 3]
                r0c, r1c = dig[3] % 7, dig[4] % 6
                np_long = 10 + dig[5] % 40
                ts = [1 + dig[6] % 3, 1 + dig[7] % 3]
                np_short = 10 + dig[8] % 40
                g0 = {
                    "block_type": 0, "mixed_block_flag": 0,
                    "scalefac_compress": 0, "global_gain": 100,
                    "preflag": 0, "scalefac_scale": 0,
                    "table_select": tl, "subblock_gain": [0, 0, 0],
                    "region0_count": r0c, "region1_count": r1c,
                    "scfsi": 0, "scalefacs": [0] * 21,
                    "count1table_select": dig[9] % 2,
                }
                b0 = bigvalue_regions(
                    dict(g0, big_values=np_long), 44100)
                g0["pairs"] = pairs_from(dig, d, np_long, tl, b0)
                nq = dig[10] % 6
                quads = []
                for qi in range(nq):
                    quads.append(tuple(
                        ((dig[((4 * qi + t) * 2 + 12) % 16]
                          + 4 * qi + t) % 3) - 1
                        for t in range(4)
                    ))
                g0["quads"] = quads
                g1 = {
                    "block_type": 2, "mixed_block_flag": 0,
                    "scalefac_compress": 0, "global_gain": 100,
                    "preflag": 0, "scalefac_scale": 0,
                    "table_select": ts + [0],
                    "subblock_gain": [0, 0, 0],
                    "scfsi": 0, "scalefacs": [0] * 36,
                    "count1table_select": 1 - dig[9] % 2,
                    "quads": [],
                }
                b1 = [0, min(36, 2 * np_short),
                      2 * np_short, 2 * np_short]
                g1["pairs"] = _short_pairs(dig, np_short, ts, b1)
                buf = encode_mp3_frame([[g0], [g1]],
                                       sample_rate=44100,
                                       bitrate_kbps=160)
                m = parse_mp3_frame(buf)
                p0 = m["granules"][0][0]
                p1 = m["granules"][1][0]
                assert p0["pairs"] == g0["pairs"], d
                assert p1["pairs"] == g1["pairs"], d
                assert p0["quads"] == quads, d
                allp = g0["pairs"] + g1["pairs"]
                qvals = [v for q in quads for v in q]
                rows.append({
                    "media_id": d,
                    "n_pairs_long": len(g0["pairs"]),
                    "n_pairs_short": len(g1["pairs"]),
                    "sum_signed": sum(x + y for x, y in allp),
                    "sum_abs": sum(abs(x) + abs(y) for x, y in allp),
                    "max_abs": max(max(abs(x), abs(y))
                                   for x, y in allp),
                    "n_quad_vals": len(qvals),
                    "sum_quads": sum(qvals),
                })
            yield pd.DataFrame(
                rows,
                columns=["media_id", "n_pairs_long", "n_pairs_short",
                         "sum_signed", "sum_abs", "max_abs",
                         "n_quad_vals", "sum_quads"],
            )

    def _short_pairs(dig, n, ts, bounds):
        out = []
        for i in range(n):
            tid = ts[0] if 2 * i < bounds[1] else ts[1]
            dim = 2 if tid == 1 else 3
            x = ((dig[(i * 7 + 2) % 16] + i) % dim) * (
                -1 if (dig[(i + 5) % 16] + i) % 2 else 1)
            y = ((dig[(i * 9 + 3) % 16] + 2 * i) % dim) * (
                -1 if (dig[(i + 13) % 16] + i) % 2 else 1)
            out.append((x, y))
        return out

    docs = sampled_docs(spark, sf_dir, 4, 1)
    return docs.mapInPandas(
        run,
        "media_id long, n_pairs_long long, n_pairs_short long, "
        "sum_signed long, sum_abs long, max_abs long, "
        "n_quad_vals long, sum_quads long",
    )


@register(
    "s44_delta_v2_checkpoint",
    f"""
    WITH latestc AS (
      SELECT * FROM orders
      UNION ALL
      SELECT * FROM orders
      WHERE o_orderstatus = 'O' AND o_orderkey % 2 = 0),
    v1c AS (
      SELECT * FROM orders
      UNION ALL
      SELECT * FROM orders
      WHERE o_orderstatus = 'F' AND o_orderkey % 5 = 0)
    {CHECKPOINT_PHASES}
    """,
    tags=["S1", "delta", "lake", "v2-checkpoint", "sidecar"],
    plan={"Exchange hashpartitioning": (0, 2), "CartesianProduct": (0, 0)},
)
def s44_delta_v2_checkpoint(spark, sf_dir):
    """Delta V2 (SIDECAR-BASED) CHECKPOINT: the
    checkpoint form modern Delta writers emit at scale (PROTOCOL.md
    "V2 Spec Checkpoints"), where a UUID-named top-level file carries
    checkpointMetadata + sidecar actions and the add list is SPREAD
    over parquet sidecars under _delta_log/_sidecars/. The fixture
    builds a real log (v0: orders in 4 files; v1: append the F%5
    slice), writes a 3-sidecar v2 checkpoint at v1 under protocol
    readerFeatures=[v2Checkpoint], commits v2 (remove the v1 file,
    add the even-O slice), and replays BOTH the latest snapshot and
    time-travel-to-v1 THROUGH the checkpoint (from_checkpoint
    asserted; the v2 replay is asserted file-for-file identical to
    the pure-JSON replay before the checkpoint existed). The hashed
    output pins the layout itself — n_sidecars, from_checkpoint and
    the live-file count — alongside per-status content aggregates of
    both versions. At 100 TB the v2 layout is WHY a reader scales:
    the driver reads one small top file, sidecar file-lists can fan
    out, and executors only ever see live parquet."""
    import os

    from pyspark.sql import functions as F

    from cam_etl_spark.sources.delta_log import (
        add_action,
        remove_action,
        replay_log,
        table_files,
        write_checkpoint_v2,
        write_commit,
    )

    table = fixture_dir(sf_dir, "cam_etl_delta_v2ckpt_fixture", "orders_v2ckpt")

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        "o_orderstatus",
    )
    o.repartition(4).write.parquet(table, mode="overwrite")

    def adds(paths):
        return [add_action(table, p) for p in paths]

    files_v0 = table_files(table)
    assert len(files_v0) == 4, files_v0
    meta = {
        "id": "orders-v2ckpt-fixture",
        "format": {"provider": "parquet", "options": {}},
        "schemaString": o.schema.json(),
        "partitionColumns": [],
        "configuration": {},
    }
    write_commit(
        table,
        0,
        [
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["v2Checkpoint"],
                          "writerFeatures": ["v2Checkpoint"]}},
            {"metaData": meta},
        ]
        + adds(files_v0),
    )
    # v1: append the F%5 slice as one file
    o.filter(
        (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 5 == 0)
    ).coalesce(1).write.parquet(table, mode="append")
    f_slice = sorted(set(table_files(table)) - set(files_v0))
    write_commit(table, 1, adds(f_slice))

    # the pure-JSON replay BEFORE any checkpoint exists...
    snap_json = replay_log(table, version=1)
    assert snap_json["from_checkpoint"] is None
    # ...must be file-for-file identical through the v2 checkpoint
    write_checkpoint_v2(table, 1, snap_json, n_sidecars=3)
    snap_v2 = replay_log(table, version=1)
    assert snap_v2["from_checkpoint"] == 1
    assert [f["path"] for f in snap_v2["files"]] == [
        f["path"] for f in snap_json["files"]
    ]
    sc_dir = os.path.join(table, "_delta_log", "_sidecars")
    n_sidecars = len(os.listdir(sc_dir))
    assert n_sidecars == 3

    # v2: remove the F%5 file, add the even-O slice
    o.filter(
        (F.col("o_orderstatus") == "O") & (F.col("o_orderkey") % 2 == 0)
    ).coalesce(1).write.parquet(table, mode="append")
    o_slice = sorted(set(table_files(table)) - set(files_v0) - set(f_slice))
    write_commit(
        table,
        2,
        [remove_action(p, 2) for p in f_slice]
        + adds(o_slice),
    )

    latest = replay_log(table)
    assert latest["from_checkpoint"] == 1
    assert latest["n_commits_replayed"] == 1  # only the v2 tail

    def read_version(snap, phase):
        paths = [os.path.join(table, f["path"]) for f in snap["files"]]
        return (
            spark.read.parquet(*paths)
            .groupBy(F.col("o_orderstatus").alias("status"))
            .agg(
                F.count("*").alias("n_orders"),
                F.sum("o_orderkey").alias("sum_key"),
                F.sum("cents").alias("sum_cents"),
            )
            .select(F.lit(phase).alias("phase"), "status", "n_orders",
                    "sum_key", "sum_cents")
        )

    layout = spark.createDataFrame(
        [("layout", "_", n_sidecars, latest["from_checkpoint"],
          len(latest["files"]))],
        "phase string, status string, n_orders long, sum_key long, "
        "sum_cents long",
    )
    return (
        read_version(latest, "latest")
        .unionAll(read_version(snap_v2, "v1"))
        .unionAll(layout)
    )


@register(
    "s45_iceberg_schema_evolution",
    f"""
    WITH legacy AS (
      SELECT o_orderkey AS k,
             {CENTS} AS amount,
             NULL::VARCHAR AS status
      FROM orders),
    modern AS (
      SELECT o_orderkey AS k,
             {CENTS} AS amount,
             o_orderstatus AS status
      FROM orders WHERE o_orderkey % 3 = 0),
    u AS (SELECT * FROM legacy UNION ALL SELECT * FROM modern)
    SELECT coalesce(status, 'legacy') AS src,
           count(*)::BIGINT AS n_rows,
           sum(k)::BIGINT AS sum_key,
           sum(amount)::BIGINT AS sum_amount
    FROM u GROUP BY src
    """,
    tags=["S1", "iceberg", "lake", "schema-evolution", "name-mapping"],
    plan={"Exchange hashpartitioning": (0, 1), "CartesianProduct": (0, 0)},
)
def s45_iceberg_schema_evolution(spark, sf_dir):
    """ICEBERG SCHEMA EVOLUTION ON READ: an
    add-column AND a rename over EXISTING data files, resolved at
    scan time with zero data rewrite (sources/iceberg_meta.py). File
    A holds every order under the v1 schema (k, amount_old); the
    table then renames amount_old -> amount and ADDS a status
    column; file B holds the %3 slice under the v2 schema. The
    current table metadata carries the v2 schema plus the spec's
    `schema.name-mapping.default` property (the read path for data
    files written WITHOUT parquet field ids), and read_snapshot
    resolves both files in one mergeSchema scan: A's amount_old
    surfaces as amount, A's status is a TYPED NULL. The oracle
    replays the union relationally (legacy rows grouped under
    'legacy'). At 100 TB this is why evolution is metadata-only:
    renames and adds touch kilobytes of JSON while petabytes of old
    parquet stay byte-identical and remain scannable."""
    import os

    from pyspark.sql import functions as F

    from cam_etl_spark.sources import delta_log as D
    from cam_etl_spark.sources import iceberg_meta as I

    table = fixture_dir(sf_dir, "cam_etl_iceberg_evo_fixture", "orders_evo")
    data = os.path.join(table, "data")
    md = os.path.join(table, "metadata")
    os.makedirs(data)
    os.makedirs(md)

    o = t(spark, sf_dir, "orders")

    def one_file(df, name):
        return D.one_file(df, os.path.join(data, name))

    fa = one_file(
        o.select(
            F.col("o_orderkey").alias("k"),
            F.round(F.col("o_totalprice") * 100, 0)
            .cast("long").alias("amount_old"),
        ),
        "legacy.parquet",
    )
    fb = one_file(
        o.filter(F.col("o_orderkey") % 3 == 0).select(
            F.col("o_orderkey").alias("k"),
            F.round(F.col("o_totalprice") * 100, 0)
            .cast("long").alias("amount"),
            F.col("o_orderstatus").alias("status"),
        ),
        "modern.parquet",
    )
    m1 = os.path.join(md, "m1.avro")
    I.write_manifest(
        m1,
        [I.manifest_entry(p, snapshot_id=1, record_count=1) for p in (fa, fb)],
    )
    s1 = I.write_snapshot(table, 1, [m1])
    schema_fields = [
        {"id": 1, "name": "k", "type": "long"},
        {"id": 2, "name": "amount", "type": "long"},
        {"id": 3, "name": "status", "type": "string"},
    ]
    name_mapping = [
        {"field-id": 1, "names": ["k"]},
        {"field-id": 2, "names": ["amount_old", "amount"]},
        {"field-id": 3, "names": ["status"]},
    ]
    import json as _json

    I.write_table_metadata(
        table, 1, [s1], 1, [],
        schema_fields=schema_fields,
        properties={
            "schema.name-mapping.default": _json.dumps(name_mapping)
        },
    )
    df, _snap, n_files = I.read_snapshot(spark, table)
    assert n_files == 2
    assert df.columns == ["k", "amount", "status"]
    return df.groupBy(
        F.coalesce(F.col("status"), F.lit("legacy")).alias("src")
    ).agg(
        F.count("*").alias("n_rows"),
        F.sum("k").alias("sum_key"),
        F.sum("amount").alias("sum_amount"),
    )


@register(
    "s58_parquet_page_index_prune",
    f"""
    WITH ranges AS (
      SELECT r.range AS range_id,
             1 + r.range * 997 AS lo,
             1 + r.range * 997 + 400 AS hi
      FROM range(8) r),
    src AS (
      {ORDER_CENTS}),
    j AS (
      SELECT g.range_id, s.k, s.cents
      FROM ranges g JOIN src s ON s.k BETWEEN g.lo AND g.hi)
    SELECT range_id,
           count(*)::BIGINT AS n_rows,
           sum(k)::BIGINT AS sum_key,
           sum(cents)::BIGINT AS sum_cents
    FROM j GROUP BY range_id
    """,
    tags=["S1", "parquet", "lake", "page-index", "pruning"],
    plan=ONE_ROLLUP_PLAN,
)
def s58_parquet_page_index_prune(spark, sf_dir):
    """PARQUET PAGE-INDEX PRUNING (parquet_meta.py
    read_page_index / prune_pages): the OffsetIndex (page locations +
    first row indexes) and ColumnIndex (per-page min/max) that
    parquet-mr writes by default, parsed with the engine's own
    thrift-compact reader from a REAL Spark-written sorted file with
    ~1000-row pages. For each of 8 key ranges the kernel keeps only
    the overlapping pages, asserts NO FALSE SKIP (every matching row
    index falls inside a kept page's row range) and real skip power
    (kept rows are a small fraction), then answers the range query
    from the kept row ranges alone; the oracle replays the range
    joins relationally. At 100 TB this is the intra-file analogue of
    row-group pruning: a selective predicate on a sorted column
    reads a handful of pages per file, decided from kilobytes of
    index."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from cam_etl_spark.sources.parquet_meta import (
        parse_footer,
        prune_pages,
        read_page_index,
    )

    out_dir = fixture_dir(sf_dir, "cam_etl_parquet_pageindex_fixture", "orders_sorted")

    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100, 0)
        .cast("long").alias("cents"),
    )
    tmp = out_dir + ".tmp"
    (o.repartition(1).sortWithinPartitions("k")
     .write.mode("overwrite")
     .option("parquet.page.size", "2048")
     .option("parquet.page.row.count.limit", "1000")
     .parquet(tmp))
    path = os.path.join(out_dir, "sorted.parquet")
    shutil.move(glob.glob(tmp + "/*.parquet")[0], path)
    shutil.rmtree(tmp)

    ranges = [(i, 1 + i * 997, 1 + i * 997 + 400) for i in range(8)]

    import pyarrow.parquet as pq

    def run(p):
        raw = open(p, "rb").read()
        foot = parse_footer(raw)
        tbl = pq.read_table(p, columns=["k", "cents"])
        ks = tbl["k"].to_pylist()
        cents = tbl["cents"].to_pylist()
        row_base = 0
        acc = {i: [0, 0, 0] for i, _, _ in ranges}
        for rg in foot["row_groups"]:
            col = next(c for c in rg["columns"]
                       if c["path"] == "k")
            idx = read_page_index(raw, col)
            n_pages = len(idx["page_locations"])
            for rid, lo, hi in ranges:
                keep = prune_pages(idx, lo, hi,
                                   rg["num_rows"])
                # real skip power on a sorted column
                assert len(keep) < max(3, n_pages // 4), \
                    (p, rid, len(keep), n_pages)
                kept_rows = {
                    i for _pi, fr, er in keep
                    for i in range(row_base + fr,
                                   row_base + er)
                }
                for i in range(row_base,
                               row_base + rg["num_rows"]):
                    if lo <= ks[i] <= hi:
                        # NO FALSE SKIP
                        assert i in kept_rows, (p, rid, i)
                # answer from kept pages ONLY
                for i in sorted(kept_rows):
                    if lo <= ks[i] <= hi:
                        acc[rid][0] += 1
                        acc[rid][1] += ks[i]
                        acc[rid][2] += cents[i]
            row_base += rg["num_rows"]
        for rid, _, _ in ranges:
            if acc[rid][0]:
                yield {
                    "range_id": rid,
                    "n_rows": acc[rid][0],
                    "sum_key": acc[rid][1],
                    "sum_cents": acc[rid][2],
                }

    files = spark.createDataFrame([(path,)], "path string")
    return (
        map_rows(
            files, run,
            "range_id long, n_rows long, sum_key long, "
            "sum_cents long",
        )
        .groupBy("range_id")
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.sum("sum_key").alias("sum_key"),
            F.sum("sum_cents").alias("sum_cents"),
        )
    )


@register(
    "s57_parquet_bloom_point_lookup",
    """
    WITH probes AS (
      SELECT range AS probe FROM range(1, 33)
      UNION ALL
      SELECT 1000000000 + range FROM range(1, 33)),
    j AS (
      SELECT p.probe, o.o_orderkey,
             (round(o.o_totalprice * 100, 0))::BIGINT AS cents
      FROM probes p LEFT JOIN orders o ON o.o_orderkey = p.probe)
    SELECT probe, count(o_orderkey)::BIGINT AS n_rows,
           coalesce(sum(cents), 0)::BIGINT AS sum_cents
    FROM j GROUP BY probe
    """,
    tags=["S1", "parquet", "lake", "bloom-filter", "point-lookup"],
    plan=ONE_ROLLUP_PLAN,
)
def s57_parquet_bloom_point_lookup(spark, sf_dir):
    """PARQUET SPLIT-BLOCK BLOOM FILTERS
    (sources/parquet_meta.py read_bloom_filter / bloom_might_contain /
    bloom_prune): per column chunk, xxHash64 over the PLAIN encoding
    picks one 256-bit block (upper 32 bits) and 8 salted bits (lower
    32) — the spec's SBBF. Orders is written by Spark's parquet-mr as
    FOUR bloom-enabled files split by key residue; each task parses
    its file's footer + bitset with the engine's own thrift-compact
    reader, evaluates 64 point probes (32 live keys, 32 guaranteed
    absent), SCANS its rows, and asserts the no-false-negative
    invariant per probe (bloom says absent -> zero matching rows)
    plus real skip power on the absent set. The emitted per-probe
    counts come from the pruned evaluation and the oracle replays
    them from orders relationally. At 100 TB this is the point-lookup
    story: a footer + a few-KB bitset per file decide membership
    before any data page is read."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from cam_etl_spark.sources.parquet_meta import (
        bloom_prune,
        parse_footer,
    )

    out_dir = fixture_dir(sf_dir, "cam_etl_parquet_bloom_fixture", "orders_bloom")

    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100, 0)
        .cast("long").alias("cents"),
    )
    for i in range(4):
        tmp = out_dir + f".tmp{i}"
        (o.filter(F.col("k") % 4 == i).coalesce(1)
         .write.mode("overwrite")
         .option("parquet.bloom.filter.enabled#k", "true")
         .parquet(tmp))
        shutil.move(glob.glob(tmp + "/*.parquet")[0],
                    os.path.join(out_dir, f"part-{i}.parquet"))
        shutil.rmtree(tmp)

    probes = list(range(1, 33)) + [10**9 + i for i in range(1, 33)]
    paths = [(os.path.join(out_dir, f"part-{i}.parquet"),)
             for i in range(4)]

    import pyarrow.parquet as pq

    def run(path):
        raw = open(path, "rb").read()
        foot = parse_footer(raw)
        assert all(
            c["bloom_filter_offset"] is not None
            for rg in foot["row_groups"]
            for c in rg["columns"] if c["path"] == "k"
        ), path
        verdict = bloom_prune(raw, "k", probes)
        # the absent probe set must show real skip power
        absent = [p for p in probes if p > 10**9]
        assert sum(1 for p in absent if not verdict[p]) \
            >= len(absent) - 3, path
        tbl = pq.read_table(path, columns=["k", "cents"])
        ks = tbl["k"].to_pylist()
        cents = tbl["cents"].to_pylist()
        probe_set = set(probes)
        by_key = {}
        for kk, cc in zip(ks, cents):
            if kk in probe_set:
                e = by_key.setdefault(kk, [0, 0])
                e[0] += 1
                e[1] += cc
        for p in probes:
            hit = by_key.get(p)
            if not verdict[p]:
                # NO FALSE NEGATIVES: a bloom-rejected probe
                # must have zero rows in this file
                assert hit is None, (path, p)
                yield {"probe": p, "n_rows": 0,
                             "sum_cents": 0}
            else:
                yield {
                    "probe": p,
                    "n_rows": hit[0] if hit else 0,
                    "sum_cents": hit[1] if hit else 0,
                }

    files = task_per_item(spark, paths, "path string")
    return (
        map_rows(
            files, run, "probe long, n_rows long, sum_cents long"
        )
        .groupBy("probe")
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.sum("sum_cents").alias("sum_cents"),
        )
    )


@register(
    "s56_delta_variant_type",
    f"""
    WITH src AS (
      {ORDER_STATUS_CENTS}
      FROM orders WHERE o_orderkey % 4 = 1)
    SELECT status,
           count(*)::BIGINT AS n_rows,
           sum(k)::BIGINT AS sum_key,
           sum(cents)::BIGINT AS sum_cents
    FROM src GROUP BY status
    """,
    tags=["S1", "delta", "lake", "variant", "reader-features"],
)
def s56_delta_variant_type(spark, sf_dir):
    """DELTA variantType READER FEATURE
    (sources/delta_log.py SUPPORTED_READER_FEATURES): a Delta table
    whose schemaString carries a VARIANT column — Spark 4 owns the
    type end-to-end (parse_json, the parquet value+metadata physical
    layout, variant_get extraction), so the replayer's job is the
    protocol gate plus reading under the table schema. The kernel
    writes the %4 orders slice as variants into a real Delta log
    (minReaderVersion 3, readerFeatures [variantType]), reads it
    back through read_snapshot, extracts TYPED fields with
    variant_get, and aggregates; the oracle replays the same rollup
    from the relational columns. variantShredding stays a loud
    boundary."""
    import glob
    import json as _json
    import os
    import shutil

    from pyspark.sql import functions as F

    from cam_etl_spark.sources import delta_log as D

    table = fixture_dir(sf_dir, "cam_etl_delta_variant_fixture", "orders_variant")

    o = t(spark, sf_dir, "orders").filter("o_orderkey % 4 = 1")
    df = o.selectExpr(
        "o_orderkey AS k",
        "parse_json(to_json(named_struct("
        "'status', o_orderstatus, "
        "'cents', cast(round(o_totalprice * 100, 0) AS long)"
        "))) AS v",
    )
    tmp = os.path.join(table, "_tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    name = "part-0.parquet"
    shutil.move(glob.glob(tmp + "/*.parquet")[0],
                os.path.join(table, name))
    shutil.rmtree(tmp)

    schema = {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True,
             "metadata": {}},
            {"name": "v", "type": "variant", "nullable": True,
             "metadata": {}},
        ],
    }
    D.write_commit(table, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["variantType"],
                      "writerFeatures": ["variantType"]}},
        {"metaData": {
            "id": "variant-fixture",
            "format": {"provider": "parquet"},
            "schemaString": _json.dumps(schema),
            "partitionColumns": [], "configuration": {},
        }},
        D.add_action(table, name, size=1),
    ])
    out, _snap, n_files = D.read_snapshot(spark, table)
    assert n_files == 1
    assert dict(out.dtypes)["v"] == "variant"
    return out.selectExpr(
        "k",
        "variant_get(v, '$.status', 'string') AS status",
        "variant_get(v, '$.cents', 'long') AS cents",
    ).groupBy("status").agg(
        F.count("*").alias("n_rows"),
        F.sum("k").alias("sum_key"),
        F.sum("cents").alias("sum_cents"),
    )


@register(
    "s55_iceberg_v3_deletion_vectors",
    f"""
    WITH src AS (
      {ORDER_CENTS}),
    ranked AS (
      SELECT k, cents, k % 2 AS par,
             row_number() OVER (PARTITION BY k % 2 ORDER BY k) - 1
               AS pos
      FROM src),
    kept AS (
      SELECT * FROM ranked
      WHERE NOT (par = 0 AND pos % 7 = 3)
        AND NOT (par = 1 AND pos % 5 = 2))
    SELECT par AS file_par,
           count(*)::BIGINT AS n_rows,
           sum(k)::BIGINT AS sum_key,
           sum(cents)::BIGINT AS sum_cents
    FROM kept GROUP BY par
    """,
    tags=["S1", "iceberg", "lake", "format-version-3",
          "deletion-vectors", "puffin"],
)
def s55_iceberg_v3_deletion_vectors(spark, sf_dir):
    """ICEBERG v3 DELETION VECTORS (sources/iceberg_meta.py): position
    deletes as puffin ``deletion-vector-v1`` blobs — the Delta-interop
    framing (4-byte BE length, RoaringBitmapArray with magic 1681511377,
    4-byte BE CRC-32), addressed from the manifest by
    referenced_data_file + content_offset/content_size_in_bytes (spec
    fields 143-145). Two sorted data files (even / odd order keys), one
    DV each deleting positions %% 7 == 3 / %% 5 == 2; read_snapshot
    decodes the blobs EXECUTOR-side (one task per vector) and anti-joins
    on (file, `_metadata.row_index`) exactly like v2 position deletes.
    The oracle replays the position arithmetic relationally via
    row_number. At 100 TB a DV is a kilobyte bitmap per data file —
    deletes never rewrite data, and the scan stays a pruned vectorized
    parquet read plus one anti-join."""
    import os

    from pyspark.sql import functions as F

    from cam_etl_spark.sources import delta_log as D
    from cam_etl_spark.sources import iceberg_meta as I

    table = fixture_dir(sf_dir, "cam_etl_iceberg_dv_fixture", "orders_dv")
    data = os.path.join(table, "data")
    md = os.path.join(table, "metadata")
    os.makedirs(data)
    os.makedirs(md)

    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_orderkey") % 2).alias("par"),
        F.round(F.col("o_totalprice") * 100, 0)
        .cast("long").alias("cents"),
    )

    def one_file(df, name):
        return D.one_file(
            df.repartition(1).sortWithinPartitions("k"), os.path.join(data, name)
        )

    fa = one_file(o.filter("par = 0"), "even.parquet")
    fb = one_file(o.filter("par = 1"), "odd.parquet")
    import pyarrow.parquet as pq

    n_a = pq.read_metadata(fa).num_rows
    n_b = pq.read_metadata(fb).num_rows
    puffin = os.path.join(md, "dvs.puffin")
    frags = I.write_puffin_dvs(puffin, [
        (fa, [p for p in range(n_a) if p % 7 == 3]),
        (fb, [p for p in range(n_b) if p % 5 == 2]),
    ])
    m1 = os.path.join(md, "m1.avro")
    I.write_manifest(m1, [
        I.manifest_entry(p, snapshot_id=1, sequence_number=1, record_count=1)
        for p in (fa, fb)
    ])
    mdv = os.path.join(md, "dv.avro")
    I.write_manifest(mdv, [
        I.manifest_entry(
            puffin, snapshot_id=1, sequence_number=2, content=1,
            file_format="puffin", record_count=fr["cardinality"],
            referenced_data_file=ref, content_offset=fr["offset"],
            content_size_in_bytes=fr["length"],
        )
        for ref, fr in ((fa, frags[0]), (fb, frags[1]))
    ])
    s1 = I.write_snapshot(table, 1, [m1, (mdv, 1)])
    I.write_table_metadata(table, 1, [s1], 1, [], format_version=3)

    df, snap, n_files = I.read_snapshot(spark, table)
    assert n_files == 2
    assert len(snap["delete_files"]) == 2
    assert all(f.get("dv") for f in snap["delete_files"])
    return df.groupBy(F.col("par").alias("file_par")).agg(
        F.count("*").alias("n_rows"),
        F.sum("k").alias("sum_key"),
        F.sum("cents").alias("sum_cents"),
    )


@register(
    "s54_orc_union_decode",
    f"""
    WITH src AS (
      {ORDER_STATUS_CENTS},
             o_totalprice AS price
      FROM orders)
    SELECT 0::BIGINT AS tag, count(*)::BIGINT AS n_values,
           sum(cents)::BIGINT AS checksum
    FROM src WHERE k % 3 = 0
    UNION ALL
    SELECT 1::BIGINT, count(*)::BIGINT,
           sum(strlen(status))::BIGINT
    FROM src WHERE k % 3 = 1
    UNION ALL
    SELECT 2::BIGINT, count(*)::BIGINT,
           sum((round(price * 100, 0))::BIGINT)::BIGINT
    FROM src WHERE k % 3 = 2
    """,
    tags=["S1", "orc", "lake", "union"],
    plan=ONE_ROLLUP_PLAN,
)
def s54_orc_union_decode(spark, sf_dir):
    """ORC UNION COLUMNS (sources/orc_read.py): the spec's union
    encoding — a Byte-RLE TAG stream (one byte per present value, the
    child-type index) with each child column holding only its own values
    in row order. Every task packs its orders slice into a REAL union
    ORC file via the Apache ORC C++ writer (pyarrow), decodes it back
    with the engine's from-spec reader, asserts tag-exact and
    value-exact agreement against pyarrow's own read-back (the (tag,
    value) pairs additionally preserve the branch identity pyarrow's
    pylist drops), and emits per-branch checksums the oracle replays
    relationally: tag = key %% 3 selecting long cents / string status /
    double price. One Arrow scan, zero shuffles before the three-row
    rollup."""
    import math

    from pyspark.sql import functions as F

    from cam_etl_spark.sources.orc_read import read_orc

    def run(batches):
        import io

        import pandas as pd
        import pyarrow as pa
        import pyarrow.orc as paorc

        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame(
                    [], columns=["tag", "n_values", "checksum"])
                continue
            ks = [int(k) for k in pdf["k"]]
            tags = [k % 3 for k in ks]
            kids = {0: [], 1: [], 2: []}
            offs = []
            for i, tg in enumerate(tags):
                offs.append(len(kids[tg]))
                if tg == 0:
                    kids[0].append(int(pdf["cents"].iloc[i]))
                elif tg == 1:
                    kids[1].append(str(pdf["status"].iloc[i]))
                else:
                    kids[2].append(float(pdf["price"].iloc[i]))
            u = pa.UnionArray.from_dense(
                pa.array(tags, type=pa.int8()),
                pa.array(offs, type=pa.int32()),
                [pa.array(kids[0], type=pa.int64()),
                 pa.array(kids[1], type=pa.string()),
                 pa.array(kids[2], type=pa.float64())],
            )
            buf = io.BytesIO()
            paorc.write_table(pa.table({"u": u}), buf)
            raw = buf.getvalue()

            got = read_orc(raw)["columns"]["u"]
            assert [tg for tg, _ in got] == tags
            back = paorc.read_table(io.BytesIO(raw))["u"].to_pylist()
            assert [v for _, v in got] == back

            stats = {0: [0, 0], 1: [0, 0], 2: [0, 0]}
            for tg, v in got:
                stats[tg][0] += 1
                stats[tg][1] += (
                    v if tg == 0
                    else len(v.encode("utf-8")) if tg == 1
                    else int(math.floor(v * 100 + 0.5))
                )
            yield pd.DataFrame(
                [{"tag": tg, "n_values": s[0], "checksum": s[1]}
                 for tg, s in stats.items() if s[0]],
                columns=["tag", "n_values", "checksum"],
            )

    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100, 0)
        .cast("long").alias("cents"),
        F.col("o_totalprice").alias("price"),
    )
    return (
        o.mapInPandas(
            run, "tag long, n_values long, checksum long"
        )
        .groupBy("tag")
        .agg(
            F.sum("n_values").alias("n_values"),
            F.sum("checksum").alias("checksum"),
        )
    )


@register(
    "s53_delta_type_widening",
    f"""
    WITH narrow AS (
      SELECT o_orderkey AS k,
             {CENTS} AS cents,
             (o_orderdate::DATE - DATE '1970-01-01')::BIGINT AS dday
      FROM orders),
    wide AS (
      SELECT o_orderkey AS k,
             {CENTS} AS cents,
             (o_orderdate::DATE - DATE '1970-01-01')::BIGINT AS dday
      FROM orders WHERE o_orderkey % 3 = 0),
    u AS (SELECT * FROM narrow UNION ALL SELECT * FROM wide)
    SELECT 'widened' AS src,
           count(*)::BIGINT AS n_rows,
           sum(k)::BIGINT AS sum_key,
           sum(cents)::BIGINT AS sum_cents,
           sum(dday)::BIGINT AS sum_days
    FROM u
    """,
    tags=["S1", "delta", "lake", "type-widening",
          "reader-features"],
)
def s53_delta_type_widening(spark, sf_dir):
    """DELTA typeWidening READER FEATURE (sources/delta_log.py
    SUPPORTED_READER_FEATURES): file A was
    written while cents was INT and odate was DATE; the table then
    widened cents -> long and odate -> timestamp_ntz — a
    metadata-only change (PROTOCOL.md "Type Widening",
    delta.typeChanges field metadata) — and file B carries the wide
    types. read_snapshot reads BOTH files under the current table
    schemaString; Spark's vectorized parquet reader performs the
    spec's promotions on A's narrow pages (int32 -> int64, date ->
    timestamp_ntz — verified for every spec-allowed widening in
    tests/test_delta_log.py). The oracle replays the two-file union
    relationally. At 100 TB this is why type widening matters: the
    ALTER touches kilobytes of JSON while petabytes of narrow parquet
    stay byte-identical and scannable."""
    import json as _json
    import os

    from pyspark.sql import functions as F

    from cam_etl_spark.sources import delta_log as D

    table = fixture_dir(sf_dir, "cam_etl_delta_widen_fixture", "orders_widen")

    o = t(spark, sf_dir, "orders")

    def one_file(df, name):
        D.one_file(df, os.path.join(table, name))
        return name

    fa = one_file(
        o.select(
            F.col("o_orderkey").alias("k"),
            F.round(F.col("o_totalprice") * 100, 0)
            .cast("int").alias("cents"),
            F.col("o_orderdate").cast("date").alias("odate"),
        ),
        "narrow.parquet",
    )
    fb = one_file(
        o.filter(F.col("o_orderkey") % 3 == 0).select(
            F.col("o_orderkey").alias("k"),
            F.round(F.col("o_totalprice") * 100, 0)
            .cast("long").alias("cents"),
            F.col("o_orderdate").cast("date")
            .cast("timestamp_ntz").alias("odate"),
        ),
        "wide.parquet",
    )
    schema = {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True,
             "metadata": {}},
            {"name": "cents", "type": "long", "nullable": True,
             "metadata": {"delta.typeChanges": [
                 {"fromType": "integer", "toType": "long"}]}},
            {"name": "odate", "type": "timestamp_ntz",
             "nullable": True,
             "metadata": {"delta.typeChanges": [
                 {"fromType": "date", "toType": "timestamp_ntz"}]}},
        ],
    }
    D.write_commit(table, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["typeWidening",
                                         "timestampNtz"],
                      "writerFeatures": ["typeWidening"]}},
        {"metaData": {
            "id": "widen-fixture", "format": {"provider": "parquet"},
            "schemaString": _json.dumps(schema),
            "partitionColumns": [], "configuration": {},
        }},
    ] + [D.add_action(table, p, size=1) for p in (fa, fb)])
    df, _snap, n_files = D.read_snapshot(spark, table)
    assert n_files == 2
    types = dict(df.dtypes)
    assert types["cents"] == "bigint", types
    assert types["odate"] == "timestamp_ntz", types
    return df.agg(
        F.count("*").alias("n_rows"),
        F.sum("k").alias("sum_key"),
        F.sum("cents").alias("sum_cents"),
        F.sum(
            F.datediff(F.col("odate").cast("date"),
                       F.lit("1970-01-01").cast("date"))
        ).cast("long").alias("sum_days"),
    ).select(F.lit("widened").alias("src"), "n_rows", "sum_key",
             "sum_cents", "sum_days")


@register(
    "s52_iceberg_v3_row_defaults",
    f"""
    WITH legacy AS (
      SELECT o_orderkey AS k,
             {CENTS} AS amount,
             'NEW' AS status
      FROM orders),
    modern AS (
      SELECT o_orderkey AS k,
             {CENTS} AS amount,
             CASE WHEN o_orderstatus = 'P' THEN NULL
                  ELSE o_orderstatus END AS status
      FROM orders WHERE o_orderkey % 3 = 0),
    u AS (SELECT * FROM legacy UNION ALL SELECT * FROM modern)
    SELECT coalesce(status, 'null_kept') AS src,
           count(*)::BIGINT AS n_rows,
           sum(k)::BIGINT AS sum_key,
           sum(amount)::BIGINT AS sum_amount,
           (count(*) * 7)::BIGINT AS sum_prio
    FROM u GROUP BY src
    """,
    tags=["S1", "iceberg", "lake", "format-version-3",
          "default-values"],
)
def s52_iceberg_v3_row_defaults(spark, sf_dir):
    """ICEBERG FORMAT-VERSION 3 READ + DEFAULT VALUES
    (sources/iceberg_meta.py): v3 metadata is
    accepted (row-lineage bookkeeping ignored — this reader exposes
    no _row_id), and the v3 ``initial-default`` field property is
    honored on read. File A holds every order written BEFORE the
    status column existed; file B holds the %3 slice WITH status,
    including REAL nulls ('P' rows). The scan fills A's rows with the
    default 'NEW' while preserving B's written values AND its nulls
    (null != default — the per-file split is decided from parquet
    footers driver-side, metadata-scale, and applied via the scan's
    file-path metadata column, so no blanket coalesce can destroy a
    written null). A second defaulted column (prio, absent from every
    file) backfills wholesale. v3 deletion vectors / encryption /
    v3-only types stay loud boundaries. At 100 TB this is the same
    story as schema evolution: adding a defaulted column touches
    kilobytes of JSON, zero data rewrite."""
    import os

    from pyspark.sql import functions as F

    from cam_etl_spark.sources import delta_log as D
    from cam_etl_spark.sources import iceberg_meta as I

    table = fixture_dir(sf_dir, "cam_etl_iceberg_v3_fixture", "orders_v3")
    data = os.path.join(table, "data")
    md = os.path.join(table, "metadata")
    os.makedirs(data)
    os.makedirs(md)

    o = t(spark, sf_dir, "orders")

    def one_file(df, name):
        return D.one_file(df, os.path.join(data, name))

    fa = one_file(
        o.select(
            F.col("o_orderkey").alias("k"),
            F.round(F.col("o_totalprice") * 100, 0)
            .cast("long").alias("amount"),
        ),
        "legacy.parquet",
    )
    fb = one_file(
        o.filter(F.col("o_orderkey") % 3 == 0).select(
            F.col("o_orderkey").alias("k"),
            F.round(F.col("o_totalprice") * 100, 0)
            .cast("long").alias("amount"),
            F.when(F.col("o_orderstatus") != "P",
                   F.col("o_orderstatus")).alias("status"),
        ),
        "modern.parquet",
    )
    m1 = os.path.join(md, "m1.avro")
    I.write_manifest(
        m1,
        [I.manifest_entry(p, snapshot_id=1, record_count=1) for p in (fa, fb)],
    )
    s1 = I.write_snapshot(table, 1, [m1])
    schema_fields = [
        {"id": 1, "name": "k", "type": "long"},
        {"id": 2, "name": "amount", "type": "long"},
        {"id": 3, "name": "status", "type": "string",
         "initial-default": "NEW", "write-default": "NEW"},
        {"id": 4, "name": "prio", "type": "int",
         "initial-default": 7},
    ]
    I.write_table_metadata(
        table, 1, [s1], 1, [],
        schema_fields=schema_fields,
        format_version=3,
    )
    df, _snap, n_files = I.read_snapshot(spark, table)
    assert n_files == 2
    assert df.columns == ["k", "amount", "status", "prio"]
    return df.groupBy(
        F.coalesce(F.col("status"), F.lit("null_kept")).alias("src")
    ).agg(
        F.count("*").alias("n_rows"),
        F.sum("k").alias("sum_key"),
        F.sum("amount").alias("sum_amount"),
        F.sum("prio").cast("long").alias("sum_prio"),
    )


@register(
    "s46_orc_rle_v1_decode",
    ORDER_COLUMN_CHECKSUMS,
    tags=["S1", "orc", "lake", "rle-v1", "hive-011"],
    plan={"Exchange hashpartitioning": (0, 1), "CartesianProduct": (0, 0)},
)
def s46_orc_rle_v1_decode(spark, sf_dir):
    """ORC RLE v1 DECODE (sources/orc_read.py rle_v1) — the 0.11 FILE
    FORMAT that pre-hive-0.12 writers emit: orders is written by Spark's native
    Java ORC writer in `orc.write.format=0.11` mode (rotating ZLIB /
    SNAPPY), which uses integer RLE VERSION 1 (equal-delta runs +
    literal varints) and the v1 DIRECT/DICTIONARY string encodings.
    Every file is decoded by the engine's own from-spec reader — each
    task FIRST asserts the stripe encodings really are v1 (no _V2
    anywhere, so the new code path is provably on the hot path), THEN
    asserts its decode value-exact against pyarrow's ORC reader (the
    Apache ORC C++ library), and only then emits per-column checksums
    the oracle replays relationally. One task per file, zero
    shuffles before the final kilobyte-scale rollup — at 100 TB this
    is how a lake migration audits decade-old hive-0.11 files without
    a rewrite."""
    import os

    from pyspark.sql import functions as F

    from cam_etl_spark.sources.orc_read import (
        _stripe_footer,
        parse_tail,
        read_orc,
    )

    base = fixture_dir(sf_dir, "cam_etl_orc_v1_fixture")
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_orderkey") % 997).alias("v_small"),
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    pairs = []
    for parity, comp in enumerate(("zlib", "snappy")):
        out_dir = os.path.join(base, comp)
        (
            o.filter(F.col("o_orderkey") % 2 == parity)
            .repartition(2)
            .write.option("orc.write.format", "0.11")
            .option("compression", comp)
            .orc(out_dir)
        )
        for name in sorted(os.listdir(out_dir)):
            if name.endswith(".orc"):
                pairs.append((os.path.join(out_dir, name),))

    cols = ["o_orderkey", "v_small", "o_orderstatus", "cents"]

    import pyarrow.orc as paorc

    def run(path):
        raw = open(path, "rb").read()
        tail = parse_tail(raw)
        for st in tail["stripes"]:
            sf = _stripe_footer(raw, st, tail["compression"])
            kinds = {e["kind"] for e in sf["encodings"]}
            assert kinds <= {"DIRECT", "DICTIONARY"}, kinds
        got = read_orc(raw)
        ref = paorc.read_table(path).to_pydict()
        for col in cols:
            vals = got["columns"][col]
            assert vals == ref[col], (col, path)
            checksum = (
                sum(len(v.encode("utf-8")) for v in vals)
                if col == "o_orderstatus"
                else sum(vals)
            )
            yield {"col": col, "n_values": len(vals),
             "checksum": checksum}

    files = task_per_item(spark, pairs, "path string")
    partials = map_rows(
        files, run, "col string, n_values long, checksum long"
    )
    return (
        partials.groupBy("col")
        .agg(
            F.sum("n_values").alias("n_values"),
            F.sum("checksum").alias("checksum"),
        )
        .orderBy("col")
    )


@register(
    "multimodal_mp3_full_decode",
    f"""
    WITH {md5_digest(where='doc_id % 32 = 2')},
    params AS (
      SELECT doc_id, d, g.range AS gr,
             60 + d[2] % 120 AS np,
             150 + d[13 + g.range] % 40 AS gg,
             d[1 + g.range] % 2 AS sfs
      FROM dg, range(2) g),
    -- decoded integer lines: pairs (values in -2..2), quads, zeros
    isv AS (
      SELECT doc_id, gr, ri.range AS i,
             CASE
               WHEN ri.range < 2*np THEN
                 (CASE WHEN ri.range % 2 = 0
                   THEN ((d[(((ri.range//2)*3 + gr + 4) % 16) + 1]
                          + ri.range//2) % 3)
                      * (CASE WHEN (d[(((ri.range//2) + 9) % 16) + 1]
                                    + ri.range//2 + gr) % 2 = 1
                         THEN -1 ELSE 1 END)
                   ELSE ((d[(((ri.range//2)*5 + gr + 6) % 16) + 1]
                          + 2*(ri.range//2)) % 3)
                      * (CASE WHEN (d[(((ri.range//2) + 12) % 16) + 1]
                                    + ri.range//2 + gr) % 2 = 1
                         THEN -1 ELSE 1 END)
                  END)
               WHEN ri.range < 2*np + 4*(d[11 + gr] % 4) THEN
                 ((d[(((ri.range - 2*np)*2 + 12 + gr) % 16) + 1]
                   + ri.range - 2*np) % 3) - 1
               ELSE 0 END AS v
      FROM params, range(576) ri),
    -- requantize: sfb from the 44.1 kHz long boundaries, sf in 0..3
    sfbm AS (
      SELECT ri.range AS i,
             list_sum(list_transform(
               [4,8,12,16,20,24,30,36,44,52,62,74,90,110,134,162,196,
                238,288,342,418],
               x -> CASE WHEN ri.range >= x THEN 1 ELSE 0 END))::BIGINT
               AS b
      FROM range(576) ri),
    xr AS MATERIALIZED (
      SELECT s.doc_id, s.gr, s.i,
             CASE WHEN s.v = 0 THEN 0.0 ELSE
               (CASE WHEN s.v > 0 THEN 1.0 ELSE -1.0 END)
               * pow(abs(s.v)::DOUBLE, 4.0/3.0)
               * pow(2.0, 0.25 * (p.gg - 210))
               * pow(2.0, -(0.5 * (1 + p.sfs))
                     * (CASE WHEN sfb.b < 21
                        THEN (p.d[((sfb.b*5 + s.gr + 3) % 16) + 1] % 4)
                        ELSE 0 END))
             END AS v
      FROM isv s
      JOIN params p ON p.doc_id = s.doc_id AND p.gr = s.gr
      JOIN sfbm sfb ON sfb.i = s.i),
    -- alias-reduction butterflies (Table B.9 ci -> cs/ca rotations)
    ci0 AS (
      SELECT k.range AS k,
             ([-0.6, -0.535, -0.33, -0.185, -0.095, -0.041,
               -0.0142, -0.0037])[k.range + 1] AS c
      FROM range(8) k),
    ci AS (
      SELECT k, 1.0 / sqrt(1.0 + c * c) AS cs,
             c / sqrt(1.0 + c * c) AS ca
      FROM ci0),
    ali AS MATERIALIZED (
      SELECT x.doc_id, x.gr, x.i,
             CASE
               WHEN x.i % 18 >= 10 AND x.i < 558 THEN
                 x.v * c1.cs - p1.v * c1.ca
               WHEN x.i % 18 <= 7 AND x.i >= 18 THEN
                 x.v * c2.cs + p2.v * c2.ca
               ELSE x.v END AS v
      FROM xr x
      LEFT JOIN xr p1 ON p1.doc_id = x.doc_id AND p1.gr = x.gr
                     AND p1.i = x.i + 2*(17 - x.i % 18) + 1
                     AND x.i % 18 >= 10 AND x.i < 558
      LEFT JOIN ci c1 ON c1.k = 17 - x.i % 18
      LEFT JOIN xr p2 ON p2.doc_id = x.doc_id AND p2.gr = x.gr
                     AND p2.i = x.i - 2*(x.i % 18) - 1
                     AND x.i % 18 <= 7 AND x.i >= 18
      LEFT JOIN ci c2 ON c2.k = x.i % 18),
    -- windowed 36-point IMDCT per subband (block_type 0 sine window)
    z AS MATERIALIZED (
      SELECT a.doc_id, a.gr, a.i // 18 AS sb, rj.range AS j,
             sin(pi()/36 * (rj.range + 0.5))
             * sum(a.v * cos(pi()/72.0 * (2*rj.range + 19)
                             * (2*(a.i % 18) + 1))) AS v
      FROM ali a, range(36) rj
      GROUP BY a.doc_id, a.gr, a.i // 18, rj.range),
    -- overlap-add (granule 0 tail -> granule 1) + frequency inversion
    sbs AS MATERIALIZED (
      SELECT cur.doc_id, cur.gr * 18 + cur.j AS tt, cur.sb,
             (cur.v + coalesce(prev.v, 0.0))
             * (CASE WHEN cur.sb % 2 = 1 AND cur.j % 2 = 1
                THEN -1.0 ELSE 1.0 END) AS v
      FROM (SELECT * FROM z WHERE j < 18) cur
      LEFT JOIN z prev ON prev.doc_id = cur.doc_id
                      AND prev.gr = cur.gr - 1
                      AND prev.sb = cur.sb
                      AND prev.j = cur.j + 18),
    -- polyphase synthesis (Annex A Fig. A.2; window = Table 3-B.3)
    vmat AS MATERIALIZED (
      SELECT doc_id, tt, ri.range AS i,
             sum(cos((16 + ri.range) * (2*sb + 1) * pi() / 64) * v) AS vv
      FROM sbs, range(64) ri
      GROUP BY doc_id, tt, ri.range),
    dwin AS MATERIALIZED (
      SELECT ri.range AS i,
             (CASE WHEN ((ri.range // 64) % 2) = 1
                   THEN -1.0 ELSE 1.0 END)
             * {TABLE_3B3_SQL}[CASE WHEN ri.range <= 256
                        THEN ri.range + 1 ELSE 513 - ri.range END]
             / 65536.0 AS dv
      FROM range(512) ri),
    outp AS MATERIALIZED (
      SELECT b.doc_id, rt.range AS tt, rj.range AS j,
             sum(d1.dv * coalesce(v1.vv, 0)
                 + d2.dv * coalesce(v2.vv, 0)) AS pcm
      FROM (SELECT doc_id FROM base) b
      CROSS JOIN range(36) rt
      CROSS JOIN range(32) rj
      CROSS JOIN range(8) rq
      JOIN dwin d1 ON d1.i = 64*rq.range + rj.range
      JOIN dwin d2 ON d2.i = 64*rq.range + 32 + rj.range
      LEFT JOIN vmat v1 ON v1.doc_id = b.doc_id
                       AND v1.tt = rt.range - 2*rq.range
                       AND v1.i = rj.range
      LEFT JOIN vmat v2 ON v2.doc_id = b.doc_id
                       AND v2.tt = rt.range - 2*rq.range - 1
                       AND v2.i = 32 + rj.range
      GROUP BY b.doc_id, rt.range, rj.range),
    {PCM_STATS}
    """,
    tags=["multimodal", "mp3", "pcm", "imdct", "full-decode",
          "layer3"],
    bench=True,
    plan={**PIPELINE_PLAN, **WIDENED_DECODE_PLAN},
)
def multimodal_mp3_full_decode(spark, sf_dir):
    """FULL MP3 DECODE TO PCM (multimodal/mp3.py decode_mp3_pcm) —
    the complete Layer III chain for the vendored-table family
    (input domain: mono and every stereo mode — plain/M-S/intensity
    incl. short/mixed-block per-window intensity — over the vendored
    big-values tables 0-12, long/short/mixed blocks; tables 13/15
    and the 256-entry ESC/linbits family 16-31 stay a loud
    boundary — see mp3.py's module docstring),
    hash-checked END TO END against a SQL oracle that replays EVERY
    stage relationally: digest-derived pairs/quads are Huffman-coded
    into a real frame, parsed back (asserted code-exact), then
    requantized (|is|^(4/3), global_gain and scalefac_scale powers,
    the 44.1 kHz long scalefactor banding), alias-reduced (the Table
    B.9 cs/ca rotations as a self-join over the butterfly index map),
    windowed 36-point IMDCT per subband (closed-form sine window),
    overlap-added across granules, frequency-inverted, and pushed
    through the Table 3-B.3 polyphase synthesis — the same filterbank
    the PCM-synthesis entry validated. Stats are exact integer
    micro-units. Long blocks in both granules (the short-block
    reorder/12-point path is pinned by tests/test_mp3_pcm.py; its
    576-line permutation is deliberately outside this oracle's
    scope). One Arrow mapInPandas scan over a 1/32 doc sample, zero
    shuffles. Reference parity: cam-etl has no audio; SURVEY.md SS2.8
    extension — this completes codes->PCM for MP3 within the vendored
    tables."""
    import hashlib

    from cam_etl_spark.multimodal import micro6
    from cam_etl_spark.multimodal.mp3 import (
        decode_mp3_pcm,
        encode_mp3_frame,
        parse_mp3_frame,
    )

    def run(did, text):
        d = int(did)
        dig = hashlib.md5((text or "").encode()).digest()
        np_pairs = 60 + dig[1] % 120
        grans = []
        for gr in range(2):
            pairs = []
            for i in range(np_pairs):
                x = ((dig[(i * 3 + gr + 4) % 16] + i) % 3) * (
                    -1 if (dig[(i + 9) % 16] + i + gr) % 2
                    else 1)
                y = ((dig[(i * 5 + gr + 6) % 16] + 2 * i) % 3
                     ) * (
                    -1 if (dig[(i + 12) % 16] + i + gr) % 2
                    else 1)
                pairs.append((x, y))
            nq = dig[10 + gr] % 4
            quads = []
            for qi in range(nq):
                quads.append(tuple(
                    ((dig[((4 * qi + t) * 2 + 12 + gr) % 16]
                      + 4 * qi + t) % 3) - 1
                    for t in range(4)
                ))
            g = {
                "block_type": 0, "mixed_block_flag": 0,
                "scalefac_compress": 9,  # slen (2,2): sf 0..3
                "global_gain": 150 + dig[12 + gr] % 40,
                "preflag": 0,
                "scalefac_scale": dig[gr] % 2,
                "table_select": [3, 3, 3],
                "subblock_gain": [0, 0, 0],
                "region0_count": 4, "region1_count": 4,
                "scfsi": 0,
                "scalefacs": [
                    dig[(b * 5 + gr + 3) % 16] % 4
                    for b in range(21)
                ],
                "count1table_select": 1,
                "pairs": pairs,
                "quads": quads,
            }
            grans.append([g])
        buf = encode_mp3_frame(grans, sample_rate=44100,
                               bitrate_kbps=320)
        shell = parse_mp3_frame(buf)
        for gr in range(2):
            got = shell["granules"][gr][0]
            assert got["pairs"] == grans[gr][0]["pairs"], d
            assert got["quads"] == grans[gr][0]["quads"], d
            assert (got["scalefacs"]
                    == grans[gr][0]["scalefacs"]), d
        pcm = decode_mp3_pcm([shell])
        m = [micro6(v) for v in pcm]
        yield {
            "media_id": d,
            "n_samples": len(m),
            "sum_pcm_micro": sum(m),
            "sum_abs_micro": sum(abs(v) for v in m),
            "max_abs_micro": max(abs(v) for v in m),
        }

    return map_rows(
        sampled_docs(spark, sf_dir, 32, 2), run,
        "media_id long, n_samples long, sum_pcm_micro long, "
        "sum_abs_micro long, max_abs_micro long",
    )


@register(
    "s47_delta_id_column_mapping",
    f"""
    WITH u AS (
      SELECT o_orderkey AS k,
             {CENTS} AS amount,
             o_orderstatus AS status
      FROM orders)
    SELECT status, count(*)::BIGINT AS n_rows,
           sum(k)::BIGINT AS sum_key,
           sum(amount)::BIGINT AS sum_amount
    FROM u GROUP BY status
    """,
    tags=["S1", "delta", "lake", "column-mapping", "field-id"],
    plan={"Exchange hashpartitioning": (0, 1), "CartesianProduct": (0, 0)},
)
def s47_delta_id_column_mapping(spark, sf_dir):
    """DELTA COLUMN MAPPING MODE "id" (sources/delta_log.py
    column_mapping_id_schema): the protocol's
    parquet FIELD-ID resolution — data files written before and after
    a rename carry DIFFERENT physical column names but the same
    parquet field ids, and the scan matches by id, never by name.
    The fixture writes the even-key orders slice under physical names
    (old_k, old_amt, old_st), "renames" the table (metadata-only —
    those bytes are never rewritten), writes the odd-key slice under
    the new physical names, and reads the snapshot through
    read_snapshot: the read schema carries each logical field's
    delta.columnMapping.id as parquet.field.id metadata and Spark's
    vectorized reader (spark.sql.parquet.fieldId.read.enabled)
    resolves both generations. The oracle replays the union
    relationally. At 100 TB this is the OTHER metadata-only-rename
    mechanism (s29 proved "name" mode): petabytes of old files stay
    byte-identical across any number of renames."""
    import json as _json
    import os

    from pyspark.sql import functions as F

    from cam_etl_spark.sources.delta_log import (
        add_action,
        read_snapshot,
        write_commit,
    )

    table = fixture_dir(sf_dir, "cam_etl_delta_idmap_fixture", "orders_idmap")
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")

    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("amount"),
        F.col("o_orderstatus").alias("status"),
    )

    def write_gen(sub, names, parity):
        gen = o.filter(F.col("k") % 2 == parity).toDF(*names)
        for i, name in enumerate(names):
            gen = gen.withMetadata(name, {"parquet.field.id": i + 1})
        gen.coalesce(2).write.parquet(os.path.join(table, sub))
        return sorted(
            os.path.join(sub, n)
            for n in os.listdir(os.path.join(table, sub))
            if n.endswith(".parquet")
        )

    fa = write_gen("gen0", ["old_k", "old_amt", "old_st"], 0)
    fb = write_gen("gen1", ["k9", "amt9", "st9"], 1)

    fields = [
        {"name": "k", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": 1,
                      "delta.columnMapping.physicalName": "k9"}},
        {"name": "amount", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": 2,
                      "delta.columnMapping.physicalName": "amt9"}},
        {"name": "status", "type": "string", "nullable": True,
         "metadata": {"delta.columnMapping.id": 3,
                      "delta.columnMapping.physicalName": "st9"}},
    ]
    md = {
        "id": "orders-idmap-fixture",
        "format": {"provider": "parquet", "options": {}},
        "schemaString": _json.dumps(
            {"type": "struct", "fields": fields}
        ),
        "partitionColumns": [],
        "configuration": {"delta.columnMapping.mode": "id"},
    }

    def adds(paths):
        return [add_action(table, p) for p in paths]

    write_commit(table, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["columnMapping"],
                      "writerFeatures": ["columnMapping"]}},
        {"metaData": md},
    ] + adds(fa) + adds(fb))

    df, _snap, n_files = read_snapshot(spark, table)
    assert n_files == len(fa) + len(fb)
    assert df.columns == ["k", "amount", "status"]
    return df.groupBy("status").agg(
        F.count("*").alias("n_rows"),
        F.sum("k").alias("sum_key"),
        F.sum("amount").alias("sum_amount"),
    )


@register(
    "s49_delta_multipart_checkpoint",
    f"""
    WITH latestc AS (
      SELECT * FROM orders
      UNION ALL
      SELECT * FROM orders
      WHERE o_orderstatus = 'O' AND o_orderkey % 3 = 0),
    v1c AS (
      SELECT * FROM orders
      UNION ALL
      SELECT * FROM orders
      WHERE o_orderstatus = 'F' AND o_orderkey % 7 = 0)
    {CHECKPOINT_PHASES}
    """,
    tags=["S1", "delta", "lake", "multipart-checkpoint"],
)
def s49_delta_multipart_checkpoint(spark, sf_dir):
    """DELTA CLASSIC MULTI-PART CHECKPOINT
    (sources/delta_log.py write_checkpoint_multipart + the
    list branch of _load_checkpoint): the pre-v2Checkpoint layout
    `%020d.checkpoint.%010d.%010d.parquet` (part o of n) that real
    old tables carry when the file list outgrew one parquet. The
    fixture builds a real log (v0: orders in 4 files; v1: append the
    F%7 slice), FIRST plants an INCOMPLETE multipart checkpoint at v0
    (part 1 of 2 only — a crashed writer) and asserts PROTOCOL.md's
    ignore rule (replay falls back to pure JSON, from_checkpoint
    None), then writes a complete 3-part checkpoint at v1 and
    asserts the multipart replay is file-for-file identical to the
    pure-JSON replay; v2 removes the F%7 file and adds the O%3
    slice, replayed through the checkpoint (from_checkpoint=1, one
    tail commit). The hashed output pins the layout (n_parts,
    from_checkpoint, live-file count) alongside per-status content
    aggregates of both versions. At 100 TB multipart is WHY classic
    checkpoints scale: each part is an independently-readable
    parquet, so executors can fan the snapshot's file list out
    part-parallel instead of single-reader."""
    import os

    from pyspark.sql import functions as F

    from cam_etl_spark.sources.delta_log import (
        add_action,
        remove_action,
        replay_log,
        table_files,
        write_checkpoint_multipart,
        write_commit,
    )

    table = fixture_dir(sf_dir, "cam_etl_delta_multickpt_fixture", "orders_multickpt")

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        "o_orderstatus",
    )
    o.repartition(4).write.parquet(table, mode="overwrite")

    def adds(paths):
        return [add_action(table, p) for p in paths]

    files_v0 = table_files(table)
    assert len(files_v0) == 4, files_v0
    meta = {
        "id": "orders-multickpt-fixture",
        "format": {"provider": "parquet", "options": {}},
        "schemaString": o.schema.json(),
        "partitionColumns": [],
        "configuration": {},
    }
    write_commit(
        table,
        0,
        [
            {"protocol": {"minReaderVersion": 1,
                          "minWriterVersion": 2}},
            {"metaData": meta},
        ]
        + adds(files_v0),
    )
    # v1: append the F%7 slice as one file
    o.filter(
        (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 7 == 0)
    ).coalesce(1).write.parquet(table, mode="append")
    f_slice = sorted(set(table_files(table)) - set(files_v0))
    write_commit(table, 1, adds(f_slice))

    # a crashed writer's INCOMPLETE multipart at v0 must be ignored
    snap_v0 = replay_log(table, version=0)
    parts_v0 = write_checkpoint_multipart(table, 0, snap_v0,
                                          n_parts=2)
    os.unlink(parts_v0[1])
    assert replay_log(table, version=1)["from_checkpoint"] is None
    os.unlink(parts_v0[0])

    # the pure-JSON replay BEFORE any checkpoint exists...
    snap_json = replay_log(table, version=1)
    assert snap_json["from_checkpoint"] is None
    # ...must be file-for-file identical through the 3-part one
    parts = write_checkpoint_multipart(table, 1, snap_json, n_parts=3)
    n_parts = len(parts)
    assert n_parts == 3
    snap_v1 = replay_log(table, version=1)
    assert snap_v1["from_checkpoint"] == 1
    assert [f["path"] for f in snap_v1["files"]] == [
        f["path"] for f in snap_json["files"]
    ]

    # v2: remove the F%7 file, add the O%3 slice
    o.filter(
        (F.col("o_orderstatus") == "O") & (F.col("o_orderkey") % 3 == 0)
    ).coalesce(1).write.parquet(table, mode="append")
    o_slice = sorted(set(table_files(table)) - set(files_v0) - set(f_slice))
    write_commit(
        table,
        2,
        [remove_action(p, 2) for p in f_slice]
        + adds(o_slice),
    )

    latest = replay_log(table)
    assert latest["from_checkpoint"] == 1
    assert latest["n_commits_replayed"] == 1  # only the v2 tail

    def read_version(snap, phase):
        paths = [os.path.join(table, f["path"]) for f in snap["files"]]
        return (
            spark.read.parquet(*paths)
            .groupBy(F.col("o_orderstatus").alias("status"))
            .agg(
                F.count("*").alias("n_orders"),
                F.sum("o_orderkey").alias("sum_key"),
                F.sum("cents").alias("sum_cents"),
            )
            .select(F.lit(phase).alias("phase"), "status", "n_orders",
                    "sum_key", "sum_cents")
        )

    layout = spark.createDataFrame(
        [("layout", "_", n_parts, latest["from_checkpoint"],
          len(latest["files"]))],
        "phase string, status string, n_orders long, sum_key long, "
        "sum_cents long",
    )
    return (
        read_version(latest, "latest")
        .unionAll(read_version(snap_v1, "v1"))
        .unionAll(layout)
    )


@register(
    "multimodal_mp3_tables5_12_decode",
    f"""
    WITH {md5_digest(where='doc_id % 8 = 3')},
    params AS (
      SELECT doc_id, d,
             [5 + d[1] % 8, 5 + d[2] % 8, 5 + d[3] % 8] AS tl,
             d[4] % 7 AS r0c, d[5] % 6 AS r1c,
             10 + d[6] % 50 AS np
      FROM dg),
    {MP3_REGION_BOUNDS},
    pt AS (
      SELECT doc_id, i.range AS i,
             CASE WHEN 2*i.range < least(r1raw, 2*np) THEN tl[1]
                  WHEN 2*i.range < least(greatest(r2raw, r1raw),
                                         2*np) THEN tl[2]
                  ELSE tl[3] END AS tid,
             d
      FROM bounds, range(60) i WHERE i.range < np),
    pv AS (
      SELECT doc_id, i, tid,
             (CASE WHEN tid <= 6 THEN 4 WHEN tid <= 9 THEN 6
                   ELSE 8 END) AS dim,
             d
      FROM pt),
    vals AS (
      SELECT doc_id, i, tid,
             ((d[((i*3 + 6) % 16) + 1] + i) % dim)
             * (CASE WHEN (d[((i + 8) % 16) + 1] + i) % 2 = 1
                THEN -1 ELSE 1 END) AS x,
             ((d[((i*5 + 7) % 16) + 1] + 2*i) % dim)
             * (CASE WHEN (d[((i + 11) % 16) + 1] + i) % 2 = 1
                THEN -1 ELSE 1 END) AS y
      FROM pv),
    quadv AS (
      SELECT doc_id, rj.range AS j,
             ((d[((rj.range*2 + 12) % 16) + 1] + rj.range) % 3) - 1
               AS v
      FROM dg, range(20) rj
      WHERE rj.range < 4 * (d[11] % 5)),
    pagg AS (
      SELECT doc_id, count(*) AS n_pairs,
             sum(x + y) AS sum_signed,
             sum(abs(x) + abs(y)) AS sum_abs,
             max(greatest(abs(x), abs(y))) AS max_abs,
             sum(tid) AS sum_tid
      FROM vals GROUP BY doc_id),
    qagg AS (
      SELECT doc_id, count(*) AS n_quad_vals, coalesce(sum(v), 0)
               AS sum_quads
      FROM quadv GROUP BY doc_id)
    SELECT b.doc_id AS media_id,
           p.n_pairs::BIGINT AS n_pairs,
           p.sum_signed::BIGINT AS sum_signed,
           p.sum_abs::BIGINT AS sum_abs,
           p.max_abs::BIGINT AS max_abs,
           p.sum_tid::BIGINT AS sum_tid,
           coalesce(q.n_quad_vals, 0)::BIGINT AS n_quad_vals,
           coalesce(q.sum_quads, 0)::BIGINT AS sum_quads
    FROM base b
    JOIN pagg p USING (doc_id)
    LEFT JOIN qagg q USING (doc_id)
    """,
    tags=["multimodal", "mp3", "huffman", "tables-5-12"],
    plan=SCAN_ONLY_PLAN,
)
def multimodal_mp3_tables5_12_decode(spark, sf_dir):
    """MP3 BIG-VALUES HUFFMAN TABLES 5-12
    (multimodal/mp3.py BIGVALUE_TABLES): the 4x4 / 6x6 / 8x8
    printed tables of ISO 11172-3 Table B.7, each vendored ONLY
    after passing the joint structural gate (Kraft sum exactly 1 AND
    prefix-freeness over the (hlen, hcod) pairs — variants off by a
    single entry demonstrably fail it). Digest-derived region
    configs (region0/region1_count over the 44.1 kHz Table B.8
    boundaries) select digest-derived table ids 5-12 per region;
    signed pairs legal for each region's table dimension plus a
    count1 table-A quad region are Huffman-coded into a real frame
    and parsed back, asserted CODE-EXACT in-kernel. The hashed
    output replays the region->table mapping (sum_tid pins it), the
    pair/quad values and their stats relationally. One Arrow
    mapInPandas scan, zero shuffles — embarrassingly parallel at
    100 TB like every codec kernel here."""
    import hashlib

    from cam_etl_spark.multimodal.mp3 import (
        BIGVALUE_TABLES,
        bigvalue_regions,
        encode_mp3_frame,
        parse_mp3_frame,
    )

    def run(did, text):
        d = int(did)
        dig = hashlib.md5((text or "").encode()).digest()
        tl = [5 + dig[0] % 8, 5 + dig[1] % 8, 5 + dig[2] % 8]
        r0c, r1c = dig[3] % 7, dig[4] % 6
        np_pairs = 10 + dig[5] % 50
        g0 = {
            "block_type": 0, "mixed_block_flag": 0,
            "scalefac_compress": 0, "global_gain": 180,
            "preflag": 0, "scalefac_scale": 0,
            "table_select": tl, "subblock_gain": [0, 0, 0],
            "region0_count": r0c, "region1_count": r1c,
            "scfsi": 0, "scalefacs": [0] * 21,
            "count1table_select": 0,
            "quads": [],
        }
        bounds = bigvalue_regions(
            dict(g0, big_values=np_pairs), 44100
        )
        pairs = []
        tids = []
        for i in range(np_pairs):
            s = 2 * i
            region = (0 if s < bounds[1]
                      else (1 if s < bounds[2] else 2))
            tid = tl[region]
            dim = BIGVALUE_TABLES[tid][0]
            x = ((dig[(i * 3 + 6) % 16] + i) % dim) * (
                -1 if (dig[(i + 8) % 16] + i) % 2 else 1)
            y = ((dig[(i * 5 + 7) % 16] + 2 * i) % dim) * (
                -1 if (dig[(i + 11) % 16] + i) % 2 else 1)
            pairs.append((x, y))
            tids.append(tid)
        g0["pairs"] = pairs
        nq = dig[10] % 5
        g0["quads"] = [
            tuple(((dig[((4 * qi + t) * 2 + 12) % 16]
                    + 4 * qi + t) % 3) - 1 for t in range(4))
            for qi in range(nq)
        ]
        g1 = {
            "block_type": 0, "mixed_block_flag": 0,
            "scalefac_compress": 0, "global_gain": 170,
            "preflag": 0, "scalefac_scale": 0,
            "table_select": [0, 0, 0],
            "subblock_gain": [0, 0, 0],
            "region0_count": 4, "region1_count": 4,
            "scfsi": 0, "scalefacs": [0] * 21,
            "count1table_select": 1,
            "pairs": [], "quads": [],
        }
        buf = encode_mp3_frame([[g0], [g1]],
                               sample_rate=44100,
                               bitrate_kbps=320)
        m = parse_mp3_frame(buf)
        got = m["granules"][0][0]
        assert got["pairs"] == pairs, d
        assert got["quads"] == g0["quads"], d
        assert got["table_select"] == tl, d
        qvals = [v for q in g0["quads"] for v in q]
        yield {
            "media_id": d,
            "n_pairs": len(pairs),
            "sum_signed": sum(x + y for x, y in pairs),
            "sum_abs": sum(abs(x) + abs(y) for x, y in pairs),
            "max_abs": max(max(abs(x), abs(y))
                           for x, y in pairs),
            "sum_tid": sum(tids),
            "n_quad_vals": len(qvals),
            "sum_quads": sum(qvals),
        }

    return map_rows(
        sampled_docs(spark, sf_dir, 8, 3), run,
        "media_id long, n_pairs long, sum_signed long, "
        "sum_abs long, max_abs long, sum_tid long, "
        "n_quad_vals long, sum_quads long",
    )


@register(
    "multimodal_mp3_ms_stereo_decode",
    f"""
    WITH {md5_digest(where='doc_id % 32 = 7')},
    params AS (
      SELECT doc_id, d, g.range AS gr, c.range AS ch,
             20 + d[8 + 2*g.range + c.range] % 40 AS np,
             140 + d[12 + 2*g.range + c.range] % 50 AS gg,
             [5 + d[2 + 3*c.range] % 8, 5 + d[3 + 3*c.range] % 8,
              5 + d[4 + 3*c.range] % 8] AS tl
      FROM dg, range(2) g, range(2) c),
    -- decoded lines 0..119 (np <= 60 pairs; count1 region empty)
    lines AS (
      SELECT doc_id, gr, ch, gg, l.range AS l,
             CASE WHEN l.range >= 2*np THEN 0
                  ELSE (CASE
                    WHEN l.range < least(20, 2*np) THEN tl[1]
                    WHEN l.range < least(52, 2*np) THEN tl[2]
                    ELSE tl[3] END) END AS tid,
             d, np
      FROM params, range(120) l),
    vals AS (
      SELECT doc_id, gr, ch, gg, l,
             CASE WHEN tid = 0 THEN 0 ELSE
               (CASE WHEN l % 2 = 0
                 THEN ((d[(((l//2)*3 + gr + 2*ch + 4) % 16) + 1]
                        + l//2)
                       % (CASE WHEN tid <= 6 THEN 4
                          WHEN tid <= 9 THEN 6 ELSE 8 END))
                    * (CASE WHEN (d[(((l//2) + 9) % 16) + 1]
                                  + l//2 + gr + ch) % 2 = 1
                       THEN -1 ELSE 1 END)
                 ELSE ((d[(((l//2)*5 + gr + 3*ch + 6) % 16) + 1]
                        + 2*(l//2))
                       % (CASE WHEN tid <= 6 THEN 4
                          WHEN tid <= 9 THEN 6 ELSE 8 END))
                    * (CASE WHEN (d[(((l//2) + 12) % 16) + 1]
                                  + l//2 + gr + ch) % 2 = 1
                       THEN -1 ELSE 1 END)
                END) END AS v
      FROM lines),
    -- requantize: scalefacs all zero, so xr = sign * |v|^(4/3)
    -- * 2^((gg - 210)/4)
    xr AS (
      SELECT doc_id, gr, ch, l,
             CASE WHEN v = 0 THEN 0.0 ELSE
               (CASE WHEN v > 0 THEN 1.0 ELSE -1.0 END)
               * pow(abs(v)::DOUBLE, 4.0/3.0)
               * pow(2.0, 0.25 * (gg - 210))
             END AS x
      FROM vals),
    -- the M-S butterfly on requantized spectra (2.4.3.4.9.3)
    lr AS (
      SELECT m.doc_id, m.gr, m.l,
             round((m.x + s.x) / sqrt(2.0) * 1000000.0)::BIGINT
               AS ml,
             round((m.x - s.x) / sqrt(2.0) * 1000000.0)::BIGINT
               AS mr
      FROM (SELECT * FROM xr WHERE ch = 0) m
      JOIN (SELECT * FROM xr WHERE ch = 1) s
        ON s.doc_id = m.doc_id AND s.gr = m.gr AND s.l = m.l)
    {MP3_STEREO_STATS}
    """,
    tags=["multimodal", "mp3", "stereo", "m-s", "joint-stereo"],
    plan=SCAN_ONLY_PLAN,
)
def multimodal_mp3_ms_stereo_decode(spark, sf_dir):
    """MP3 M-S JOINT STEREO
    (multimodal/mp3.py decode_mp3_pcm + parse_mp3_frame mode
    handling): the (M±S)/sqrt(2) butterfly of §2.4.3.4.9.3 applied
    to REQUANTIZED spectra — channel 0 carries mid, channel 1 side,
    header mode 0b01 with mode_extension 0b10 (M-S on, intensity
    off; intensity has its own entries for every block type,
    multimodal_mp3_intensity_*). Digest-derived mid/side
    granule data over the vendored tables 5-12 is packed into a real
    joint-stereo frame, parsed back code-exact, and decoded to PCM
    for BOTH channels; the kernel asserts the linearity identity
    PCM_L == (PCM_mid + PCM_side)/sqrt(2) against two independent
    MONO decodes (everything after the butterfly — reorder, alias
    reduction, IMDCT, overlap-add, polyphase — is linear, so the
    identity pins the butterfly's placement, sign and scaling at
    once; it fails loudly if the butterfly moved stages). The hashed
    output replays requantization and the butterfly relationally in
    exact integer micro-units. One Arrow mapInPandas scan, zero
    shuffles."""
    import hashlib
    import math

    import numpy as np

    from cam_etl_spark.multimodal.mp3 import (
        BIGVALUE_TABLES,
        decode_mp3_pcm,
        encode_mp3_frame,
        parse_mp3_frame,
        requantize,
        stereo_spectrum_stats,
    )

    sqrt2 = math.sqrt(2.0)

    def run(did, text):
        d = int(did)
        dig = hashlib.md5((text or "").encode()).digest()

        def granule(gr, ch):
            tl = [5 + dig[1 + r + 3 * ch] % 8
                  for r in range(3)]
            np_pairs = 20 + dig[7 + 2 * gr + ch] % 40
            gg = 140 + dig[11 + 2 * gr + ch] % 50
            pairs = []
            for i in range(np_pairs):
                s = 2 * i
                region = (0 if s < min(20, 2 * np_pairs)
                          else (1 if s < min(52, 2 * np_pairs)
                                else 2))
                dim = BIGVALUE_TABLES[tl[region]][0]
                x = ((dig[(i * 3 + gr + 2 * ch + 4) % 16]
                      + i) % dim) * (
                    -1 if (dig[(i + 9) % 16] + i + gr + ch)
                    % 2 else 1)
                y = ((dig[(i * 5 + gr + 3 * ch + 6) % 16]
                      + 2 * i) % dim) * (
                    -1 if (dig[(i + 12) % 16] + i + gr + ch)
                    % 2 else 1)
                pairs.append((x, y))
            return {
                "block_type": 0, "mixed_block_flag": 0,
                "scalefac_compress": 0, "global_gain": gg,
                "preflag": 0, "scalefac_scale": 0,
                "table_select": tl,
                "subblock_gain": [0, 0, 0],
                "region0_count": 4, "region1_count": 4,
                "scfsi": 0, "scalefacs": [0] * 21,
                "count1table_select": 1,
                "pairs": pairs, "quads": [],
            }

        grans = [[granule(gr, ch) for ch in range(2)]
                 for gr in range(2)]
        buf = encode_mp3_frame(grans, sample_rate=44100,
                               bitrate_kbps=320, ms=True)
        shell = parse_mp3_frame(buf)
        assert shell["mode"] == 0b01, d
        assert shell["mode_ext"] == 0b10, d
        for gr in range(2):
            for ch in range(2):
                got = shell["granules"][gr][ch]
                assert (got["pairs"]
                        == grans[gr][ch]["pairs"]), d
        left, right = decode_mp3_pcm([shell],
                                     channel=None)
        # two independent MONO decodes of the same data
        mono = []
        for ch in range(2):
            mb = encode_mp3_frame(
                [[grans[0][ch]], [grans[1][ch]]],
                sample_rate=44100, bitrate_kbps=160)
            mono.append(decode_mp3_pcm([parse_mp3_frame(mb)]))
        assert np.allclose(left, (mono[0] + mono[1]) / sqrt2,
                           rtol=1e-9, atol=1e-12), d
        assert np.allclose(right, (mono[0] - mono[1]) / sqrt2,
                           rtol=1e-9, atol=1e-12), d

        # spectral-domain stats the oracle replays: the
        # butterfly on requantized spectra, integer micro
        def butterfly():
            for gr in range(2):
                xm = requantize(shell["granules"][gr][0], 44100)
                xs = requantize(shell["granules"][gr][1], 44100)
                for a, b in zip(xm, xs):
                    yield (a + b) / sqrt2, (a - b) / sqrt2

        yield stereo_spectrum_stats(d, butterfly())

    return map_rows(
        sampled_docs(spark, sf_dir, 32, 7), run,
        "media_id long, n_lines long, sum_l_micro long, "
        "sum_abs_l_micro long, max_abs_l_micro long, "
        "sum_r_micro long, sum_abs_r_micro long, "
        "max_abs_r_micro long",
    )


@register(
    "s48_orc_lz4_timezone_decode",
    f"""
    WITH src AS (
      SELECT o_orderkey,
             o_orderstatus,
             {CENTS} AS cents,
             o_orderdate::TIMESTAMP
               + ((o_orderkey % 86400) || ' seconds')::INTERVAL AS ts
      FROM orders)
    SELECT 'cents' AS col, count(cents)::BIGINT AS n_values,
           sum(cents)::BIGINT AS checksum FROM src
    UNION ALL
    SELECT 'o_orderkey', count(o_orderkey)::BIGINT,
           sum(o_orderkey)::BIGINT FROM src
    UNION ALL
    SELECT 'o_orderstatus', count(o_orderstatus)::BIGINT,
           sum(strlen(o_orderstatus))::BIGINT FROM src
    UNION ALL
    -- the engine decodes the Kolkata wall clock: instant + 5:30
    -- (IST has no DST — the shift is a replayable constant)
    SELECT 'ts', count(ts)::BIGINT,
           sum(epoch_us(ts) // 1000000 + 19800)::BIGINT FROM src
    """,
    tags=["S1", "orc", "lake", "lz4", "writer-timezone"],
    plan=ONE_ROLLUP_PLAN,
)
def s48_orc_lz4_timezone_decode(spark, sf_dir):
    """ORC LZ4 + NON-UTC WRITER TIMEZONE
    (sources/orc_read.py): orders plus a per-row timestamp
    is written by Spark's native Java ORC writer with
    compression=lz4 UNDER A JVM DEFAULT TIMEZONE OF Asia/Kolkata
    (restored afterwards), so every stripe footer carries
    writer_timezone='Asia/Kolkata' and every chunk is raw-block LZ4.
    Each task asserts the file really is LZ4 + Kolkata (the new
    code paths are provably hot), decodes with the engine's own
    from-spec reader — the LZ4 block decoder shared with the parquet
    page layer, wall clocks reconstructed via zoneinfo as the
    writer-zone rendering of the stored instant — and asserts
    value-exact against pyarrow's ORC reader before emitting
    per-column checksums. IST has no DST, so the oracle replays the
    wall-clock checksum as instant + 5:30 relationally. One task per
    file, zero shuffles before the kilobyte rollup — the 100 TB
    lake-audit shape."""
    import os

    from pyspark.sql import functions as F

    from cam_etl_spark.sources.orc_read import (
        _stripe_footer,
        parse_tail,
        read_orc,
    )

    base = fixture_dir(sf_dir, "cam_etl_orc_lz4tz_fixture")
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        (
            F.col("o_orderdate").cast("timestamp")
            + F.make_interval(secs=F.col("o_orderkey") % 86400)
        ).alias("ts"),
    )
    out_dir = os.path.join(base, "lz4_kolkata")
    jvm = spark._jvm
    TZ = jvm.java.util.TimeZone
    orig = TZ.getDefault()
    try:
        TZ.setDefault(TZ.getTimeZone("Asia/Kolkata"))
        (
            o.repartition(3)
            .write.option("compression", "lz4")
            .orc(out_dir)
        )
    finally:
        TZ.setDefault(orig)
    paths = [
        (os.path.join(out_dir, name),)
        for name in sorted(os.listdir(out_dir))
        if name.endswith(".orc")
    ]

    cols = ["o_orderkey", "o_orderstatus", "cents", "ts"]

    import datetime
    import pyarrow.orc as paorc

    epoch = datetime.datetime(1970, 1, 1)

    def run(path):
        raw = open(path, "rb").read()
        tail = parse_tail(raw)
        assert tail["compression"] == "LZ4", path
        for st in tail["stripes"]:
            sf = _stripe_footer(raw, st, tail["compression"])
            assert (sf["writer_timezone"]
                    == "Asia/Kolkata"), path
        got = read_orc(raw)
        ref = paorc.read_table(path).to_pydict()
        for col in cols:
            vals = got["columns"][col]
            if col == "ts":
                assert [v.isoformat() for v in vals] == [
                    r.isoformat() for r in ref[col]
                ], path
                checksum = sum(
                    int((v - epoch).total_seconds())
                    for v in vals
                )
            elif col == "o_orderstatus":
                assert vals == ref[col], (col, path)
                checksum = sum(
                    len(v.encode("utf-8")) for v in vals
                )
            else:
                assert vals == ref[col], (col, path)
                checksum = sum(vals)
            yield {"col": col, "n_values": len(vals),
             "checksum": checksum}

    files = task_per_item(spark, paths, "path string")
    return (
        map_rows(
            files, run, "col string, n_values long, checksum long"
        )
        .groupBy("col")
        .agg(
            F.sum("n_values").alias("n_values"),
            F.sum("checksum").alias("checksum"),
        )
    )


@register(
    "multimodal_mpeg2_l2_decode",
    f"""
    WITH {md5_digest(where='doc_id % 16 = 9')},
    -- 13818-3 Table B.1: sblimit 30, class ladders starting at the
    -- grouped 3-step class everywhere (fixture caps sb<4 at class 7)
    sbp AS (
      SELECT doc_id, d, sb,
             d[((sb*5 + 2) % 16) + 1]
               % (1 + CASE WHEN sb < 4 THEN 7 WHEN sb < 11 THEN 5
                      ELSE 3 END) AS a,
             d[((sb*3 + 5) % 16) + 1] % 4 AS scfsi,
             d[((sb*2 + 4) % 16) + 1] % 63 AS s0,
             d[((sb*2 + 8) % 16) + 1] % 63 AS s1,
             d[((sb*2 + 13) % 16) + 1] % 63 AS s2
      FROM dg, range(30) t(sb)),
    cls AS (
      SELECT *,
             (CASE WHEN sb < 11 THEN [3,5,7,9,15,31,63]
                   ELSE [3,5,7] END)[a] AS steps,
             (CASE scfsi WHEN 0 THEN [s0,s1,s2] WHEN 1 THEN [s0,s0,s2]
                         WHEN 2 THEN [s0,s0,s0] ELSE [s0,s1,s1] END)
               AS eff
      FROM sbp WHERE a > 0),
    nbs AS (
      SELECT *, (CASE steps WHEN 3 THEN 2 WHEN 5 THEN 3 WHEN 7 THEN 3
                 WHEN 9 THEN 4 WHEN 15 THEN 4 WHEN 31 THEN 5
                 WHEN 63 THEN 6 END) AS nb,
             (CASE WHEN steps IN (3, 5, 9) THEN 0.5
                   ELSE pow(2.0, (1 - (CASE steps WHEN 3 THEN 2
                        WHEN 5 THEN 3 WHEN 7 THEN 3 WHEN 9 THEN 4
                        WHEN 15 THEN 4 WHEN 31 THEN 5
                        WHEN 63 THEN 6 END))::DOUBLE)
              END) AS dd
      FROM cls),
    samp AS (
      SELECT doc_id, sb,
             {l2_micro('''(d[((sb + i*7 + 1) % 16) + 1] * 29 + i*11
                        + doc_id) % steps''')}
      FROM nbs, range(36) u(i))
    SELECT doc_id AS media_id,
           count(DISTINCT sb)::BIGINT AS n_active_sb,
           count(*)::BIGINT AS n_active_samples,
           sum(micro)::BIGINT AS sum_val_micro,
           max(abs(micro))::BIGINT AS max_abs_micro
    FROM samp GROUP BY doc_id
    """,
    tags=["multimodal", "mpeg2", "lsf", "layer2", "audio"],
    plan=SCAN_ONLY_PLAN,
)
def multimodal_mpeg2_l2_decode(spark, sf_dir):
    """MPEG-2 LSF LAYER II (multimodal/mpegaudio.py): ISO 13818-3 half-rate audio, whose
    Layer II differs from MPEG-1 ONLY in the bitrate table and the
    single vendored Table B.1 allocation table (sblimit 30, nbal
    4/3/2 over subbands 0-3/4-10/11-29, every class ladder starting
    at the grouped 3-step class — same provenance class as the four
    MPEG-1 tables). Digest-derived allocations / scfsi /
    scalefactors / sample codes are packed into a REAL LSF frame
    (ID bit 0, 24 kHz, the LSF 160 kbps row), parsed back asserted
    bit-exact (format mpeg2_lsf_audio, table 'lsf'), and requantized
    with the spec's closed form — which the SQL oracle replays
    value-for-value in integer micro-units. One Arrow mapInPandas
    scan, zero shuffles."""
    import hashlib

    from cam_etl_spark.multimodal import micro6
    from cam_etl_spark.multimodal.mpegaudio import (
        decode_mpeg1_audio,
        encode_layer2_frame,
        l2_steps_list,
    )

    def run(did, text):
        d = int(did)
        dig = hashlib.md5((text or "").encode()).digest()
        alloc, scfsi, scf, codes = [], [], [], []
        for sb in range(30):
            amax = 7 if sb < 4 else (5 if sb < 11 else 3)
            a = dig[(sb * 5 + 2) % 16] % (1 + amax)
            alloc.append(a)
            if not a:
                continue
            scfsi.append(dig[(sb * 3 + 5) % 16] % 4)
            scf.append((dig[(sb * 2 + 4) % 16] % 63,
                        dig[(sb * 2 + 8) % 16] % 63,
                        dig[(sb * 2 + 13) % 16] % 63))
            steps = l2_steps_list("lsf", sb)[a - 1]
            codes.append([
                (dig[(sb + i * 7 + 1) % 16] * 29 + i * 11
                 + d) % steps
                for i in range(36)
            ])
        buf = encode_layer2_frame(
            alloc, scfsi, scf, codes, sample_rate=24000,
            bitrate_kbps=160, version=2,
        )
        m = decode_mpeg1_audio(buf)
        assert m["format"] == "mpeg2_lsf_audio", d
        f = m["frames"][0]
        assert f["table"] == "lsf", d
        assert f["alloc"] == alloc, d
        assert f["scfsi"] == scfsi, d
        assert f["codes"] == codes, d
        micros = [micro6(v) for vs in f["values"] for v in vs]
        yield {
            "media_id": d,
            "n_active_sb": len(f["active"]),
            "n_active_samples": len(micros),
            "sum_val_micro": sum(micros),
            "max_abs_micro": max(abs(v) for v in micros),
        }

    return map_rows(
        sampled_docs(spark, sf_dir, 16, 9), run,
        "media_id long, n_active_sb long, n_active_samples long, "
        "sum_val_micro long, max_abs_micro long",
    )


@register(
    "s50_orc_zstd_decode",
    ORDER_COLUMN_CHECKSUMS,
    tags=["S1", "orc", "lake", "zstd", "rfc8878"],
    plan=ONE_ROLLUP_PLAN,
)
def s50_orc_zstd_decode(spark, sf_dir):
    """ORC ZSTD DECODE (the top lake boundary:
    ZSTD is Spark 4's DEFAULT ORC compression, so this is the file an
    unconfigured `df.write.orc(...)` produces). orders is written by
    Spark's native Java ORC writer with NO compression option; each
    task FIRST asserts the tail really says ZSTD (the engine's own
    RFC-8878 decoder — multimodal/zstd.py: FSE, canonical Huffman
    literals in 1- and 4-stream layouts, the three interleaved
    sequence state machines, repeat offsets, xxHash64 — is provably
    on the hot path), THEN asserts its decode value-exact against
    pyarrow's ORC reader, and only then emits per-column checksums
    the oracle replays relationally. One task per file, zero shuffles
    before the kilobyte rollup — with this codec the engine's
    from-spec lake readers cover every default-configuration
    Spark/Hive ORC deployment."""
    import os

    from pyspark.sql import functions as F

    from cam_etl_spark.sources.orc_read import parse_tail, read_orc

    base = fixture_dir(sf_dir, "cam_etl_orc_zstd_fixture")
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_orderkey") % 997).alias("v_small"),
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    out_dir = os.path.join(base, "zstd_default")
    o.repartition(3).write.orc(out_dir)  # default codec = ZSTD
    paths = [
        (os.path.join(out_dir, name),)
        for name in sorted(os.listdir(out_dir))
        if name.endswith(".orc")
    ]

    cols = ["o_orderkey", "v_small", "o_orderstatus", "cents"]

    import pyarrow.orc as paorc

    def run(path):
        raw = open(path, "rb").read()
        tail = parse_tail(raw)
        assert tail["compression"] == "ZSTD", (
            path, tail["compression"],
        )
        got = read_orc(raw)
        ref = paorc.read_table(path).to_pydict()
        for col in cols:
            vals = got["columns"][col]
            assert vals == ref[col], (col, path)
            checksum = (
                sum(len(v.encode("utf-8")) for v in vals)
                if col == "o_orderstatus"
                else sum(vals)
            )
            yield {"col": col, "n_values": len(vals),
             "checksum": checksum}

    files = task_per_item(spark, paths, "path string")
    return (
        map_rows(
            files, run, "col string, n_values long, checksum long"
        )
        .groupBy("col")
        .agg(
            F.sum("n_values").alias("n_values"),
            F.sum("checksum").alias("checksum"),
        )
    )


@register(
    "multimodal_mp3_mixed_block_decode",
    f"""
    WITH {md5_digest(where='doc_id % 16 = 11')},
    params AS (
      SELECT doc_id, d,
             160 + d[14] % 40 AS gg,
             d[16] % 2 AS sfs,
             30 + d[7] % 60 AS np
      FROM dg),
    -- integer lines: pairs over lines 0..2np-1, zero beyond
    isv AS (
      SELECT doc_id, gg, sfs, ri.range AS i, d,
             CASE WHEN ri.range < 2*np THEN
               (CASE WHEN ri.range % 2 = 0
                 THEN ((d[(((ri.range//2)*3 + 4) % 16) + 1]
                        + ri.range//2) % 3)
                    * (CASE WHEN (d[(((ri.range//2) + 9) % 16) + 1]
                                  + ri.range//2) % 2 = 1
                       THEN -1 ELSE 1 END)
                 ELSE ((d[(((ri.range//2)*5 + 6) % 16) + 1]
                        + 2*(ri.range//2)) % 3)
                    * (CASE WHEN (d[(((ri.range//2) + 12) % 16) + 1]
                                  + ri.range//2) % 2 = 1
                       THEN -1 ELSE 1 END)
                END)
             ELSE 0 END AS v
      FROM params, range(576) ri),
    -- MIXED banding at 44.1 kHz: lines 0-35 long bands 0-7
    -- (boundaries 0,4,8,12,16,20,24,30,36 -> slots 0-7); lines 36+
    -- short bands 3-11 (widths 4,6,8,10,12,14,18,22,30 from band 3),
    -- window = position within the band div width, slot = 8 +
    -- (band-3)*3 + window; band 12 (lines 36*3? beyond 408*...) sf 0
    sfmap AS (
      SELECT ri.range AS i,
             CASE WHEN ri.range < 36 THEN
               list_sum(list_transform(
                 [4,8,12,16,20,24,30],
                 x -> CASE WHEN ri.range >= x THEN 1 ELSE 0
                 END))::INTEGER
             ELSE NULL END AS long_sfb,
             CASE WHEN ri.range >= 36 THEN
               (list_sum(list_transform(
                 [36,48,66,90,120,156,198,252,318,408],
                 x -> CASE WHEN ri.range >= x THEN 1 ELSE 0 END))
                + 2)::INTEGER
             ELSE NULL END AS short_sfb,
             CASE WHEN ri.range >= 36 AND ri.range < 408 THEN
               ((ri.range
                 - ([36,48,66,90,120,156,198,252,318]
                    )[(list_sum(list_transform(
                        [48,66,90,120,156,198,252,318],
                        x -> CASE WHEN ri.range >= x
                             THEN 1 ELSE 0 END)) + 1)::INTEGER])
                // (([4,6,8,10,12,14,18,22,30]
                    )[(list_sum(list_transform(
                        [48,66,90,120,156,198,252,318],
                        x -> CASE WHEN ri.range >= x
                             THEN 1 ELSE 0 END)) + 1)::INTEGER]))
             WHEN ri.range >= 408 THEN (ri.range - 408) // 56
             ELSE NULL END AS win
      FROM range(576) ri),
    xr AS (
      SELECT s.doc_id, s.i,
             CASE WHEN s.v = 0 THEN 0.0 ELSE
               (CASE WHEN s.v > 0 THEN 1.0 ELSE -1.0 END)
               * pow(abs(s.v)::DOUBLE, 4.0/3.0)
               * pow(2.0, 0.25 * (s.gg - 210))
               * (CASE WHEN m.long_sfb IS NOT NULL THEN
                    pow(2.0, -(0.5 * (1 + s.sfs))
                        * (s.d[((m.long_sfb * 5 + 2) % 16) + 1] % 4))
                  ELSE
                    pow(2.0, -2.0 * (m.win % 3))
                    * pow(2.0, -(0.5 * (1 + s.sfs))
                        * (CASE WHEN m.short_sfb < 12 THEN
                             s.d[(((m.short_sfb * 3 + m.win) * 2 + 4)
                                  % 16) + 1] % 4
                           ELSE 0 END))
                  END)
             END AS x
      FROM isv s JOIN sfmap m ON m.i = s.i)
    SELECT doc_id AS media_id,
           count(*) FILTER (WHERE round(x * 1000000.0) <> 0)::BIGINT
             AS n_lines,
           sum(round(x * 1000000.0))::BIGINT AS sum_xr_micro,
           sum(abs(round(x * 1000000.0)))::BIGINT AS sum_abs_micro,
           max(abs(round(x * 1000000.0)))::BIGINT AS max_abs_micro
    FROM xr GROUP BY doc_id
    """,
    tags=["multimodal", "mp3", "mixed-block", "layer3"],
    plan=SCAN_ONLY_PLAN,
)
def multimodal_mp3_mixed_block_decode(spark, sf_dir):
    """MP3 MIXED-BLOCK REQUANTIZATION
    (multimodal/mp3.py requantize/reorder_short/alias_reduce/
    imdct_granule): block_type 2 with mixed_block_flag — lines 0-35
    decode as LONG (long scalefactor bands 0-7, the normal window on
    the two lowest subbands, alias reduction only at their one seam)
    while lines 36+ decode as SHORT (bands 3-11 with subblock_gain).
    Digest-derived mixed granules are Huffman-coded into a real
    frame, parsed back code-exact (35-slot scalefactor layout), FULLY
    decoded to PCM in-kernel (the linear-decomposition identity
    pinning window/alias/reorder placement lives in
    tests/test_mp3_pcm.py), and the hashed output replays the mixed
    REQUANTIZATION banding relationally — the long/short seam, the
    slot mapping 8+(band-3)*3+window, subblock_gain powers and the
    44.1 kHz band tables, in integer micro-units. One Arrow
    mapInPandas scan, zero shuffles."""
    import hashlib

    from cam_etl_spark.multimodal import micro6
    from cam_etl_spark.multimodal.mp3 import (
        decode_mp3_pcm,
        encode_mp3_frame,
        parse_mp3_frame,
        requantize,
    )

    def run(did, text):
        d = int(did)
        dig = hashlib.md5((text or "").encode()).digest()
        gg = 160 + dig[13] % 40
        sfs = dig[15] % 2
        np_pairs = 30 + dig[6] % 60
        pairs = []
        for i in range(np_pairs):
            x = ((dig[(i * 3 + 4) % 16] + i) % 3) * (
                -1 if (dig[(i + 9) % 16] + i) % 2 else 1)
            y = ((dig[(i * 5 + 6) % 16] + 2 * i) % 3) * (
                -1 if (dig[(i + 12) % 16] + i) % 2 else 1)
            pairs.append((x, y))
        scalefacs = (
            [dig[(b * 5 + 2) % 16] % 4 for b in range(8)]
            + [dig[((b * 3 + w) * 2 + 4) % 16] % 4
               for b in range(3, 12) for w in range(3)]
        )
        g0 = {
            "block_type": 2, "mixed_block_flag": 1,
            "scalefac_compress": 9, "global_gain": gg,
            "preflag": 0, "scalefac_scale": sfs,
            "table_select": [2, 3],
            "subblock_gain": [0, 1, 2], "scfsi": 0,
            "scalefacs": scalefacs,
            "count1table_select": 1,
            "pairs": pairs, "quads": [],
        }
        g1 = {
            "block_type": 0, "mixed_block_flag": 0,
            "scalefac_compress": 0, "global_gain": 170,
            "preflag": 0, "scalefac_scale": 0,
            "table_select": [0, 0, 0],
            "subblock_gain": [0, 0, 0], "scfsi": 0,
            "region0_count": 4, "region1_count": 4,
            "scalefacs": [0] * 21,
            "count1table_select": 1,
            "pairs": [], "quads": [],
        }
        buf = encode_mp3_frame([[g0], [g1]],
                               sample_rate=44100,
                               bitrate_kbps=160)
        shell = parse_mp3_frame(buf)
        got = shell["granules"][0][0]
        assert got["mixed_block_flag"] == 1, d
        assert got["pairs"] == pairs, d
        assert got["scalefacs"] == scalefacs, d
        pcm = decode_mp3_pcm([shell])
        assert pcm.shape == (1152,), d

        xr = requantize(got, 44100)
        micros = [micro6(v) for v in xr]
        yield {
            "media_id": d,
            "n_lines": sum(1 for m in micros if m),
            "sum_xr_micro": sum(micros),
            "sum_abs_micro": sum(abs(m) for m in micros),
            "max_abs_micro": max(abs(m) for m in micros),
        }

    return map_rows(
        sampled_docs(spark, sf_dir, 16, 11), run,
        "media_id long, n_lines long, sum_xr_micro long, "
        "sum_abs_micro long, max_abs_micro long",
    )


@register(
    "multimodal_mp3_intensity_stereo_decode",
    f"""
    WITH {md5_digest(where='doc_id % 32 = 15')},
    params AS (
      SELECT doc_id, d, g.range AS gr,
             40 + d[8 + g.range] % 40 AS np_l,
             5 + d[10 + g.range] % 10 AS np_r,
             150 + d[12 + g.range] % 40 AS gg_l,
             150 + d[14 + g.range] % 40 AS gg_r,
             list_min(list_filter(
               [0,4,8,12,16,20,24,30,36,44,52,62,74,90,110,134,162,
                196,238,288,342,418,576],
               x -> x >= 2 * (5 + d[10 + g.range] % 10)))::INTEGER
               AS bound_line
      FROM dg, range(2) g),
    lines AS (
      SELECT doc_id, gr, np_l, np_r, gg_l, gg_r, bound_line, d,
             l.range AS l,
             -- long sfb index of this line (44.1 kHz Table B.8)
             list_sum(list_transform(
               [4,8,12,16,20,24,30,36,44,52,62,74,90,110,134,162,
                196,238,288,342,418],
               x -> CASE WHEN l.range >= x THEN 1 ELSE 0
               END))::INTEGER AS b
      FROM params, range(576) l),
    vals AS (
      SELECT *,
             {MP3_STEREO_VALUES},
             d[((least(b, 20)*7 + 5) % 16) + 1] % 8 AS is_pos
      FROM lines),
    xr AS (
      SELECT doc_id, gr, l, bound_line, is_pos,
             CASE WHEN vl = 0 THEN 0.0 ELSE
               (CASE WHEN vl > 0 THEN 1.0 ELSE -1.0 END)
               * pow(abs(vl)::DOUBLE, 4.0/3.0)
               * pow(2.0, 0.25 * (gg_l - 210)) END AS m,
             -- the right channel's scalefactors ARE the is_pos
             -- values; below the bound they requantize normally
             -- (scalefac_scale 0 -> multiplier 0.5)
             CASE WHEN vr = 0 THEN 0.0 ELSE
               (CASE WHEN vr > 0 THEN 1.0 ELSE -1.0 END)
               * pow(abs(vr)::DOUBLE, 4.0/3.0)
               * pow(2.0, 0.25 * (gg_r - 210))
               * pow(2.0, -0.5 * (CASE WHEN b < 21 THEN
                   d[((least(b, 20)*7 + 5) % 16) + 1] % 8
                   ELSE 0 END)) END AS s
      FROM vals),
    lr AS (
      SELECT doc_id, gr, l,
             round(1000000.0 * CASE
               WHEN l < bound_line THEN m
               WHEN is_pos = 7 THEN m
               WHEN is_pos = 6 THEN m
               ELSE m * (tan(is_pos * pi() / 12.0)
                         / (1.0 + tan(is_pos * pi() / 12.0)))
             END)::BIGINT AS ml,
             round(1000000.0 * CASE
               WHEN l < bound_line THEN s
               WHEN is_pos = 7 THEN 0.0
               WHEN is_pos = 6 THEN 0.0
               ELSE m / (1.0 + tan(is_pos * pi() / 12.0))
             END)::BIGINT AS mr
      FROM xr)
    {MP3_STEREO_STATS}
    """,
    tags=["multimodal", "mp3", "stereo", "intensity", "joint-stereo"],
    plan=SCAN_ONLY_PLAN,
)
def multimodal_mp3_intensity_stereo_decode(spark, sf_dir):
    """MP3 LONG-BLOCK INTENSITY STEREO
    (multimodal/mp3.py decode_mp3_pcm + mode_extension bit 0): in the
    scalefactor bands at/above the right channel's zero part, the
    right channel's scalefactors are intensity POSITIONS and both
    output channels are rebuilt from the left spectrum with the
    tan(is_pos*pi/12) ratio split (is_pos 6 = all left, is_pos 7 =
    intensity off for that band, band 21 reuses band 20's position);
    below the bound the channels decode independently. The kernel
    packs digest-derived joint frames (header mode 0b01,
    mode_extension 0b01), parses them back code-exact, decodes BOTH
    channels to PCM and asserts the linearity identity PCM_L + PCM_R
    == mono(left data) + mono(right data) (the coefficients sum to
    1 in every intensity band, so any mis-placed band boundary or
    ratio breaks it). The hashed output replays requantization + the
    intensity mapping relationally in integer micro-units. One Arrow
    mapInPandas scan, zero shuffles."""
    import hashlib
    import math

    import numpy as np

    from cam_etl_spark.multimodal.mp3 import (
        SFB_LONG,
        decode_mp3_pcm,
        encode_mp3_frame,
        parse_mp3_frame,
        requantize,
        stereo_spectrum_stats,
    )

    sfb = SFB_LONG[44100]

    def run(did, text):
        d = int(did)
        dig = hashlib.md5((text or "").encode()).digest()

        def granule(gr):
            np_l = 40 + dig[7 + gr] % 40
            np_r = 5 + dig[9 + gr] % 10
            gg_l = 150 + dig[11 + gr] % 40
            gg_r = 150 + dig[13 + gr] % 40
            is_pos = [dig[(b * 7 + 5) % 16] % 8
                      for b in range(21)]

            def pairs(np_pairs, mul_a, off_a, mul_b, off_b,
                      sg_a, sg_b):
                out = []
                for i in range(np_pairs):
                    x = ((dig[(i * mul_a + gr + off_a) % 16]
                          + i) % 3) * (
                        -1 if (dig[(i + sg_a) % 16] + i + gr)
                        % 2 else 1)
                    y = ((dig[(i * mul_b + gr + off_b) % 16]
                          + 2 * i) % 3) * (
                        -1 if (dig[(i + sg_b) % 16] + i + gr)
                        % 2 else 1)
                    out.append((x, y))
                return out

            base = {
                "block_type": 0, "mixed_block_flag": 0,
                "scalefac_compress": 13, "preflag": 0,
                "scalefac_scale": 0,
                "table_select": [2, 3, 2],
                "subblock_gain": [0, 0, 0], "scfsi": 0,
                "region0_count": 4, "region1_count": 4,
                "count1table_select": 1, "quads": [],
            }
            gl = dict(base, global_gain=gg_l,
                      scalefacs=[0] * 21,
                      pairs=pairs(np_l, 3, 4, 5, 6, 9, 12))
            gr_ = dict(base, global_gain=gg_r,
                       scalefacs=is_pos,
                       pairs=pairs(np_r, 7, 3, 9, 5, 8, 11))
            return gl, gr_, np_r

        (l0, r0, _), (l1, r1, _) = granule(0), granule(1)
        buf = encode_mp3_frame([[l0, r0], [l1, r1]],
                               sample_rate=44100,
                               bitrate_kbps=256,
                               intensity=True)
        shell = parse_mp3_frame(buf)
        assert shell["mode"] == 0b01, d
        assert shell["mode_ext"] == 0b01, d
        for gr in range(2):
            for ch, g in ((0, (l0, l1)[gr]), (1, (r0, r1)[gr])):
                got = shell["granules"][gr][ch]
                assert got["pairs"] == g["pairs"], d
                assert got["scalefacs"] == g["scalefacs"], d
        left, right = decode_mp3_pcm([shell],
                                     channel=None)
        mono = []
        for ch in range(2):
            mb = encode_mp3_frame(
                [[(l0, r0)[ch]], [(l1, r1)[ch]]],
                sample_rate=44100, bitrate_kbps=160)
            mono.append(decode_mp3_pcm([parse_mp3_frame(mb)]))
        assert np.allclose(left + right, mono[0] + mono[1],
                           rtol=1e-9, atol=1e-12), d

        # spectral stats the oracle replays
        def spectrum():
            for gr in range(2):
                g0, g1 = shell["granules"][gr]
                m = requantize(g0, 44100)
                s = requantize(g1, 44100)
                rzero = 2 * g1["big_values"]
                bstart = next(b for b in range(22)
                              if sfb[b] >= rzero)
                bound_line = sfb[bstart]
                for i in range(576):
                    if i < bound_line:
                        yield m[i], s[i]
                        continue
                    b = next(bb for bb in range(21, -1, -1)
                             if sfb[bb] <= i)
                    p = g1["scalefacs"][min(b, 20)]
                    if p == 7 or p == 6:
                        yield m[i], 0.0
                    else:
                        ratio = math.tan(p * math.pi / 12)
                        yield m[i] * (ratio / (1 + ratio)), m[i] / (1 + ratio)

        yield stereo_spectrum_stats(d, spectrum())

    return map_rows(
        sampled_docs(spark, sf_dir, 32, 15), run,
        "media_id long, n_lines long, sum_l_micro long, "
        "sum_abs_l_micro long, max_abs_l_micro long, "
        "sum_r_micro long, sum_abs_r_micro long, "
        "max_abs_r_micro long",
    )


@register(
    "multimodal_mp3_intensity_short_decode",
    f"""
    WITH {md5_digest(where='doc_id % 32 = 23')},
    params AS (
      SELECT doc_id, d, g.range AS gr,
             60 + d[8 + g.range] % 36 AS np_l,
             6 + d[10 + g.range] % 20 AS np_r,
             150 + d[12 + g.range] % 40 AS gg_l,
             150 + d[14 + g.range] % 40 AS gg_r
      FROM dg, range(2) g),
    -- pure SHORT banding at 44.1 kHz (pre-reorder, band-major
    -- window-minor): band starts 3*cum(widths), widths Table B.8
    lines AS (
      SELECT doc_id, gr, np_l, np_r, gg_l, gg_r, d, l.range AS l,
             list_sum(list_transform(
               [12,24,36,48,66,90,120,156,198,252,318,408],
               x -> CASE WHEN l.range >= x THEN 1 ELSE 0
               END))::INTEGER AS b
      FROM params, range(576) l),
    geom AS (
      SELECT *,
             ((l - ([0,12,24,36,48,66,90,120,156,198,252,318,408]
                    )[b + 1])
              // ([4,4,4,4,6,8,10,12,14,18,22,30,56])[b + 1]
             )::INTEGER AS win
      FROM lines),
    vals AS (
      SELECT *,
             {MP3_STEREO_VALUES},
             d[(((least(b, 11)*3 + win)*2 + 5) % 16) + 1] % 8 AS ip
      FROM geom),
    -- the PER-WINDOW stereo/intensity border: the highest short
    -- band with a nonzero right-channel value in that window
    borders AS (
      SELECT doc_id, gr, win, max(b) AS border
      FROM vals WHERE vr <> 0 GROUP BY doc_id, gr, win),
    xr AS (
      SELECT v.doc_id, v.gr, v.l, v.b, v.win, v.ip,
             coalesce(bo.border, -1) AS border,
             CASE WHEN v.vl = 0 THEN 0.0 ELSE
               (CASE WHEN v.vl > 0 THEN 1.0 ELSE -1.0 END)
               * pow(abs(v.vl)::DOUBLE, 4.0/3.0)
               * pow(2.0, 0.25 * (v.gg_l - 210))
               * pow(2.0, -2.0 * (v.d[4 + v.win] % 3)) END AS m,
             -- the right channel's scalefactors ARE the is_pos
             -- values; below its window's border they requantize
             -- normally (band 12 transmits none)
             CASE WHEN v.vr = 0 THEN 0.0 ELSE
               (CASE WHEN v.vr > 0 THEN 1.0 ELSE -1.0 END)
               * pow(abs(v.vr)::DOUBLE, 4.0/3.0)
               * pow(2.0, 0.25 * (v.gg_r - 210))
               * pow(2.0, -0.5 * (CASE WHEN v.b < 12 THEN v.ip
                                  ELSE 0 END)) END AS s
      FROM vals v LEFT JOIN borders bo
        ON bo.doc_id = v.doc_id AND bo.gr = v.gr
       AND bo.win = v.win),
    lr AS (
      SELECT doc_id, gr, l,
             round(1000000.0 * CASE
               WHEN b <= border OR ip = 7 THEN m
               WHEN ip = 6 THEN m
               ELSE m * (tan(ip * pi() / 12.0)
                         / (1.0 + tan(ip * pi() / 12.0)))
             END)::BIGINT AS ml,
             round(1000000.0 * CASE
               WHEN b <= border OR ip = 7 THEN s
               WHEN ip = 6 THEN 0.0
               ELSE m / (1.0 + tan(ip * pi() / 12.0))
             END)::BIGINT AS mr
      FROM xr)
    {MP3_STEREO_STATS}
    """,
    tags=["multimodal", "mp3", "stereo", "intensity", "short-block",
          "joint-stereo"],
    plan=SCAN_ONLY_PLAN,
)
def multimodal_mp3_intensity_short_decode(spark, sf_dir):
    """MP3 SHORT-BLOCK INTENSITY STEREO (multimodal/mp3.py
    _joint_spectra): on block_type-2 granules the
    stereo/intensity border is determined PER WINDOW by scanning the
    right channel's decoded values from the top short band down;
    bands above a window's border split the left spectrum with
    tan(is_pos*pi/12) where is_pos is the right channel's short
    scalefactor slot (band, window) — band 12 reuses band 11's
    position, is_pos 7 keeps the plain-stereo fallback. The kernel
    packs digest-derived short-block joint frames (distinct borders
    per window from the %3 zero pattern), parses them back
    code-exact, decodes BOTH channels to PCM, asserts the linearity
    identity PCM_L + PCM_R == mono(left) + mono(right), and hashes
    the post-intensity SPECTRA (the decoder's _joint_spectra output)
    in integer micro-units; the oracle replays banding, per-window
    border detection (a relational max per (doc, granule, window)),
    requantization and the intensity split in SQL. One Arrow
    mapInPandas scan, zero shuffles."""
    import hashlib

    import numpy as np

    from cam_etl_spark.multimodal.mp3 import (
        _joint_spectra,
        decode_mp3_pcm,
        encode_mp3_frame,
        parse_mp3_frame,
        stereo_spectrum_stats,
    )

    def run(did, text):
        d = int(did)
        dig = hashlib.md5((text or "").encode()).digest()
        sg_l = [dig[3] % 3, dig[4] % 3, dig[5] % 3]
        is_pos = [dig[((b * 3 + w) * 2 + 5) % 16] % 8
                  for b in range(12) for w in range(3)]

        def granule(gr):
            np_l = 60 + dig[7 + gr] % 36
            np_r = 6 + dig[9 + gr] % 20
            gg_l = 150 + dig[11 + gr] % 40
            gg_r = 150 + dig[13 + gr] % 40

            def pairs(np_pairs, mul_a, off_a, mul_b, off_b,
                      sg_a, sg_b):
                out = []
                for i in range(np_pairs):
                    x = ((dig[(i * mul_a + gr + off_a) % 16]
                          + i) % 3) * (
                        -1 if (dig[(i + sg_a) % 16] + i + gr)
                        % 2 else 1)
                    y = ((dig[(i * mul_b + gr + off_b) % 16]
                          + 2 * i) % 3) * (
                        -1 if (dig[(i + sg_b) % 16] + i + gr)
                        % 2 else 1)
                    out.append((x, y))
                return out

            base = {
                "block_type": 2, "mixed_block_flag": 0,
                "scalefac_compress": 13, "preflag": 0,
                "scalefac_scale": 0,
                "table_select": [5, 9],
                "scfsi": 0, "region0_count": None,
                "region1_count": None,
                "count1table_select": 1, "quads": [],
            }
            gl = dict(base, global_gain=gg_l,
                      subblock_gain=list(sg_l),
                      scalefacs=[0] * 36,
                      pairs=pairs(np_l, 3, 4, 5, 6, 9, 12))
            gr_ = dict(base, global_gain=gg_r,
                       subblock_gain=[0, 0, 0],
                       scalefacs=list(is_pos),
                       pairs=pairs(np_r, 7, 3, 9, 5, 8, 11))
            return gl, gr_

        (l0, r0), (l1, r1) = granule(0), granule(1)
        buf = encode_mp3_frame([[l0, r0], [l1, r1]],
                               sample_rate=44100,
                               bitrate_kbps=320,
                               intensity=True)
        shell = parse_mp3_frame(buf)
        assert shell["mode"] == 0b01, d
        assert shell["mode_ext"] == 0b01, d
        for gr in range(2):
            for ch, g in ((0, (l0, l1)[gr]), (1, (r0, r1)[gr])):
                got = shell["granules"][gr][ch]
                assert got["block_type"] == 2, d
                assert got["pairs"] == g["pairs"], d
                assert got["scalefacs"] == g["scalefacs"], d
        left, right = decode_mp3_pcm([shell], channel=None)
        mono = []
        for ch in range(2):
            mb = encode_mp3_frame(
                [[(l0, r0)[ch]], [(l1, r1)[ch]]],
                sample_rate=44100, bitrate_kbps=256)
            mono.append(decode_mp3_pcm([parse_mp3_frame(mb)]))
        assert np.allclose(left + right, mono[0] + mono[1],
                           rtol=1e-9, atol=1e-12), d

        # hash the decoder's OWN post-intensity spectra
        yield stereo_spectrum_stats(d, (
            lr for gr in range(2) for lr in zip(*_joint_spectra(shell, gr))))

    return map_rows(
        sampled_docs(spark, sf_dir, 32, 23), run,
        "media_id long, n_lines long, sum_l_micro long, "
        "sum_abs_l_micro long, max_abs_l_micro long, "
        "sum_r_micro long, sum_abs_r_micro long, "
        "max_abs_r_micro long",
    )


@register(
    "multimodal_mp3_intensity_mixed_decode",
    f"""
    WITH {md5_digest(where='doc_id % 32 = 27')},
    params AS (
      SELECT doc_id, d, g.range AS gr,
             70 + d[8 + g.range] % 40 AS np_l,
             4 + d[10 + g.range] % 14 AS np_r,
             150 + d[12 + g.range] % 40 AS gg_l,
             150 + d[14 + g.range] % 40 AS gg_r
      FROM dg, range(2) g),
    -- MIXED banding at 44.1 kHz: lines 0-35 long bands 0-7; lines
    -- 36+ short bands 3-12 (pre-reorder band-major window-minor)
    lines AS (
      SELECT doc_id, gr, np_l, np_r, gg_l, gg_r, d, l.range AS l,
             CASE WHEN l.range < 36 THEN
               list_sum(list_transform(
                 [4,8,12,16,20,24,30],
                 x -> CASE WHEN l.range >= x THEN 1 ELSE 0
                 END))::INTEGER
             ELSE (list_sum(list_transform(
                 [48,66,90,120,156,198,252,318,408],
                 x -> CASE WHEN l.range >= x THEN 1 ELSE 0 END))
                + 3)::INTEGER
             END AS b
      FROM params, range(576) l),
    geom AS (
      SELECT *,
             CASE WHEN l < 36 THEN 0
                  WHEN l >= 408 THEN ((l - 408) // 56)::INTEGER
                  ELSE ((l - ([36,48,66,90,120,156,198,252,318]
                              )[b - 2])
                        // ([4,6,8,10,12,14,18,22,30])[b - 2]
                       )::INTEGER
             END AS win
      FROM lines),
    vals AS (
      SELECT *,
             {MP3_STEREO_VALUES},
             CASE WHEN l < 36 THEN
               d[((b*5 + 3) % 16) + 1] % 8
             ELSE
               d[((least(b, 11)*3 + win + 6) % 16) + 1] % 8
             END AS ip
      FROM geom),
    -- the right channel's Huffman extent is capped INSIDE the long
    -- region (np_r <= 17 pairs), so the short part is entirely zero
    -- and the border falls in the LONG bands: scan for the last
    -- nonzero line, intensity from the first band past it
    lnz AS (
      SELECT doc_id, gr, max(l) AS last_nz
      FROM vals WHERE vr <> 0 GROUP BY doc_id, gr),
    xr AS (
      SELECT v.doc_id, v.gr, v.l, v.b, v.win, v.ip,
             (8 - list_sum(list_transform(
                [0,4,8,12,16,20,24,30],
                x -> CASE WHEN x >= coalesce(z.last_nz, -1) + 1
                     THEN 1 ELSE 0 END)))::INTEGER AS bstart,
             CASE WHEN v.vl = 0 THEN 0.0 ELSE
               (CASE WHEN v.vl > 0 THEN 1.0 ELSE -1.0 END)
               * pow(abs(v.vl)::DOUBLE, 4.0/3.0)
               * pow(2.0, 0.25 * (v.gg_l - 210))
               * (CASE WHEN v.l < 36 THEN 1.0 ELSE
                    pow(2.0, -2.0 * (v.d[4 + v.win] % 3)) END)
             END AS m,
             CASE WHEN v.vr = 0 THEN 0.0 ELSE
               (CASE WHEN v.vr > 0 THEN 1.0 ELSE -1.0 END)
               * pow(abs(v.vr)::DOUBLE, 4.0/3.0)
               * pow(2.0, 0.25 * (v.gg_r - 210))
               * pow(2.0, -0.5 * v.ip) END AS s
      FROM vals v LEFT JOIN lnz z
        ON z.doc_id = v.doc_id AND z.gr = v.gr),
    lr AS (
      SELECT doc_id, gr, l,
             round(1000000.0 * CASE
               WHEN l < 36 AND b < bstart THEN m
               WHEN ip = 7 THEN m
               WHEN ip = 6 THEN m
               ELSE m * (tan(ip * pi() / 12.0)
                         / (1.0 + tan(ip * pi() / 12.0)))
             END)::BIGINT AS ml,
             round(1000000.0 * CASE
               WHEN l < 36 AND b < bstart THEN s
               WHEN ip = 7 THEN s
               WHEN ip = 6 THEN 0.0
               ELSE m / (1.0 + tan(ip * pi() / 12.0))
             END)::BIGINT AS mr
      FROM xr)
    {MP3_STEREO_STATS}
    """,
    tags=["multimodal", "mp3", "stereo", "intensity", "mixed-block",
          "joint-stereo"],
    plan=SCAN_ONLY_PLAN,
)
def multimodal_mp3_intensity_mixed_decode(spark, sf_dir):
    """MP3 MIXED-BLOCK INTENSITY STEREO (multimodal/mp3.py
    _joint_spectra): when the right channel's
    short part is entirely zero in all three windows, the
    stereo/intensity border falls inside the mixed block's LONG
    region — scanned from the top long line down, intensity from the
    first long band past the last nonzero line (positions are the
    right channel's LONG scalefactor slots 0-7), while EVERY short
    band of every window is intensity (positions from the short
    slots; band 12 reuses band 11). The kernel builds exactly that
    shape (right Huffman extent capped at 34 lines), decodes both
    channels to PCM with the linearity identity, and hashes the
    decoder's post-intensity spectra; the oracle replays the mixed
    banding, the long-region border scan and both intensity position
    tables relationally. One Arrow mapInPandas scan, zero
    shuffles."""
    import hashlib

    import numpy as np

    from cam_etl_spark.multimodal.mp3 import (
        _joint_spectra,
        decode_mp3_pcm,
        encode_mp3_frame,
        parse_mp3_frame,
        stereo_spectrum_stats,
    )

    def run(did, text):
        d = int(did)
        dig = hashlib.md5((text or "").encode()).digest()
        sg_l = [dig[3] % 3, dig[4] % 3, dig[5] % 3]
        is_long = [dig[(b * 5 + 3) % 16] % 8
                   for b in range(8)]
        is_short = [dig[(b * 3 + w + 6) % 16] % 8
                    for b in range(3, 12) for w in range(3)]

        def granule(gr):
            np_l = 70 + dig[7 + gr] % 40
            np_r = 4 + dig[9 + gr] % 14
            gg_l = 150 + dig[11 + gr] % 40
            gg_r = 150 + dig[13 + gr] % 40

            def pairs(np_pairs, mul_a, off_a, mul_b, off_b,
                      sg_a, sg_b):
                out = []
                for i in range(np_pairs):
                    x = ((dig[(i * mul_a + gr + off_a) % 16]
                          + i) % 3) * (
                        -1 if (dig[(i + sg_a) % 16] + i + gr)
                        % 2 else 1)
                    y = ((dig[(i * mul_b + gr + off_b) % 16]
                          + 2 * i) % 3) * (
                        -1 if (dig[(i + sg_b) % 16] + i + gr)
                        % 2 else 1)
                    out.append((x, y))
                return out

            base = {
                "block_type": 2, "mixed_block_flag": 1,
                "scalefac_compress": 13, "preflag": 0,
                "scalefac_scale": 0,
                "table_select": [2, 3],
                "scfsi": 0, "region0_count": None,
                "region1_count": None,
                "count1table_select": 1, "quads": [],
            }
            gl = dict(base, global_gain=gg_l,
                      subblock_gain=list(sg_l),
                      scalefacs=[0] * 35,
                      pairs=pairs(np_l, 3, 4, 5, 6, 9, 12))
            gr_ = dict(base, global_gain=gg_r,
                       subblock_gain=[0, 0, 0],
                       scalefacs=is_long + is_short,
                       pairs=pairs(np_r, 7, 3, 9, 5, 8, 11))
            # the right extent must stay inside the long
            # region for the long-border shape this entry
            # pins (np_r <= 17 -> 34 lines < 36)
            assert 2 * len(gr_["pairs"]) < 36, d
            return gl, gr_

        (l0, r0), (l1, r1) = granule(0), granule(1)
        buf = encode_mp3_frame([[l0, r0], [l1, r1]],
                               sample_rate=44100,
                               bitrate_kbps=320,
                               intensity=True)
        shell = parse_mp3_frame(buf)
        assert shell["mode"] == 0b01, d
        assert shell["mode_ext"] == 0b01, d
        for gr in range(2):
            for ch, g in ((0, (l0, l1)[gr]), (1, (r0, r1)[gr])):
                got = shell["granules"][gr][ch]
                assert got["mixed_block_flag"] == 1, d
                assert got["pairs"] == g["pairs"], d
                assert got["scalefacs"] == g["scalefacs"], d
        left, right = decode_mp3_pcm([shell], channel=None)
        mono = []
        for ch in range(2):
            mb = encode_mp3_frame(
                [[(l0, r0)[ch]], [(l1, r1)[ch]]],
                sample_rate=44100, bitrate_kbps=256)
            mono.append(decode_mp3_pcm([parse_mp3_frame(mb)]))
        assert np.allclose(left + right, mono[0] + mono[1],
                           rtol=1e-9, atol=1e-12), d

        yield stereo_spectrum_stats(d, (
            lr for gr in range(2) for lr in zip(*_joint_spectra(shell, gr))))

    return map_rows(
        sampled_docs(spark, sf_dir, 32, 27), run,
        "media_id long, n_lines long, sum_l_micro long, "
        "sum_abs_l_micro long, max_abs_l_micro long, "
        "sum_r_micro long, sum_abs_r_micro long, "
        "max_abs_r_micro long",
    )


@register(
    "s51_lzo_legacy_lz4_decode",
    f"""
    WITH src AS (
      SELECT o_orderkey,
             o_orderstatus,
             {CENTS} AS cents
      FROM orders WHERE o_orderkey % 2 = 1)
    SELECT 'orc_lzo' AS layer, 'cents' AS col,
           count(cents)::BIGINT AS n_values,
           sum(cents)::BIGINT AS checksum FROM src
    UNION ALL
    SELECT 'orc_lzo', 'o_orderkey', count(*)::BIGINT,
           sum(o_orderkey)::BIGINT FROM src
    UNION ALL
    SELECT 'orc_lzo', 'o_orderstatus', count(*)::BIGINT,
           sum(strlen(o_orderstatus))::BIGINT FROM src
    UNION ALL
    SELECT 'pq_legacy_lz4', 'cents', count(*)::BIGINT,
           sum(cents)::BIGINT FROM src
    UNION ALL
    SELECT 'pq_legacy_lz4', 'o_orderkey', count(*)::BIGINT,
           sum(o_orderkey)::BIGINT FROM src
    UNION ALL
    SELECT 'pq_legacy_lz4', 'o_orderstatus', count(*)::BIGINT,
           sum(strlen(o_orderstatus))::BIGINT FROM src
    """,
    tags=["S1", "orc", "parquet", "lake", "lzo", "legacy-lz4"],
    plan=ONE_ROLLUP_PLAN,
)
def s51_lzo_legacy_lz4_decode(spark, sf_dir):
    """ORC LZO + LEGACY PARQUET LZ4 (the last two
    non-BROTLI codec boundaries): the odd-key orders slice is written
    TWICE by Spark's native writers — as LZO ORC (aircompressor's raw
    LZO1X per chunk, decoded from the public lzo1x instruction
    grammar) and as `compression=lz4` parquet (parquet-mr's legacy
    Hadoop BlockCompressorStream framing over raw LZ4 blocks). Each
    task asserts the codec ids really are LZO / LZ4 (both new paths
    provably hot), decodes with the engine's own from-spec readers,
    asserts value-exact against pyarrow, and emits per-layer
    per-column checksums the oracle replays relationally. With these,
    the engine's ORC codec matrix is COMPLETE and parquet lacks only
    BROTLI. One task per file, zero shuffles before the rollup."""
    import os

    from pyspark.sql import functions as F

    from cam_etl_spark.sources.orc_read import parse_tail, read_orc
    from cam_etl_spark.sources.parquet_meta import parse_footer
    from cam_etl_spark.sources.parquet_pages import decode_column_chunk

    base = fixture_dir(sf_dir, "cam_etl_lzo_lz4_fixture")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 2 == 1
    ).select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    o.repartition(2).write.option("compression", "lzo").orc(
        os.path.join(base, "orc_lzo"))
    o.repartition(2).write.option("compression", "lz4").parquet(
        os.path.join(base, "pq_lz4"))
    paths = []
    for sub, kind, ext in (("orc_lzo", "orc_lzo", ".orc"),
                           ("pq_lz4", "pq_legacy_lz4", ".parquet")):
        d = os.path.join(base, sub)
        paths += [
            (kind, os.path.join(d, n))
            for n in sorted(os.listdir(d)) if n.endswith(ext)
        ]

    cols = ["o_orderkey", "o_orderstatus", "cents"]

    import pyarrow.orc as paorc
    import pyarrow.parquet as papq

    def run(kind, path):
        raw = open(path, "rb").read()
        if kind == "orc_lzo":
            tail = parse_tail(raw)
            assert tail["compression"] == "LZO", path
            got = {c: read_orc(raw)["columns"][c]
                   for c in cols}
            ref = paorc.read_table(path).to_pydict()
        else:
            m = parse_footer(raw)
            rep = {s["name"]: s["repetition"]
                   for s in m["schema"]}
            got = {}
            for c in cols:
                vals = []
                for rg in m["row_groups"]:
                    cc = next(x for x in rg["columns"]
                              if x["path"] == c)
                    assert cc["codec"] == "LZ4", path
                    vals.extend(decode_column_chunk(
                        raw, cc, rg["num_rows"],
                        optional=rep[c] == 1,
                    ))
                got[c] = [
                    v.decode("utf-8")
                    if isinstance(v, bytes) else v
                    for v in vals
                ]
            ref = papq.read_table(path).to_pydict()
        for c in cols:
            assert got[c] == ref[c], (kind, c, path)
            checksum = (
                sum(len(v.encode("utf-8")) for v in got[c])
                if c == "o_orderstatus"
                else sum(got[c])
            )
            yield {
                "layer": kind, "col": c,
                "n_values": len(got[c]),
                "checksum": checksum,
            }

    files = task_per_item(spark, paths, "kind string, path string")
    return (
        map_rows(
            files, run,
            "layer string, col string, n_values long, checksum long",
        )
        .groupBy("layer", "col")
        .agg(
            F.sum("n_values").alias("n_values"),
            F.sum("checksum").alias("checksum"),
        )
    )


@register(
    "s59_parquet_brotli_decode",
    """
    WITH src AS (
      SELECT doc_id, coalesce(text, '') AS text,
             doc_id % 997 AS v_small
      FROM documents)
    SELECT 'doc_id' AS col, count(*)::BIGINT AS n_values,
           sum(doc_id)::BIGINT AS checksum FROM src
    UNION ALL
    SELECT 'text', count(*)::BIGINT, sum(strlen(text))::BIGINT FROM src
    UNION ALL
    SELECT 'v_small', count(*)::BIGINT, sum(v_small)::BIGINT FROM src
    """,
    tags=["S1", "parquet", "brotli", "rfc7932", "codec"],
    plan={"Exchange hashpartitioning": (0, 2), "Join": (0, 0), "CartesianProduct": (0, 0)},
)
def s59_parquet_brotli_decode(spark, sf_dir):
    """Parquet BROTLI DECODE (the last parquet page codec,
    docs/SCALE.md). Each task writes its partition of
    the documents table as a REAL BROTLI parquet file with pyarrow
    (the independent reference writer; the container's pyarrow has the
    brotli codec, which is exactly the external cross-check standard
    that kept the MP3 ESC tables declined), asserts the footer says
    BROTLI, then decodes every page back through the engine's OWN
    RFC-7932 decoder (multimodal/brotli.py: meta-block framing,
    simple+complex prefix codes, context modeling, insert-and-copy
    commands, distance ring buffer, static-dictionary transforms)
    via the from-spec page reader (sources/parquet_pages.py) and
    asserts value-exactness against both the in-memory source and
    pyarrow's reader before emitting per-column checksums the oracle
    replays relationally. Compression levels 1/9/11 rotate per
    partition so the fast-path, dense-context, and dictionary-heavy
    encoder shapes are all on the decode path. One task per
    partition, zero shuffles before the kilobyte rollup."""
    from pyspark.sql import functions as F

    docs = (
        t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.coalesce("text", F.lit("")).alias("text"),
            (F.col("doc_id") % 997).alias("v_small"),
        )
        .repartition(3, F.col("doc_id"))
    )

    def run(batches):
        import os
        import tempfile

        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        from cam_etl_spark.sources.parquet_meta import parse_footer
        from cam_etl_spark.sources.parquet_pages import (
            decode_column_chunk,
        )

        for pdf in batches:
            if not len(pdf):
                continue
            pdf = pdf.sort_values("doc_id").reset_index(drop=True)
            level = (1, 9, 11)[int(pdf["doc_id"].min()) % 3]
            tab = pa.table({
                "doc_id": pa.array(pdf["doc_id"], pa.int64()),
                "text": pa.array(pdf["text"], pa.string()),
                "v_small": pa.array(pdf["v_small"], pa.int64()),
            })
            fd, path = tempfile.mkstemp(suffix=".parquet")
            os.close(fd)
            try:
                pq.write_table(tab, path, compression="BROTLI",
                               compression_level=level)
                raw = open(path, "rb").read()
                ref = pq.read_table(path).to_pydict()
            finally:
                os.unlink(path)
            foot = parse_footer(raw)
            got = {c: [] for c in ("doc_id", "text", "v_small")}
            for rg in foot["row_groups"]:
                cols = {c["path"]: c for c in rg["columns"]}
                for col in got:
                    assert cols[col]["codec"] == "BROTLI", (
                        col, cols[col]["codec"],
                    )
                    got[col].extend(
                        decode_column_chunk(raw, cols[col],
                                            rg["num_rows"])
                    )
            rows = []
            for col in ("doc_id", "text", "v_small"):
                vals = got[col]
                if col == "text":
                    vals = [v.decode("utf-8") for v in vals]
                    checksum = sum(
                        len(v.encode("utf-8")) for v in vals
                    )
                else:
                    checksum = sum(vals)
                assert vals == ref[col], (col, level)
                assert vals == list(pdf[col]), (col, level)
                rows.append({"col": col, "n_values": len(vals),
                             "checksum": checksum})
            yield pd.DataFrame(
                rows, columns=["col", "n_values", "checksum"]
            )

    return (
        docs.mapInPandas(
            run, "col string, n_values long, checksum long"
        )
        .groupBy("col")
        .agg(
            F.sum("n_values").alias("n_values"),
            F.sum("checksum").alias("checksum"),
        )
    )


@register(
    "s60_iceberg_v3_typed_defaults",
    """
    WITH legacy AS (
      SELECT o_orderkey AS k, 'legacy' AS src,
             1234::BIGINT AS dec_cents,
             '0F1E2D3C4B5A69788796A5B4C3D2E1F0' AS uid_hex,
             '61626364' AS tag_hex,
             'DEADBEEF' AS blob_hex,
             1767323045123456789::BIGINT AS ns
      FROM orders WHERE o_orderkey % 3 <> 0),
    modern AS (
      SELECT o_orderkey AS k, 'modern' AS src,
             ((o_orderkey % 10000) * 100 + 25)::BIGINT AS dec_cents,
             upper(md5(o_orderkey::VARCHAR)) AS uid_hex,
             upper(substr(md5(o_orderkey::VARCHAR), 1, 8)) AS tag_hex,
             upper(substr(md5(o_orderkey::VARCHAR), 9, 12)) AS blob_hex,
             (o_orderkey * 1000000000 + 123456789)::BIGINT AS ns
      FROM orders WHERE o_orderkey % 3 = 0),
    u AS (SELECT * FROM legacy UNION ALL SELECT * FROM modern)
    SELECT src, count(*)::BIGINT AS n_rows, sum(k)::BIGINT AS sum_key,
           sum(dec_cents)::BIGINT AS sum_dec_cents,
           min(uid_hex) AS min_uid_hex, max(uid_hex) AS max_uid_hex,
           min(tag_hex) AS min_tag_hex,
           count(DISTINCT blob_hex)::BIGINT AS n_blob,
           min(ns)::BIGINT AS min_ns, max(ns)::BIGINT AS max_ns,
           count(*)::BIGINT AS n_mystery_null
    FROM u GROUP BY src
    """,
    tags=["S1", "iceberg", "lake", "format-version-3",
          "typed-defaults", "timestamp-ns"],
    plan={
        "Exchange hashpartitioning": (0, 2),
        "SortMergeJoin": (0, 0),
        "CartesianProduct": (0, 0),
    },
)
def s60_iceberg_v3_typed_defaults(spark, sf_dir):
    """ICEBERG v3 TYPED DEFAULTS + v3-only TYPES
    (sources/iceberg_meta.py _default_expr/_spark_type): the
    mechanical half of v3 completion. The schema carries
    initial-defaults for every non-scalar-literal single-value
    serialization the spec defines — decimal(9,2) (decimal string),
    uuid (canonical hyphenated string -> 16 bytes), fixed[4] and
    binary (hex string, length-checked), timestamp_ns (ISO-8601 ->
    bigint nanoseconds; the scan flips
    spark.sql.legacy.parquet.nanosAsLong so the modern file's REAL
    INT64 TIMESTAMP(NANOS) column reads as long) — plus an
    ``unknown``-typed column (the spec's always-null type, read as
    void; a default on it is rejected loudly). The legacy file
    predates every typed column and takes all defaults; the modern
    (pyarrow-written) file carries real values derived from md5(k),
    so a blanket coalesce, a wrong hex/uuid deserialization, or a
    nanos unit slip each break a different group row. Boundary after
    this entry, further narrowed by s70 (which adds
    variant/geometry initial-defaults): only v3 encryption-keys stay
    loud. At 100 TB: adding ANY of these typed columns touches
    kilobytes of JSON, zero data rewrite."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from cam_etl_spark.sources import iceberg_meta as I

    table = fixture_dir(sf_dir, "cam_etl_iceberg_v3_typed_fixture", "orders_v3_typed")
    data = os.path.join(table, "data")
    md = os.path.join(table, "metadata")
    os.makedirs(data)
    os.makedirs(md)

    o = t(spark, sf_dir, "orders")

    # legacy file: written before ANY of the typed columns existed
    tmp = data + ".tmp"
    o.filter(F.col("o_orderkey") % 3 != 0).select(
        F.col("o_orderkey").alias("k")
    ).coalesce(1).write.mode("overwrite").parquet(tmp)
    fa = os.path.join(data, "legacy.parquet")
    shutil.move(glob.glob(tmp + "/*.parquet")[0], fa)
    shutil.rmtree(tmp)

    # modern file: REAL typed values, pyarrow-written (the only
    # in-container writer for INT64 TIMESTAMP(NANOS))
    import decimal as _dec

    import pyarrow as pa
    import pyarrow.parquet as pq

    import hashlib

    ks = [
        r.k for r in o.filter(F.col("o_orderkey") % 3 == 0)
        .select(F.col("o_orderkey").alias("k")).collect()
    ]
    ks.sort()
    md5s = [hashlib.md5(str(k).encode()).hexdigest() for k in ks]
    fb = os.path.join(data, "modern.parquet")
    pq.write_table(
        pa.table({
            "k": pa.array(ks, pa.int64()),
            "src": pa.array(["modern"] * len(ks)),
            "dec": pa.array(
                [_dec.Decimal(k % 10000) + _dec.Decimal("0.25")
                 for k in ks], pa.decimal128(9, 2)),
            "uid": pa.array([bytes.fromhex(h) for h in md5s],
                            pa.binary()),
            "tag": pa.array([bytes.fromhex(h[:8]) for h in md5s],
                            pa.binary()),
            "blob": pa.array([bytes.fromhex(h[8:20]) for h in md5s],
                             pa.binary()),
            "ns": pa.array([k * 1_000_000_000 + 123_456_789
                            for k in ks], pa.timestamp("ns")),
        }),
        fb,
    )

    m1 = os.path.join(md, "m1.avro")
    I.write_manifest(
        m1,
        [I.manifest_entry(p, snapshot_id=1, record_count=1) for p in (fa, fb)],
    )
    s1 = I.write_snapshot(table, 1, [m1])
    schema_fields = [
        {"id": 1, "name": "k", "type": "long"},
        {"id": 2, "name": "src", "type": "string",
         "initial-default": "legacy"},
        {"id": 3, "name": "dec", "type": "decimal(9, 2)",
         "initial-default": "12.34"},
        {"id": 4, "name": "uid", "type": "uuid",
         "initial-default": "0f1e2d3c-4b5a-6978-8796-a5b4c3d2e1f0"},
        {"id": 5, "name": "tag", "type": "fixed[4]",
         "initial-default": "61626364"},
        {"id": 6, "name": "blob", "type": "binary",
         "initial-default": "deadbeef"},
        {"id": 7, "name": "ns", "type": "timestamp_ns",
         "initial-default": "2026-01-02T03:04:05.123456789"},
        {"id": 8, "name": "mystery", "type": "unknown"},
    ]
    I.write_table_metadata(
        table, 1, [s1], 1, [],
        schema_fields=schema_fields,
        format_version=3,
    )
    df, _snap, n_files = I.read_snapshot(spark, table)
    assert n_files == 2
    types = dict(df.dtypes)
    assert types["dec"] == "decimal(9,2)", types
    assert types["uid"] == "binary" and types["tag"] == "binary"
    assert types["ns"] == "bigint", types
    assert types["mystery"] == "void", types
    return df.groupBy("src").agg(
        F.count("*").alias("n_rows"),
        F.sum("k").alias("sum_key"),
        F.sum((F.col("dec") * 100).cast("long")).alias(
            "sum_dec_cents"),
        F.min(F.hex("uid")).alias("min_uid_hex"),
        F.max(F.hex("uid")).alias("max_uid_hex"),
        F.min(F.hex("tag")).alias("min_tag_hex"),
        F.countDistinct(F.hex("blob")).alias("n_blob"),
        F.min("ns").alias("min_ns"),
        F.max("ns").alias("max_ns"),
        F.sum(F.when(F.col("mystery").isNull(), 1).otherwise(0))
        .cast("long").alias("n_mystery_null"),
    )


@register(
    "s61_delta_variant_shredded",
    f"""
    WITH src AS (
      {ORDER_STATUS_CENTS}
      FROM orders WHERE o_orderkey % 5 = 2),
    v AS (
      SELECT k,
             CASE WHEN k % 2 = 1 AND (k % 11 = 0
                       OR (k % 7 <> 0 AND k % 13 = 0)) THEN NULL
                  ELSE status END AS status,
             CASE WHEN k % 2 = 1 AND (k % 11 = 0
                       OR (k % 7 <> 0 AND k % 13 = 0)) THEN NULL
                  ELSE cents END AS cents
      FROM src)
    SELECT coalesce(status, 'none') AS status,
           count(*)::BIGINT AS n_rows,
           sum(k)::BIGINT AS sum_key,
           coalesce(sum(cents), 0)::BIGINT AS sum_cents
    FROM v GROUP BY 1
    """,
    tags=["S1", "delta", "lake", "variant", "shredding",
          "reader-features"],
    plan={
        "Exchange hashpartitioning": (0, 1),
        "SortMergeJoin": (0, 0),
        "CartesianProduct": (0, 0),
    },
)
def s61_delta_variant_shredded(spark, sf_dir):
    """DELTA variantShredding READER FEATURE (sources/delta_log.py +
    sources/variant_binary.py): the shredded
    variant physical layout (VariantShredding.md — per-field
    typed_value/value groups beside the metadata binary) read
    through a real Delta log declaring readerFeatures
    [variantType, variantShredding]. Two files: one Spark-written
    (Spark 4.1's writer SHREDS homogeneous variants by default — its
    reader reconstructs under
    spark.sql.variant.allowReadingShredded), and one authored by a
    NON-Spark writer (pyarrow) via the engine's own from-spec variant
    encoder: `cents` shredded to an int64 typed_value, `status` left
    in the remainder value object, every 7th row a FIELD-LEVEL
    fallback (typed_value.cents.value carries a variant-encoded int,
    the spec's per-field escape when a value doesn't fit the shredded
    type), every 13th a non-object variant (top-level value with
    typed_value null — variant_get('$...') correctly yields null),
    every 11th a null variant. A wrong remainder encoding, a dropped
    fallback, or null/missing confusion each move rows across the
    status groups the oracle replays. (Found while building this:
    Spark's variant_get PUSHDOWN reads shredded fields only from
    typed_value, so an object stored wholesale in the top-level
    value with typed_value null reconstructs via to_json but not via
    variant_get — the fixture therefore uses the spec-preferred
    field-level fallback for objects.)"""
    import glob
    import json as _json
    import os
    import shutil

    from pyspark.sql import functions as F

    from cam_etl_spark.sources import delta_log as D
    from cam_etl_spark.sources.variant_binary import (
        encode_metadata,
        encode_value,
        encode_variant,
    )

    table = fixture_dir(sf_dir, "cam_etl_delta_shred_fixture", "orders_shredded")

    src = t(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 5 == 2
    ).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long")
        .alias("cents"),
    )

    # file 1: Spark-written (auto-shredded homogeneous objects)
    tmp = os.path.join(table, "_tmp")
    src.filter(F.col("k") % 2 == 0).selectExpr(
        "k",
        "parse_json(to_json(named_struct("
        "'status', status, 'cents', cents))) AS v",
    ).coalesce(1).write.mode("overwrite").parquet(tmp)
    shutil.move(glob.glob(tmp + "/*.parquet")[0],
                os.path.join(table, "spark.parquet"))
    shutil.rmtree(tmp)

    # file 2: pyarrow-written partial shred from the engine's own
    # variant encoder (driver-side fixture slice, bounded)
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = sorted(
        src.filter(F.col("k") % 2 == 1).collect(),
        key=lambda r: r.k,
    )
    meta = encode_metadata(["status"])
    ids = {"status": 0}
    shred_t = pa.struct([
        pa.field("metadata", pa.binary(), nullable=False),
        pa.field("value", pa.binary()),
        pa.field("typed_value", pa.struct([
            pa.field("cents", pa.struct([
                pa.field("value", pa.binary()),
                pa.field("typed_value", pa.int64()),
            ]), nullable=False),
        ])),
    ])
    vcol = []
    for r in rows:
        if r.k % 11 == 0:
            vcol.append(None)  # null variant
        elif r.k % 7 == 0:
            # field-level fallback: cents as a variant-encoded int
            # inside the cents group's value, typed_value null
            vcol.append({
                "metadata": meta,
                "value": encode_value({"status": r.status}, ids),
                "typed_value": {"cents": {
                    "value": encode_value(int(r.cents), {}),
                    "typed_value": None,
                }},
            })
        elif r.k % 13 == 0:
            # non-object variant: top-level value, typed_value null
            m, v = encode_variant("opaque")
            vcol.append({"metadata": m, "value": v,
                         "typed_value": None})
        else:
            vcol.append({
                "metadata": meta,
                "value": encode_value({"status": r.status}, ids),
                "typed_value": {"cents": {"value": None,
                                          "typed_value": r.cents}},
            })
    pq.write_table(
        pa.table({
            "k": pa.array([r.k for r in rows], pa.int64()),
            "v": pa.array(vcol, shred_t),
        }),
        os.path.join(table, "arrow.parquet"),
    )

    schema = {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True,
             "metadata": {}},
            {"name": "v", "type": "variant", "nullable": True,
             "metadata": {}},
        ],
    }
    D.write_commit(table, 0, [
        {"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["variantType", "variantShredding"],
            "writerFeatures": ["variantType", "variantShredding"]}},
        {"metaData": {
            "id": "shred-fixture",
            "format": {"provider": "parquet"},
            "schemaString": _json.dumps(schema),
            "partitionColumns": [], "configuration": {},
        }},
    ] + [D.add_action(table, p, size=1) for p in ("spark.parquet", "arrow.parquet")])
    out, _snap, n_files = D.read_snapshot(spark, table)
    assert n_files == 2
    assert dict(out.dtypes)["v"] == "variant"
    return out.selectExpr(
        "k",
        "variant_get(v, '$.status', 'string') AS status",
        "variant_get(v, '$.cents', 'long') AS cents",
    ).groupBy(
        F.coalesce(F.col("status"), F.lit("none")).alias("status")
    ).agg(
        F.count("*").alias("n_rows"),
        F.sum("k").alias("sum_key"),
        F.coalesce(F.sum("cents"), F.lit(0)).alias("sum_cents"),
    )


@register(
    "s62_geoparquet_scan",
    f"""
    WITH pts AS (SELECT c_custkey AS custkey,
                        {lon_sql('c_custkey')} AS x,
                        {lat_sql('c_custkey')} AS y
                 FROM customer),
         rects AS (SELECT r_regionkey AS zone_id,
                          138 + r_regionkey * 3.2 AS xmin,
                          138 + (r_regionkey + 1) * 3.2 AS xmax,
                          -29.0 AS ymin, -10.0 AS ymax
                   FROM region)
    SELECT zone_id, count(*)::BIGINT AS n_points,
           sum(custkey)::BIGINT AS sum_key
    FROM pts JOIN rects
      ON x >= xmin AND x < xmax AND y >= ymin AND y < ymax
    GROUP BY zone_id
    """,
    tags=["S4", "geoparquet", "spatial", "wkb", "lake"],
    plan={
        "Exchange hashpartitioning": (0, 1),
        "SortMergeJoin": (0, 0),
        "CartesianProduct": (0, 0),
    },
)
def s62_geoparquet_scan(spark, sf_dir):
    """GEOPARQUET SCAN (sources/geoparquet.py): customer
    points written as a REAL GeoParquet 1.1 dataset — pyarrow parquet
    with the spec's ``geo`` file metadata and a WKB geometry column,
    deliberately MIXING byte orders (even keys little-endian, odd
    keys big-endian — both spec-legal) — then read back the
    Spark-native way: the geometry column is a plain parquet binary
    column (pruning/pushdown intact), the from-spec footer reader
    validates the ``geo`` contract per file (version 1.x, primary
    column, WKB encoding), an Arrow/numpy kernel decodes WKB points
    to (x, y) with zero shuffles, and the existing broadcast
    point-in-rect join assigns zones. The oracle replays the zone
    rollup from the relational coordinates — a wrong endian branch,
    a mis-sliced double, or a dropped file each shifts zone counts."""
    import struct

    from pyspark.sql import functions as F

    from cam_etl_spark.operators.knn import point_in_rect_join
    from cam_etl_spark.sources.geoparquet import (
        geo_file_metadata_json,
        geo_metadata,
        points_xy,
    )
    from cam_etl_spark.sources.parquet_meta import parse_footer

    base = fixture_dir(sf_dir, "cam_etl_geoparquet_fixture")

    pts = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"),
        F.expr(lon_sql("c_custkey")).alias("x"),
        F.expr(lat_sql("c_custkey")).alias("y"),
    ).repartition(3, F.col("custkey"))

    geo_json = geo_file_metadata_json(
        "geometry", bbox=[138.0, -29.0, 154.0, -10.0])

    def write_part(pdf, path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        wkb = [
            struct.pack("<BIdd", 1, 1, x, y) if k % 2 == 0
            else struct.pack(">BIdd", 0, 1, x, y)
            for k, x, y in zip(pdf["custkey"], pdf["x"],
                               pdf["y"])
        ]
        tab = pa.table({
            "custkey": pa.array(pdf["custkey"], pa.int64()),
            "geometry": pa.array(wkb, pa.binary()),
        })
        tab = tab.replace_schema_metadata({b"geo": geo_json})
        pq.write_table(tab, path)

    files = shard_files(pts, base, "part-{}.parquet", write_part)

    # per-file geo-contract validation through the from-spec footer,
    # and every written row is in some file's footer
    def validate(path):
        foot = parse_footer(open(path, "rb").read())
        meta = geo_metadata(foot)
        assert meta["primary_column"] == "geometry"
        assert meta["columns"]["geometry"]["encoding"] == \
            "WKB"
        yield {"n": foot["num_rows"]}

    counts = map_rows(files, validate, "n long").collect()
    assert sum(r.n for r in counts) == pts.count()

    scan = spark.read.parquet(base)
    decoded = points_xy(scan, "geometry").drop("geometry")
    r = t(spark, sf_dir, "region")
    rects = r.select(
        F.col("r_regionkey").alias("zone_id"),
        (F.lit(138) + F.col("r_regionkey") * 3.2).alias("xmin"),
        (F.lit(138) + (F.col("r_regionkey") + 1) * 3.2).alias("xmax"),
        F.lit(-29.0).alias("ymin"),
        F.lit(-10.0).alias("ymax"),
    )
    return point_in_rect_join(decoded, rects).groupBy("zone_id").agg(
        F.count("*").alias("n_points"),
        F.sum("custkey").alias("sum_key"),
    )


@register(
    "stream_dedup_within_horizon",
    """
    SELECT event_id,
           (CASE WHEN event_id % 5 = 0 THEN 2 ELSE 1 END)::BIGINT
               AS n_emits
    FROM events
    """,
    tags=["streaming", "U2", "dedup-exact", "watermark"],
)
def stream_dedup_within_horizon(spark, sf_dir):
    """dropDuplicatesWithinWatermark
    (streaming/stateful.py stream_dedup_within_watermark): dedup on
    the BUSINESS KEY ONLY with state bounded by the watermark
    horizon — plain dropDuplicates on a key-only set grows state
    with corpus size forever; this is the bounded-state form a
    100 TB stream needs. Four micro-batches prove both sides of the
    semantics: (A) every event once; (B) exact re-sends of the %3
    keys one minute later — INSIDE the 2-day horizon, suppressed;
    (C) a sentinel 100 days ahead advances the watermark; (C2) a
    spacer batch lets the END-OF-BATCH eviction clear the expired
    keys (Spark's dedupe operator processes input BEFORE evicting,
    so a re-send in the very batch that crosses the horizon is still
    suppressed — measured, not assumed); (D) re-sends of the %5 keys
    101 days out — the horizon has passed and state is gone, so they
    are NEW events and emit a second time. The oracle counts exactly
    2 emits for %5 keys and 1 for everything else; a suppression
    failure (B leaking) or an eviction failure (D suppressed) each
    flips counts."""
    from cam_etl_spark.streaming.stateful import (
        stream_dedup_within_watermark,
    )

    base_ms = 1_700_000_000_000
    day_ms = 86_400_000
    e = t(spark, sf_dir, "events").select(
        "event_id",
        F.timestamp_millis(
            F.lit(base_ms) + (F.col("event_id") % 3600) * 1000
        ).alias("ts"),
    )
    import glob as _glob
    import os as _os

    work = fixture_dir(sf_dir, "cam_etl_sdedup_wwm_fixture")

    _stamped: set = set()

    def _stamp(stage: int) -> None:
        # FileStreamSource orders files by modification time; writes
        # land within the same tick, so stamp each stage's NEW files
        # explicitly to pin the batch order A -> B -> C -> D
        for f in _glob.glob(work + "/in/*.parquet"):
            if f not in _stamped:
                _os.utime(f, (1_000_000 + stage * 100,) * 2)
                _stamped.add(f)

    e.coalesce(1).write.mode("overwrite").parquet(work + "/in")
    _stamp(0)
    # B: in-horizon re-sends (one minute later) -> suppressed
    e.filter(F.col("event_id") % 3 == 0).select(
        "event_id",
        (F.col("ts") + F.expr("INTERVAL 60 SECONDS")).alias("ts"),
    ).coalesce(1).write.mode("append").parquet(work + "/in")
    _stamp(1)
    # C: watermark advancer (sentinel key, +100 days)
    spark.createDataFrame([(-1,)], "event_id long").select(
        "event_id",
        F.timestamp_millis(F.lit(base_ms + 100 * day_ms)).alias("ts"),
    ).coalesce(1).write.mode("append").parquet(work + "/in")
    _stamp(2)
    # C2: spacer — the advanced watermark evicts at THIS batch's end
    spark.createDataFrame([(-2,)], "event_id long").select(
        "event_id",
        F.timestamp_millis(
            F.lit(base_ms + 100 * day_ms + 3_600_000)
        ).alias("ts"),
    ).coalesce(1).write.mode("append").parquet(work + "/in")
    _stamp(3)
    # D: beyond-horizon re-sends (+101 days) -> emit again
    e.filter(F.col("event_id") % 5 == 0).select(
        "event_id",
        F.timestamp_millis(
            F.lit(base_ms + 101 * day_ms)
            + (F.col("event_id") % 3600) * 1000
        ).alias("ts"),
    ).coalesce(1).write.mode("append").parquet(work + "/in")
    _stamp(4)

    deduped = stream_dedup_within_watermark(
        file_stream(e, work + "/in", per_trigger=1),
        id_cols=["event_id"], watermark="2 days"
    )
    out = run_available_now(deduped, work)
    return (
        out.filter(F.col("event_id") >= 0)
        .groupBy("event_id")
        .agg(F.count("*").alias("n_emits"))
    )


@register(
    "s63_delta_version_checksum",
    f"""
    WITH src AS (
      {ORDER_STATUS_CENTS}
      FROM orders WHERE o_orderkey % 7 = 3),
    kept AS (
      SELECT * FROM src WHERE k % 2 = 0
      UNION ALL
      SELECT * FROM src WHERE k % 2 = 1 AND status = 'O')
    SELECT status, count(*)::BIGINT AS n_rows,
           sum(k)::BIGINT AS sum_key,
           sum(cents)::BIGINT AS sum_cents
    FROM kept GROUP BY status
    """,
    tags=["S1", "delta", "lake", "version-checksum", "integrity"],
    plan=ROLLUP_PLAN,
)
def s63_delta_version_checksum(spark, sf_dir):
    """DELTA VERSION CHECKSUM FILES (delta_log.py
    _validate_version_checksum / write_version_checksum): PROTOCOL.md
    lets writers publish a %020d.crc JSON summary beside each commit;
    the replayer now validates the RECOMPUTED snapshot against it —
    numFiles and tableSizeBytes must match the replay exactly, loud
    on mismatch (tamper cases pinned in tests/test_delta_log.py).
    The table evolves across two checksummed versions (add two files;
    then remove one and add a filtered replacement), read_snapshot
    replays the latest, and the entry asserts the validated checksum
    doc matches the live file set before returning the rollup the
    oracle replays. At 100 TB this is kilobytes of metadata guarding
    the whole scan plan — state corruption surfaces before any
    executor touches parquet."""
    import json as _json
    import os

    from pyspark.sql import functions as F

    from cam_etl_spark.sources import delta_log as D

    table = fixture_dir(sf_dir, "cam_etl_delta_crc_fixture", "orders_crc")

    src = t(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 7 == 3
    ).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long")
        .alias("cents"),
    )

    def one_file(df, name):
        return D.one_file(df, os.path.join(table, name))

    fa = one_file(src.filter(F.col("k") % 2 == 0), "even.parquet")
    fb = one_file(src.filter(F.col("k") % 2 == 1), "odd.parquet")
    fc = one_file(
        src.filter((F.col("k") % 2 == 1) & (F.col("status") == "O")),
        "odd_open.parquet",
    )

    def add(p):
        return D.add_action(table, os.path.basename(p))

    D.write_commit(table, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {
            "id": "crc-fixture", "format": {"provider": "parquet"},
            "schemaString": _json.dumps({
                "type": "struct",
                "fields": [
                    {"name": "k", "type": "long",
                     "nullable": True, "metadata": {}},
                    {"name": "status", "type": "string",
                     "nullable": True, "metadata": {}},
                    {"name": "cents", "type": "long",
                     "nullable": True, "metadata": {}},
                ],
            }),
            "partitionColumns": [], "configuration": {},
        }},
        add(fa), add(fb),
    ])
    D.write_version_checksum(table, 0)
    D.write_commit(table, 1, [
        D.remove_action("odd.parquet"),
        add(fc),
    ])
    D.write_version_checksum(table, 1)

    out, snap, n_files = D.read_snapshot(spark, table)
    assert n_files == 2
    crc = snap["version_checksum"]
    assert crc is not None and crc["numFiles"] == 2
    assert crc["tableSizeBytes"] == \
        os.path.getsize(fa) + os.path.getsize(fc)
    return out.groupBy("status").agg(
        F.count("*").alias("n_rows"),
        F.sum("k").alias("sum_key"),
        F.sum("cents").alias("sum_cents"),
    )


@register(
    "s64_avro_single_object_stream",
    f"""
    WITH src AS (
      {ORDER_STATUS_CENTS},
             CASE WHEN o_orderkey % 2 = 0 THEN 'v1' ELSE 'v2' END
                 AS schema_tag
      FROM orders WHERE o_orderkey % 9 = 4)
    SELECT status, schema_tag, count(*)::BIGINT AS n_rows,
           sum(k)::BIGINT AS sum_key, sum(cents)::BIGINT AS sum_cents
    FROM src GROUP BY status, schema_tag
    """,
    tags=["S1", "avro", "single-object", "kafka", "registry"],
    plan=ROLLUP_PLAN,
)
def s64_avro_single_object_stream(spark, sf_dir):
    """AVRO SINGLE-OBJECT ENCODING (sources/avro_io.py
    write_single_object / read_single_object / schema_fingerprint):
    the Kafka-style per-message framing — C3 01 marker + CRC-64-AVRO
    fingerprint of the schema's Parsing Canonical Form + binary body.
    Canonical form, fingerprint, AND full message bytes are pinned
    byte-identical to the real Avro Java library
    (SchemaNormalization / BinaryMessageEncoder) in
    tests/test_avro.py; here the whole flow runs DISTRIBUTED: one
    Arrow pass encodes each order row under one of TWO schema
    versions (even keys v1, odd keys v2 with an extra field — the
    registry-evolution reality of a Kafka topic), a second Arrow
    pass decodes every message by fingerprint DISPATCH against the
    two-entry registry, and the rollup the oracle replays counts
    rows per (status, schema version). A framing slip, a canonical-
    form divergence, or a wrong-registry dispatch each breaks a
    different group."""
    import json as _json

    from pyspark.sql import functions as F

    from cam_etl_spark.sources import avro_io as A

    v1 = _json.dumps({
        "type": "record", "name": "Order", "namespace": "cam.v1",
        "fields": [
            {"name": "k", "type": "long"},
            {"name": "status", "type": "string"},
            {"name": "cents", "type": "long"},
        ],
    })
    v2 = _json.dumps({
        "type": "record", "name": "Order", "namespace": "cam.v2",
        "fields": [
            {"name": "k", "type": "long"},
            {"name": "status", "type": "string"},
            {"name": "cents", "type": "long"},
            {"name": "priority", "type": "double"},
        ],
    })
    fp1, fp2 = A.schema_fingerprint(v1), A.schema_fingerprint(v2)
    assert fp1 != fp2

    src = t(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 9 == 4
    ).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long")
        .alias("cents"),
    )

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            msgs = []
            for k, status, cents in zip(pdf["k"], pdf["status"],
                                        pdf["cents"]):
                rec = {"k": int(k), "status": str(status),
                       "cents": int(cents)}
                if k % 2 == 0:
                    msgs.append(A.write_single_object(rec, v1))
                else:
                    rec["priority"] = float(k % 10)
                    msgs.append(A.write_single_object(rec, v2))
            yield pd.DataFrame({"msg": msgs})

    messages = widen(src).mapInPandas(encode, "msg binary")

    registry = {fp1: ("v1", v1), fp2: ("v2", v2)}

    def decode(raw):
        raw = bytes(raw)
        assert raw[:2] == b"\xc3\x01", raw[:2]
        val, fp = A.read_single_object(
            raw, {f: s for f, (_tag, s) in registry.items()})
        yield {
            "k": val["k"], "status": val["status"],
            "cents": val["cents"],
            "schema_tag": registry[fp][0],
        }

    decoded = map_rows(
        messages, decode, "k long, status string, cents long, schema_tag string"
    )
    return decoded.groupBy("status", "schema_tag").agg(
        F.count("*").alias("n_rows"),
        F.sum("k").alias("sum_key"),
        F.sum("cents").alias("sum_cents"),
    )


@register(
    "s65_iceberg_puffin_ndv_stats",
    """
    WITH src AS (
      SELECT o_orderkey AS k, o_orderstatus AS status
      FROM orders WHERE o_orderkey % 3 = 1)
    SELECT 'bucket' AS col,
           count(DISTINCT k % 997)::BIGINT AS ndv,
           TRUE AS exact, 2::BIGINT AS n_blobs FROM src
    UNION ALL
    SELECT 'status', count(DISTINCT status)::BIGINT, TRUE,
           1::BIGINT FROM src
    """,
    tags=["S1", "iceberg", "puffin", "theta", "ndv", "statistics"],
    plan={
        "Exchange hashpartitioning": (0, 0),
        "SortMergeJoin": (0, 0),
        "CartesianProduct": (0, 0),
    },
)
def s65_iceberg_puffin_ndv_stats(spark, sf_dir):
    """ICEBERG TABLE STATISTICS — NDV THETA SKETCHES IN PUFFIN
    (sources/theta_sketch.py + iceberg_meta.py
    table_ndv_stats/write_puffin_blobs): the spec's
    ``apache-datasketches-theta-v1`` blobs, produced here by the
    REAL DataSketches Java library on Spark's classpath (the same
    writer real Iceberg uses) and decoded by the engine's own
    from-spec CompactSketch reader — every serialization mode pinned
    byte-level against Java in tests/test_theta_sketch.py. The
    status column ships one sketch; the bucket column ships TWO
    per-file-half sketches with overlapping value sets that roll up
    through the engine's theta union. Both stay in exact mode
    (<4096 retained), so the oracle can assert the estimates equal
    the true distinct counts relationally. At 100 TB this is the
    planner's join-ordering signal: per-column NDV from kilobytes
    of Puffin, zero data reads."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from cam_etl_spark.sources import iceberg_meta as I

    table = fixture_dir(sf_dir, "cam_etl_iceberg_ndv_fixture", "orders_ndv")
    data = os.path.join(table, "data")
    md = os.path.join(table, "metadata")
    os.makedirs(data)
    os.makedirs(md)

    src = t(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 3 == 1
    ).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        (F.col("o_orderkey") % 997).alias("bucket"),
    )
    tmp = data + ".tmp"
    src.coalesce(1).write.mode("overwrite").parquet(tmp)
    import glob as _glob

    fa = os.path.join(data, "f1.parquet")
    shutil.move(_glob.glob(tmp + "/*.parquet")[0], fa)
    shutil.rmtree(tmp)

    # REAL DataSketches writer (the role an Iceberg writer plays);
    # sketches are value-SET deterministic, so feeding the distinct
    # values (bounded: <=3 statuses, <=997 buckets) is exact
    jvm = spark._jvm

    def sketch(values) -> bytes:
        b = jvm.org.apache.datasketches.theta.UpdateSketch.builder()
        sk = b.build()
        for v in values:
            sk.update(str(v))
        return bytes(sk.compact().toByteArray())

    statuses = [r.status for r in
                src.select("status").distinct().collect()]
    even = [r.bucket for r in src.filter(F.col("k") % 2 == 0)
            .select("bucket").distinct().collect()]
    odd = [r.bucket for r in src.filter(F.col("k") % 2 == 1)
           .select("bucket").distinct().collect()]

    m1 = os.path.join(md, "m1.avro")
    I.write_manifest(m1, [I.manifest_entry(fa, snapshot_id=1, record_count=1)])
    s1 = I.write_snapshot(table, 1, [m1])

    stats_path = os.path.join(md, "stats-1.puffin")
    blob_meta = I.write_puffin_blobs(stats_path, [
        {"type": "apache-datasketches-theta-v1", "fields": [2],
         "snapshot-id": 1, "sequence-number": 1,
         "payload": sketch(statuses),
         "properties": {"ndv": str(len(statuses))}},
        {"type": "apache-datasketches-theta-v1", "fields": [3],
         "snapshot-id": 1, "sequence-number": 1,
         "payload": sketch(even)},
        {"type": "apache-datasketches-theta-v1", "fields": [3],
         "snapshot-id": 1, "sequence-number": 1,
         "payload": sketch(odd)},
    ])
    I.write_table_metadata(
        table, 1, [s1], 1, [],
        schema_fields=[
            {"id": 1, "name": "k", "type": "long"},
            {"id": 2, "name": "status", "type": "string"},
            {"id": 3, "name": "bucket", "type": "long"},
        ],
        statistics=[{
            "snapshot-id": 1,
            "statistics-path": stats_path,
            "file-size-in-bytes": os.path.getsize(stats_path),
            "file-footer-size-in-bytes": 0,
            "blob-metadata": blob_meta,
        }],
    )

    ndv = I.table_ndv_stats(table)
    rows = [
        ("status", int(round(ndv[2]["ndv"])), ndv[2]["exact"], 1),
        ("bucket", int(round(ndv[3]["ndv"])), ndv[3]["exact"], 2),
    ]
    return spark.createDataFrame(
        rows, "col string, ndv long, exact boolean, n_blobs long"
    )


@register(
    "s66_webdataset_tar_scan",
    """
    WITH src AS (
      SELECT doc_id, coalesce(text, '') AS text
      FROM documents)
    SELECT doc_id % 7 AS bucket,
           count(*)::BIGINT AS n_samples,
           sum(length(text))::BIGINT AS sum_chars,
           sum(strlen(text))::BIGINT AS sum_bytes,
           sum(doc_id)::BIGINT AS sum_doc_id
    FROM src GROUP BY doc_id % 7
    """,
    tags=["S4", "tar", "webdataset", "archives", "multimodal"],
    plan=ROLLUP_PLAN,
)
def s66_webdataset_tar_scan(spark, sf_dir):
    """WEBDATASET TAR SHARDS (sources/archives.py): the
    de-facto layout of multimodal training corpora — a tar shard per
    partition, members grouped by basename stem ({doc:08d}.txt +
    {doc:08d}.json per sample). Shards are written by the stdlib
    tarfile (a REAL independent writer, PAX format); each task then
    parses ITS shard back FROM SPEC (512-byte ustar headers,
    checksum-validated, PAX overrides honored), asserts the member
    table matches tarfile's own reading, groups members by the
    WebDataset convention, cross-checks every payload byte-for-byte,
    and emits per-sample stats the oracle replays relationally. Zero
    driver involvement, zero temp-dir unpacking — the 100 TB shape
    is a shard-path DataFrame and per-task header parses."""
    from pyspark.sql import functions as F

    from cam_etl_spark.sources.archives import (
        tar_extract,
        tar_members,
        webdataset_samples,
    )

    base = fixture_dir(sf_dir, "cam_etl_webdataset_fixture")

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text")
    ).repartition(4, F.col("doc_id"))

    def write_shard(pdf, path):
        import io
        import json
        import tarfile

        bio = io.BytesIO()
        tf = tarfile.open(fileobj=bio, mode="w",
                          format=tarfile.PAX_FORMAT)
        for did, text in zip(pdf["doc_id"], pdf["text"]):
            for ext, payload in (
                ("txt", str(text).encode("utf-8")),
                ("json", json.dumps(
                    {"doc_id": int(did),
                     "n_chars": len(str(text))}).encode()),
            ):
                ti = tarfile.TarInfo(f"{int(did):08d}.{ext}")
                ti.size = len(payload)
                ti.mtime = 1_700_000_000
                tf.addfile(ti, io.BytesIO(payload))
        tf.close()
        with open(path, "wb") as fh:
            fh.write(bio.getvalue())

    paths = shard_files(docs, base, "shard-{:08d}.tar", write_shard)

    import io
    import json
    import tarfile

    def scan(path):
        buf = open(path, "rb").read()
        ms = tar_members(buf)
        ref = tarfile.open(fileobj=io.BytesIO(buf))
        assert [(m["name"], m["size"]) for m in ms] == \
            [(t.name, t.size) for t in ref.getmembers()], path
        for key, fields in webdataset_samples(ms).items():
            txt = tar_extract(buf, fields["txt"])
            meta = json.loads(tar_extract(buf,
                                          fields["json"]))
            assert txt == ref.extractfile(
                fields["txt"]["name"]).read(), key
            text = txt.decode("utf-8")
            assert meta["n_chars"] == len(text), key
            yield {
                "doc_id": meta["doc_id"],
                "n_chars": len(text),
                "n_bytes": len(txt),
            }

    samples = map_rows(
        paths, scan, "doc_id long, n_chars long, n_bytes long")
    return samples.groupBy(
        (F.col("doc_id") % 7).alias("bucket")
    ).agg(
        F.count("*").alias("n_samples"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum("n_bytes").alias("sum_bytes"),
        F.sum("doc_id").alias("sum_doc_id"),
    )


@register(
    "s67_zip_deflate_scan",
    """
    WITH src AS (
      SELECT doc_id, coalesce(text, '') AS text
      FROM documents WHERE doc_id % 2 = 1)
    SELECT doc_id % 5 AS bucket,
           count(*)::BIGINT AS n_members,
           sum(strlen(text))::BIGINT AS sum_bytes,
           sum(doc_id)::BIGINT AS sum_doc_id
    FROM src GROUP BY doc_id % 5
    """,
    tags=["S4", "zip", "archives", "deflate"],
    plan=ROLLUP_PLAN,
)
def s67_zip_deflate_scan(spark, sf_dir):
    """ZIP MEMBER SCAN (sources/archives.py): crawl
    deliveries ship as zip; each task walks the central directory
    from spec (EOCD -> PK\\x01\\x02 entries -> local headers),
    inflates DEFLATE members through the engine's OWN RFC-1951
    inflater, CRC-32-checks every payload, and cross-checks names +
    bytes against the stdlib zipfile reading the same archive (a
    real independent implementation — it also WROTE the fixtures).
    Small members alternate stored/deflate so both methods are on
    the path. The rollup is oracle-replayed relationally."""
    from pyspark.sql import functions as F

    from cam_etl_spark.sources.archives import (
        zip_central_directory,
        zip_extract,
    )

    base = fixture_dir(sf_dir, "cam_etl_zip_fixture")

    docs = t(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 2 == 1
    ).select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text")
    ).repartition(3, F.col("doc_id"))

    def write_archive(pdf, path):
        import io
        import zipfile

        bio = io.BytesIO()
        zf = zipfile.ZipFile(bio, "w")
        for did, text in zip(pdf["doc_id"], pdf["text"]):
            method = (zipfile.ZIP_STORED if did % 3 == 0
                      else zipfile.ZIP_DEFLATED)
            zf.writestr(f"docs/{int(did):08d}.txt",
                        str(text).encode("utf-8"),
                        compress_type=method)
        zf.close()
        with open(path, "wb") as fh:
            fh.write(bio.getvalue())

    paths = shard_files(docs, base, "batch-{:08d}.zip", write_archive)

    import io
    import zipfile

    def scan(path):
        buf = open(path, "rb").read()
        entries = zip_central_directory(buf)
        ref = zipfile.ZipFile(io.BytesIO(buf))
        assert [e["name"] for e in entries] == \
            ref.namelist(), path
        assert any(e["method"] == "stored"
                   for e in entries), path
        assert any(e["method"] == "deflate"
                   for e in entries), path
        for e in entries:
            data = zip_extract(buf, e)
            assert data == ref.read(e["name"]), e["name"]
            did = int(e["name"].rsplit("/", 1)[-1]
                      .split(".")[0])
            yield {"doc_id": did,
                         "n_bytes": len(data)}

    members = map_rows(paths, scan, "doc_id long, n_bytes long")
    return members.groupBy(
        (F.col("doc_id") % 5).alias("bucket")
    ).agg(
        F.count("*").alias("n_members"),
        F.sum("n_bytes").alias("sum_bytes"),
        F.sum("doc_id").alias("sum_doc_id"),
    )


@register(
    "s68_warc_response_scan",
    """
    WITH src AS (
      SELECT doc_id, coalesce(text, '') AS text
      FROM documents WHERE doc_id % 4 = 2)
    SELECT doc_id % 5 AS bucket,
           count(*)::BIGINT AS n_pages,
           sum(strlen(text))::BIGINT AS sum_body_bytes,
           sum(doc_id)::BIGINT AS sum_doc_id
    FROM src GROUP BY doc_id % 5
    """,
    tags=["S4", "warc", "common-crawl", "archives", "http"],
    plan=ROLLUP_PLAN,
)
def s68_warc_response_scan(spark, sf_dir):
    """WARC RESPONSE SCAN (sources/warc.py): the Common
    Crawl pipeline shape — shards hold warcinfo + request + response
    records, ONE GZIP MEMBER PER RECORD (the CC convention; stdlib
    gzip is the independent member writer, the engine's own RFC-1952
    inflater decodes and CRC-checks every member), WARC 1.1 framing
    parsed from spec, response payloads split into HTTP status/
    headers/body, and the doc identity recovered from
    WARC-Target-URI. Only status-200 text/plain responses feed the
    rollup (request/warcinfo records must be skipped by TYPE, not by
    luck). Each task handles its own shard end-to-end — the
    crawl-to-clean-text pipeline with no driver choke point. The
    oracle replays the byte rollup relationally."""
    from pyspark.sql import functions as F

    from cam_etl_spark.sources.warc import (
        parse_http_response,
        parse_warc_records,
        split_gzip_members,
        warc_header,
        write_warc_record,
    )

    base = fixture_dir(sf_dir, "cam_etl_warc_fixture")

    docs = t(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 4 == 2
    ).select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text")
    ).repartition(3, F.col("doc_id"))

    def write_shard(pdf, path):
        import gzip as _gzip

        recs = [write_warc_record(
            "warcinfo", b"software: cam-etl-spark-fixture\r\n")]
        for did, text in zip(pdf["doc_id"], pdf["text"]):
            uri = f"http://example.org/doc/{int(did)}"
            recs.append(write_warc_record(
                "request",
                (f"GET /doc/{int(did)} HTTP/1.1\r\n"
                 "Host: example.org\r\n\r\n").encode(),
                {"WARC-Target-URI": uri}))
            body = str(text).encode("utf-8")
            http = (b"HTTP/1.1 200 OK\r\n"
                    b"Content-Type: text/plain; charset=utf-8"
                    b"\r\n\r\n" + body)
            recs.append(write_warc_record(
                "response", http, {"WARC-Target-URI": uri}))
        with open(path, "wb") as fh:
            for r in recs:  # one gzip member per record
                fh.write(_gzip.compress(r))

    paths = shard_files(docs, base, "crawl-{:08d}.warc.gz", write_shard)

    def scan(path):
        blob = open(path, "rb").read()
        members = split_gzip_members(blob)
        recs = [r for m in members
                for r in parse_warc_records(m)]
        types = [warc_header(r, "WARC-Type") for r in recs]
        assert types[0] == "warcinfo", path
        assert types.count("request") == \
            types.count("response"), path
        for r in recs:
            if warc_header(r, "WARC-Type") != "response":
                continue
            resp = parse_http_response(r["payload"])
            assert resp["status"] == 200
            assert resp["headers"]["Content-Type"] \
                .startswith("text/plain")
            uri = warc_header(r, "WARC-Target-URI")
            yield {
                "doc_id": int(uri.rsplit("/", 1)[-1]),
                "n_bytes": len(resp["body"]),
            }

    pages = map_rows(paths, scan, "doc_id long, n_bytes long")
    return pages.groupBy(
        (F.col("doc_id") % 5).alias("bucket")
    ).agg(
        F.count("*").alias("n_pages"),
        F.sum("n_bytes").alias("sum_body_bytes"),
        F.sum("doc_id").alias("sum_doc_id"),
    )


@register(
    "text_unicode_nfc",
    """
    WITH src AS (
      SELECT doc_id,
             coalesce(text, '') || ' cafe' || chr(769) || ' No'
                 || chr(176) || chr(769) AS raw
      FROM documents WHERE doc_id % 6 = 1)
    SELECT doc_id % 4 AS bucket,
           count(*)::BIGINT AS n_docs,
           sum(strlen(raw))::BIGINT AS bytes_raw,
           sum(strlen(nfc_normalize(raw)))::BIGINT AS bytes_nfc,
           sum(CASE WHEN nfc_normalize(raw) <> raw THEN 1
                    ELSE 0 END)::BIGINT AS n_changed
    FROM src GROUP BY doc_id % 4
    """,
    tags=["text-analysis", "unicode", "normalization", "F1"],
    plan=ROLLUP_PLAN,
)
def text_unicode_nfc(spark, sf_dir):
    """UNICODE NFC NORMALIZATION (functions/text.py nfc_normalize):
    canonical composition before fingerprinting — 'e'+COMBINING ACUTE
    and the precomposed 'é' are the same text but different bytes, so
    un-normalized corpora leak duplicates past exact dedup and split
    tokenizer vocab entries. Every doc gets a decomposed tail appended
    ('cafe'+U+0301 composes to 'café'; U+00B0+U+0301 has NO precomposed
    form and must survive unchanged — composition is selective, not
    blanket), the Arrow kernel normalizes, and the rollup counts changed
    docs and byte deltas. The oracle replays through DuckDB's
    independent nfc_normalize."""
    from pyspark.sql import functions as F

    from cam_etl_spark.functions.text import nfc_normalize

    docs = t(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 6 == 1
    ).select(
        "doc_id",
        F.concat(
            F.coalesce("text", F.lit("")),
            # DECOMPOSED 'cafe'+U+0301 (composes to café) and
            # U+00B0+U+0301 (no precomposed form; must survive)
            F.lit(" cafe\u0301 No\u00b0\u0301"),
        ).alias("raw"),
    )
    out = docs.withColumn("nfc", nfc_normalize(F.col("raw")))
    return out.groupBy(
        (F.col("doc_id") % 4).alias("bucket")
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.octet_length("raw")).alias("bytes_raw"),
        F.sum(F.octet_length("nfc")).alias("bytes_nfc"),
        F.sum(F.when(F.col("nfc") != F.col("raw"), 1).otherwise(0))
        .alias("n_changed"),
    )


@register(
    "s69_jsonl_zst_corpus_scan",
    f"""
    WITH {doc_sample('doc_id % 5 = 3')}
    {LANG_DOC_STATS}
    FROM src GROUP BY lang
    """,
    tags=["S4", "jsonl", "zstd", "corpus", "the-pile"],
    plan=ROLLUP_PLAN,
)
def s69_jsonl_zst_corpus_scan(spark, sf_dir):
    """JSONL.ZST CORPUS SCAN: the Pile-style corpus
    layout — newline-delimited JSON documents, zstd-compressed per
    shard — read end-to-end with engine parts only: pyarrow's zstd
    codec WRITES the shards (the independent real compressor), each
    task decodes ITS shard through the engine's own RFC-8878 decoder
    (multimodal/zstd.py), splits lines, parses documents, and emits
    per-language stats; from_json on the same payloads cross-checks
    the Python parse inside the task. The oracle replays the rollup
    relationally from the documents table. At 100 TB: a shard-path
    DataFrame, one task per shard, no driver bytes."""
    from pyspark.sql import functions as F

    base = fixture_dir(sf_dir, "cam_etl_jsonlzst_fixture")

    docs = t(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 5 == 3
    ).select(
        "doc_id",
        F.coalesce("text", F.lit("")).alias("text"),
        F.coalesce("lang", F.lit("")).alias("lang"),
    ).repartition(3, F.col("doc_id"))

    def write_shard(pdf, path):
        import json

        import pyarrow as pa

        lines = "".join(
            json.dumps({"doc_id": int(d), "text": str(tx),
                        "meta": {"lang": str(lg)}},
                       ensure_ascii=False) + "\n"
            for d, tx, lg in zip(pdf["doc_id"], pdf["text"],
                                 pdf["lang"])
        ).encode("utf-8")
        codec = pa.Codec("zstd", compression_level=9)
        with open(path, "wb") as fh:
            fh.write(codec.compress(lines, asbytes=True))

    paths = shard_files(docs, base, "shard-{:08d}.jsonl.zst", write_shard)

    import json
    from cam_etl_spark.multimodal.fastpath import decompress

    def scan(path):
        raw = decompress("zstd", open(path, "rb").read())
        # split on '\n' ONLY: json.dumps(ensure_ascii=
        # False) leaves U+2028/U+2029/U+0085 raw inside
        # strings and splitlines() would cut records there
        for line in raw.decode("utf-8").split("\n"):
            if not line:
                continue
            doc = json.loads(line)
            yield {
                "doc_id": doc["doc_id"],
                "text": doc["text"],
                "lang": doc["meta"]["lang"],
            }

    parsed = map_rows(
        paths, scan, "doc_id long, text string, lang string")
    # No separate `parsed.count()` consistency assert: it would run
    # the zstd-decode pipeline a second time. The rollup below IS the
    # consistency check — n_docs and the drop-sensitive sum_doc_id
    # are hash-verified against the oracle's relational replay, so a
    # lost or duplicated line cannot pass. One execution total.
    return parsed.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.octet_length("text")).alias("sum_bytes"),
        F.sum("doc_id").alias("sum_doc_id"),
    )


@register(
    "stream_stream_full_outer",
    click_view_join('FULL JOIN'),
    tags=["streaming", "J6", "temporal", "outer-join"],
)
def stream_stream_full_outer(spark, sf_dir):
    """REAL stream-stream FULL OUTER join (the streaming join matrix
    beside inner and left_outer): unmatched
    CLICKS null-fill the view side AND unmatched VIEWS null-fill the
    click side, each emitted only when the global watermark proves no
    partner can still arrive. Same sentinel-and-resume pattern as the
    left-outer entry (a far-future sentinel on BOTH sides advances
    both watermarks past every real event, flushing both pending
    state stores); the flushed result must equal the batch FULL
    interval join — the oracle."""
    import datetime

    from cam_etl_spark.streaming.transforms import interval_stream_join

    e = t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value")
    work = fixture_dir(sf_dir, "cam_etl_ssfjoin_fixture")
    cs = file_stream(e.filter(F.col("event_type") == "click"),
                     work + "/clicks", per_trigger=2, files=4)
    vs = file_stream(e.filter(F.col("event_type") == "view"),
                     work + "/views", per_trigger=2, files=4)
    j = interval_stream_join(
        cs, vs, lookback="6 hours", watermark="90 days",
        how="full_outer")
    run_available_now(j, work)
    mx = e.agg(F.max("ts").alias("mx")).collect()[0]["mx"]
    sentinel_ts = mx + datetime.timedelta(days=91)
    for side in ("clicks", "views"):
        spark.createDataFrame(
            [(-1, -1, "sentinel", sentinel_ts, 0.0)], e.schema
        ).write.mode("append").parquet(work + "/" + side)
    # resume: the sentinels flush BOTH pending state stores
    out = run_available_now(j, work).filter(
        (F.col("click_id").isNull() | (F.col("click_id") >= 0))
        & (F.col("view_id").isNull() | (F.col("view_id") >= 0))
    )
    return out.select(
        "click_id",
        "view_id",
        "user_id",
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .alias("click_ts"),
        F.date_format("view_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .alias("view_ts"),
        F.round("view_value", 4).alias("view_value"),
    )


@register(
    "s70_iceberg_v3_variant_geometry_defaults",
    """
    WITH src AS (
      SELECT o_orderkey AS k,
             CASE o_orderkey % 4 WHEN 0 THEN 'legacy'
                  WHEN 3 THEN 'modern_g' ELSE 'modern_v' END AS src
      FROM orders WHERE o_orderkey % 11 = 3),
    en AS (
      SELECT k, src,
             CASE WHEN src = 'modern_v' THEN k % 97 ELSE 7 END AS a,
             CASE WHEN src = 'modern_v' THEN concat('p', k)
                  ELSE 'dflt' END AS s,
             CASE WHEN src = 'modern_g'
                  THEN 13800 + (k * 37) % 1600
                  ELSE 15302 END AS x100,
             CASE WHEN src = 'modern_g'
                  THEN -2900 + (k * 53) % 1900
                  ELSE -2747 END AS y100
      FROM src)
    SELECT src, count(*)::BIGINT AS n_rows, sum(k)::BIGINT AS sum_key,
           sum(a)::BIGINT AS sum_a, min(s) AS min_s,
           sum(x100)::BIGINT AS sum_x100,
           sum(y100)::BIGINT AS sum_y100
    FROM en GROUP BY src
    """,
    tags=["S1", "iceberg", "lake", "format-version-3",
          "typed-defaults", "variant", "geometry"],
    plan={
        "Exchange hashpartitioning": (0, 2),
        "SortMergeJoin": (0, 0),
        "CartesianProduct": (0, 0),
    },
)
def s70_iceberg_v3_variant_geometry_defaults(spark, sf_dir):
    """ICEBERG v3 VARIANT + GEOMETRY INITIAL-DEFAULTS
    (the last two non-encryption v3 default types,
    sources/iceberg_meta.py _default_expr): a three-file v3 table
    where the LEGACY file (key only) predates every typed column, a
    Spark-written file carries REAL shredded variant values, and a
    pyarrow-written file carries REAL WKB geometry. The variant
    default arrives as its physical metadata/value binaries (base64,
    decoded through the engine's own from-spec variant codec into a
    parse_json literal); the geometry default arrives as hex WKB
    (header-gated). Per-file footer presence (engine's own footer
    parser — pyarrow refuses Spark's VARIANT logical type) decides
    which rows take which default, so each src group breaks on a
    different deserialization slip: variant_get(a/s) on defaulted vs
    real variants, and the WKB x/y decode (sources/geoparquet.py
    points_xy kernel) on defaulted vs real points. At 100 TB: the
    defaults are kilobytes of metadata JSON; no data rewrite, and
    the x/y decode is a zero-shuffle Arrow kernel."""
    import glob
    import os
    import shutil
    import struct

    from pyspark.sql import functions as F

    from cam_etl_spark.sources import iceberg_meta as I
    from cam_etl_spark.sources.geoparquet import points_xy
    from cam_etl_spark.sources.variant_binary import encode_variant

    table = fixture_dir(sf_dir, "cam_etl_iceberg_v3_vgdefaults_fixture", "orders_v3_vg")
    data = os.path.join(table, "data")
    md = os.path.join(table, "metadata")
    os.makedirs(data)
    os.makedirs(md)

    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 11 == 3
    ).select(F.col("o_orderkey").alias("k"))

    def _move_single(tmp, dest):
        shutil.move(glob.glob(tmp + "/*.parquet")[0], dest)
        shutil.rmtree(tmp)

    # legacy: written before src/v/geom existed -> takes ALL defaults
    tmp = data + ".tmp_legacy"
    o.filter(F.col("k") % 4 == 0).coalesce(1) \
        .write.mode("overwrite").parquet(tmp)
    fa = os.path.join(data, "legacy.parquet")
    _move_single(tmp, fa)

    # modern_v: Spark-written REAL variants (shredded on disk) -> v
    # present, geom defaulted
    tmp = data + ".tmp_v"
    o.filter((F.col("k") % 4).isin(1, 2)).selectExpr(
        "k", "'modern_v' AS src",
        "parse_json(to_json(named_struct("
        "'a', k % 97, 's', concat('p', k)))) AS v",
    ).coalesce(1).write.mode("overwrite").parquet(tmp)
    fb = os.path.join(data, "modern_v.parquet")
    _move_single(tmp, fb)

    # modern_g: pyarrow-written REAL WKB points -> geom present, v
    # defaulted (bounded fixture collect: the selected keys only)
    import pyarrow as pa
    import pyarrow.parquet as pq

    gks = sorted(
        r.k for r in o.filter(F.col("k") % 4 == 3).collect()
    )
    fc = os.path.join(data, "modern_g.parquet")
    pq.write_table(pa.table({
        "k": pa.array(gks, pa.int64()),
        "src": pa.array(["modern_g"] * len(gks)),
        "geom": pa.array([
            struct.pack(
                "<BIdd", 1, 1,
                138.0 + (k * 37 % 1600) / 100.0,
                -29.0 + (k * 53 % 1900) / 100.0,
            ) for k in gks
        ], pa.binary()),
    }), fc)

    m1 = os.path.join(md, "m1.avro")
    I.write_manifest(m1, [
        I.manifest_entry(p, snapshot_id=1, record_count=1) for p in (fa, fb, fc)
    ])
    s1 = I.write_snapshot(table, 1, [m1])

    import base64

    meta_b, val_b = encode_variant({"a": 7, "s": "dflt"})
    schema_fields = [
        {"id": 1, "name": "k", "type": "long"},
        {"id": 2, "name": "src", "type": "string",
         "initial-default": "legacy"},
        {"id": 3, "name": "v", "type": "variant",
         "initial-default": {
             "metadata": base64.b64encode(meta_b).decode(),
             "value": base64.b64encode(val_b).decode()}},
        {"id": 4, "name": "geom", "type": "geometry(OGC:CRS84)",
         "initial-default":
             struct.pack("<BIdd", 1, 1, 153.02, -27.47).hex()},
    ]
    I.write_table_metadata(table, 1, [s1], 1, [],
                           schema_fields=schema_fields,
                           format_version=3)

    df, _snap, n_files = I.read_snapshot(spark, table)
    assert n_files == 3
    types = dict(df.dtypes)
    assert types["v"] == "variant" and types["geom"] == "binary"

    # variant stats and geometry stats share the scan; the geometry
    # branch goes through the Arrow WKB kernel (no variant column
    # crosses the Arrow boundary), then the two kilobyte-scale
    # aggregates stitch on src
    vstats = df.groupBy("src").agg(
        F.count("*").alias("n_rows"),
        F.sum("k").alias("sum_key"),
        F.sum(F.expr("variant_get(v, '$.a', 'long')")).alias("sum_a"),
        F.min(F.expr("variant_get(v, '$.s', 'string')")).alias(
            "min_s"),
    )
    gstats = points_xy(df.select("src", "geom"), "geom").groupBy(
        "src"
    ).agg(
        F.sum(F.round(F.col("x") * 100, 0).cast("long")).alias(
            "sum_x100"),
        F.sum(F.round(F.col("y") * 100, 0).cast("long")).alias(
            "sum_y100"),
    )
    return vstats.join(F.broadcast(gstats), "src").select(
        "src", "n_rows", "sum_key", "sum_a", "min_s",
        "sum_x100", "sum_y100",
    )


@register(
    "dedup_incremental_lsh",
    near_dup_pairs('a.doc_id % 5 <> 0 AND b.doc_id % 5 = 0'),
    tags=["dedup-minhash", "incremental", "S16", "bucketing"],
)
def dedup_incremental_lsh(spark, sf_dir):
    """INCREMENTAL (corpus-delta) MINHASH DEDUP — the daily-ingest
    pattern at 100 TB: dedup a NEW shard batch against a PERSISTED
    prior-corpus LSH index WITHOUT rescanning the corpus. Day-0 (in
    production a separate job) writes two bucketed tables once: the
    (id, band, bucket) MinHash band index bucketed on the join key
    (band, bucket), and the hashed (id, sh_set) shingle store
    bucketed on id — the corpus text is scanned exactly once, its
    shuffle paid once at write time (io.write_bucketed). The daily
    job then shingles ONLY the new batch, equi-joins its bands
    against the bucketed index (the persisted side plans with ZERO
    Exchange — pinned in tests/test_plans_scale.py), and
    exact-Jaccard-verifies candidates against the shingle STORE
    (never the raw text). Same 16-hash / 8×2-band / k=3 / 0.5-cut
    parameters as `dedup_minhash_lsh`, whose banding recall is
    measured 100% on this corpus at all test SFs, so the oracle is
    the exact prior×new all-pairs jaccard."""
    import os as _os

    from cam_etl_spark.io import write_bucketed
    from cam_etl_spark.operators.dedup import (
        banded_from_sets,
        dedup_batch_against_index,
        shingle_sets,
    )

    d = t(spark, sf_dir, "documents")
    prior = d.filter(F.col("doc_id") % 5 != 0)
    new = d.filter(F.col("doc_id") % 5 == 0)
    sfx = _os.path.basename(_os.path.normpath(sf_dir)).replace(
        ".", "_")
    idx_tbl = f"inc_lsh_index_{sfx}"
    sets_tbl = f"inc_lsh_sets_{sfx}"
    # external-table locations under a per-sf fixture dir: the
    # in-memory catalog dies with the session but a managed-table
    # LOCATION would survive in spark-warehouse and block the next
    # run's saveAsTable — clean dir + DROP IF EXISTS makes the entry
    # re-runnable in any session
    wh = fixture_dir(sf_dir, "cam_etl_inc_lsh_fixture")
    for tbl in (idx_tbl, sets_tbl):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")

    # ---- day-0 build: one corpus scan, shuffle paid at write time
    sets_prior = shingle_sets(prior, "text", "doc_id", 3)
    write_bucketed(banded_from_sets(sets_prior, bands=8,
                                    rows_per_band=2),
                   idx_tbl, ["band", "bucket"], num_buckets=8,
                   path=_os.path.join(wh, "index"))
    write_bucketed(sets_prior, sets_tbl, "id", num_buckets=8,
                   path=_os.path.join(wh, "sets"))

    # ---- daily ingest: touches ONLY the new batch + bucketed reads
    # (kernel shared with stream_dedup_incremental — one code path
    # for the daily-batch and streaming shapes)
    idx = spark.table(idx_tbl)
    store = spark.table(sets_tbl)
    return dedup_batch_against_index(new, idx, store).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


@register(
    "s71_iceberg_refs_time_travel",
    """
    WITH src AS (
      SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 13 = 4)
    SELECT 'v1.0' AS ref, count(*)::BIGINT AS n_rows,
           sum(k)::BIGINT AS sum_key
    FROM src WHERE k % 3 = 0
    UNION ALL
    SELECT 'audit', count(*)::BIGINT, sum(k)::BIGINT
    FROM src WHERE k % 3 IN (0, 1)
    UNION ALL
    SELECT 'main', count(*)::BIGINT, sum(k)::BIGINT
    FROM src WHERE k % 3 IN (1, 2)
    """,
    tags=["S1", "iceberg", "lake", "refs", "time-travel"],
    plan=SCAN_ONLY_PLAN,
)
def s71_iceberg_refs_time_travel(spark, sf_dir):
    """ICEBERG SNAPSHOT REFERENCES (spec "Snapshot
    References" — sources/iceberg_meta.py resolve_ref): named
    branch/tag time travel over a three-snapshot table. Snapshot 1
    adds file A, snapshot 2 adds B (A existing), snapshot 3 deletes
    A and adds C — the ``v1.0`` TAG pins snapshot 1, the ``audit``
    BRANCH (with retention fields, pass-through policy) pins
    snapshot 2, and ``main`` tracks current. Each ref resolves
    through the refs map with the spec's consistency gates
    (main-must-match-current, type whitelist, dangling-ref check)
    and replays its own manifest chain, so a status-handling slip in
    any snapshot breaks exactly one output row. At 100 TB: a ref
    read costs the same kilobytes of metadata as any time travel —
    branch isolation without copying data."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from cam_etl_spark.sources import iceberg_meta as I

    table = fixture_dir(sf_dir, "cam_etl_iceberg_refs_fixture", "orders_refs")
    data = os.path.join(table, "data")
    md = os.path.join(table, "metadata")
    os.makedirs(data)
    os.makedirs(md)

    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 13 == 4
    ).select(F.col("o_orderkey").alias("k"))

    paths = {}
    for name, grp in (("A", 0), ("B", 1), ("C", 2)):
        tmp = data + f".tmp_{name}"
        o.filter(F.col("k") % 3 == grp).coalesce(1) \
            .write.mode("overwrite").parquet(tmp)
        paths[name] = os.path.join(data, f"{name}.parquet")
        shutil.move(glob.glob(tmp + "/*.parquet")[0], paths[name])
        shutil.rmtree(tmp)

    def entry(name, status):
        return I.manifest_entry(
            paths[name], status=status, snapshot_id=1, record_count=1
        )

    m1 = os.path.join(md, "m1.avro")
    I.write_manifest(m1, [entry("A", 1)])
    s1 = I.write_snapshot(table, 1, [m1])
    m2 = os.path.join(md, "m2.avro")
    I.write_manifest(m2, [entry("A", 0), entry("B", 1)])
    s2 = I.write_snapshot(table, 2, [m2], parent_id=1)
    m3 = os.path.join(md, "m3.avro")
    I.write_manifest(m3, [entry("A", 2), entry("B", 0),
                          entry("C", 1)])
    s3 = I.write_snapshot(table, 3, [m3], parent_id=2)
    I.write_table_metadata(
        table, 1, [s1, s2, s3], 3, [],
        refs={
            "main": {"snapshot-id": 3, "type": "branch"},
            "audit": {"snapshot-id": 2, "type": "branch",
                      "min-snapshots-to-keep": 5,
                      "max-snapshot-age-ms": 604800000},
            "v1.0": {"snapshot-id": 1, "type": "tag",
                     "max-ref-age-ms": 31536000000},
        },
    )

    parts = []
    for ref in ("v1.0", "audit", "main"):
        df, _snap, _n = I.read_snapshot(
            spark, table, snapshot_id=I.resolve_ref(table, ref))
        parts.append(df.agg(
            F.count("*").alias("n_rows"),
            F.sum("k").alias("sum_key"),
        ).select(F.lit(ref).alias("ref"), "n_rows", "sum_key"))
    out = parts[0]
    for p in parts[1:]:
        out = out.union(p)
    return out


@register(
    "s72_warc_wet_conversion_scan",
    f"""
    WITH {doc_sample('doc_id % 7 = 1')}
    {LANG_DOC_STATS}
    FROM src GROUP BY lang
    """,
    tags=["S4", "warc", "wet", "corpus", "common-crawl"],
    plan=ROLLUP_PLAN,
)
def s72_warc_wet_conversion_scan(spark, sf_dir):
    """COMMON CRAWL WET (extracted-text) SCAN: the layout
    most LLM pipelines actually consume — WET files are WARC
    containers of ``conversion`` records (text/plain payloads, one
    gzip member per record) rather than raw ``response`` records.
    Each shard opens with a warcinfo record (must be FILTERED, not
    counted), every conversion record carries WARC-Target-URI and
    the real CC ``WARC-Identified-Content-Language`` header, and the
    scan attributes documents back by parsing the URI. stdlib gzip
    writes the members (independent compressor); the engine's own
    inflater + WARC parser read them; the oracle replays the rollup
    relationally from the documents table, so a dropped record,
    mis-split member, or header slip breaks the hash. At 100 TB:
    shard paths DataFrame, one task per WET file, zero driver
    bytes."""
    from pyspark.sql import functions as F

    base = fixture_dir(sf_dir, "cam_etl_wet_fixture")

    docs = t(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 7 == 1
    ).select(
        "doc_id",
        F.coalesce("text", F.lit("")).alias("text"),
        F.coalesce("lang", F.lit("")).alias("lang"),
    ).repartition(3, F.col("doc_id"))

    def write_shard(pdf, path):
        import gzip

        from cam_etl_spark.sources.warc import write_warc_record

        members = [gzip.compress(write_warc_record(
            "warcinfo", b"software: cam-etl-wet-fixture\r\n"))]
        for d, tx, lg in zip(pdf["doc_id"], pdf["text"],
                             pdf["lang"]):
            members.append(gzip.compress(write_warc_record(
                "conversion", str(tx).encode("utf-8"),
                {"WARC-Target-URI":
                     f"https://example.org/doc/{int(d)}",
                 "Content-Type": "text/plain",
                 "WARC-Identified-Content-Language": str(lg)})))
        with open(path, "wb") as fh:
            fh.write(b"".join(members))

    paths = shard_files(docs, base, "shard-{:08d}.warc.wet.gz", write_shard)

    from cam_etl_spark.sources.warc import (
        parse_warc_records,
        split_gzip_members,
        warc_header,
    )

    def scan(path):
        for member in split_gzip_members(
                open(path, "rb").read()):
            (rec,) = parse_warc_records(member)
            if warc_header(rec, "WARC-Type") != "conversion":
                continue
            uri = warc_header(rec, "WARC-Target-URI")
            yield {
                "doc_id": int(uri.rsplit("/", 1)[1]),
                "n_bytes": len(rec["payload"]),
                "lang": warc_header(
                    rec,
                    "WARC-Identified-Content-Language"),
            }

    parsed = map_rows(paths, scan,
                      "doc_id long, n_bytes long, "
                      "lang string")
    return parsed.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_bytes").alias("sum_bytes"),
        F.sum("doc_id").alias("sum_doc_id"),
    )


@register(
    "text_html_extract",
    f"""
    WITH {doc_sample('doc_id % 3 = 2')},
    rec AS (
      SELECT lang,
             trim(regexp_replace(text || ' &<>A', '\\s+', ' ', 'g'))
               AS recovered
      FROM src)
    SELECT lang, count(*)::BIGINT AS n_docs,
           sum(strlen(recovered))::BIGINT AS sum_chars,
           sum(('0x' || substr(md5(recovered), 1, 15))::bigint
               % 1000000007)::BIGINT AS checksum
    FROM rec GROUP BY lang
    """,
    tags=["text-html", "corpus", "F6", "boilerplate"],
    plan=ROLLUP_PLAN,
)
def text_html_extract(spark, sf_dir):
    """HTML MAIN-TEXT EXTRACTION (functions/text.py html_main_text): the
    web-corpus front door — recover prose from HTML pages, dropping
    navigation/boilerplate (outside <p>), <script>/<style> subtrees
    (including a '1 < 2' inside script text, the case that breaks regex
    tag strippers), and decoding entity/character references
    (&amp;&lt;&gt;&#65;). The fixture wraps each document's text in a
    full HTML page NATIVELY (escape + concat, no Python), extracts with
    the Arrow-vectorized stdlib-HTMLParser kernel, and the oracle
    replays the EXACT recovered strings relationally
    (whitespace-collapsed text + the decoded ' &<>A' suffix) with a
    per-row md5 checksum — one wrong byte in any document breaks the
    hash. At 100 TB: one Arrow pass over the page scan, zero shuffles
    before the rollup."""
    from pyspark.sql import functions as F

    from cam_etl_spark.functions.ids import portable_hash60
    from cam_etl_spark.functions.text import html_main_text

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 2)
    txt = F.coalesce("text", F.lit(""))
    esc = F.regexp_replace(
        F.regexp_replace(F.regexp_replace(txt, "&", "&amp;"),
                         "<", "&lt;"),
        ">", "&gt;")
    html = F.concat(
        F.lit("<html><head><title>d"),
        F.col("doc_id").cast("string"),
        F.lit("</title><style>p{color:red}</style>"
              "<script>var x = 1 < 2;</script></head>"
              "<body><nav>Home | About</nav><p>"),
        esc,
        F.lit(" &amp;&lt;&gt;&#65;</p>"
              '<div class="footer">boilerplate</div></body></html>'),
    )
    rec = d.select(
        F.coalesce("lang", F.lit("")).alias("lang"),
        html_main_text(html).alias("recovered"),
    )
    return rec.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        # octet_length: the oracle's strlen is BYTE length — byte
        # semantics on both sides keeps non-ASCII corpora hash-stable
        F.sum(F.octet_length("recovered")).alias("sum_chars"),
        F.sum(portable_hash60(F.col("recovered")) % 1000000007)
        .alias("checksum"),
    )


@register(
    "text_url_normalize_dedup",
    """
    WITH src AS (
      SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 9 = 2),
    raw AS (
      SELECT k,
             (CASE WHEN k % 2 = 0 THEN 'HTTP' ELSE 'https' END)
             || '://'
             || (CASE k % 3 WHEN 0 THEN 'Example.COM'
                            WHEN 1 THEN 'example.com'
                            ELSE 'CDN.example.com' END)
             || (CASE k % 4 WHEN 0 THEN ':80' WHEN 1 THEN ':443'
                            WHEN 2 THEN ':8080' ELSE '' END)
             || '/item/' || (k % 500)::VARCHAR
             || (CASE WHEN k % 5 = 0 THEN '/' ELSE '' END)
             || (CASE k % 6 WHEN 0 THEN '?b=2&a=1&utm_source=feed'
                            WHEN 1 THEN '?a=1&b=2'
                            WHEN 2 THEN '?utm_campaign=x&a=1&b=2'
                            WHEN 3 THEN '?b=2&fbclid=ZZZ&a=1'
                            ELSE '' END)
             || (CASE WHEN k % 7 = 0 THEN '#frag' ELSE '' END)
               AS url
      FROM src),
    canon AS (
      SELECT k, url,
             lower(regexp_extract(url,
               '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
             lower(regexp_replace(regexp_extract(url,
               '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
               ':[0-9]+$', '')) AS host,
             regexp_extract(regexp_extract(url,
               '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
               ':([0-9]+)$', 1) AS port,
             regexp_extract(url,
               '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)
               AS path,
             regexp_extract(url, '^[^#]*\\?([^#]*)', 1) AS query
      FROM raw),
    built AS (
      SELECT k, host,
             scheme || '://' || host
             || (CASE WHEN port = '' OR (scheme = 'http' AND
                        port = '80') OR (scheme = 'https' AND
                        port = '443')
                      THEN '' ELSE ':' || port END)
             || (CASE WHEN regexp_replace(path, '/$', '') = ''
                      THEN '/'
                      ELSE regexp_replace(path, '/$', '') END)
             || (CASE WHEN coalesce(array_to_string(list_sort(
                        list_filter(string_split(query, '&'),
                        p -> p <> '' AND NOT starts_with(p, 'utm_')
                             AND NOT starts_with(p, 'fbclid=')
                             AND NOT starts_with(p, 'gclid='))),
                        '&'), '') = ''
                      THEN ''
                      ELSE '?' || array_to_string(list_sort(
                        list_filter(string_split(query, '&'),
                        p -> p <> '' AND NOT starts_with(p, 'utm_')
                             AND NOT starts_with(p, 'fbclid=')
                             AND NOT starts_with(p, 'gclid='))),
                        '&') END)
               AS canonical
      FROM canon)
    SELECT host, count(*)::BIGINT AS n_urls,
           count(DISTINCT canonical)::BIGINT AS n_canonical,
           sum(('0x' || substr(md5(canonical), 1, 15))::bigint
             % 1000000007)::BIGINT AS checksum
    FROM built GROUP BY host
    """,
    tags=["text-url", "dedup-exact", "corpus", "F11"],
    plan={"Exchange hashpartitioning": (0, 2), "Join": (0, 0), "CartesianProduct": (0, 0)},
)
def text_url_normalize_dedup(spark, sf_dir):
    """URL CANONICALIZATION + URL-LEVEL DEDUP (functions/text.py
    canonical_url): the crawl-pipeline step BEFORE
    any content downloads — scheme/host case, scheme-aware default
    ports, fragments, tracking params (utm_*/fbclid/gclid),
    unsorted query strings, and trailing slashes all collapse so
    count(DISTINCT canonical) is the real URL frontier size. The
    fixture mints deliberately messy URL spellings from order keys
    (every rule exercised: HTTP://Example.COM:80 vs https variants,
    '?b=2&a=1&utm_source=feed' vs '?a=1&b=2', '#frag'); the oracle
    rebuilds the same canonicalization relationally in DuckDB, and a
    per-row md5 checksum pins every canonical byte. All native
    expressions — at 100 TB this is a projection inside the crawl
    scan, zero extra passes."""
    from pyspark.sql import functions as F

    from cam_etl_spark.functions.ids import portable_hash60
    from cam_etl_spark.functions.text import canonical_url

    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 9 == 2)
    k = F.col("o_orderkey")
    url = F.concat(
        F.when(k % 2 == 0, F.lit("HTTP")).otherwise(F.lit("https")),
        F.lit("://"),
        F.element_at(
            F.array(F.lit("Example.COM"), F.lit("example.com"),
                    F.lit("CDN.example.com")),
            (k % 3 + 1).cast("int")),
        F.element_at(
            F.array(F.lit(":80"), F.lit(":443"), F.lit(":8080"),
                    F.lit("")),
            (k % 4 + 1).cast("int")),
        F.lit("/item/"), (k % 500).cast("string"),
        F.when(k % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.element_at(
            F.array(F.lit("?b=2&a=1&utm_source=feed"),
                    F.lit("?a=1&b=2"),
                    F.lit("?utm_campaign=x&a=1&b=2"),
                    F.lit("?b=2&fbclid=ZZZ&a=1"),
                    F.lit(""), F.lit("")),
            (k % 6 + 1).cast("int")),
        F.when(k % 7 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    canon = o.select(canonical_url(url).alias("canonical")).select(
        "canonical",
        F.regexp_extract("canonical", r"^[a-z]+://([^:/?#]*)", 1)
        .alias("host"),
    )
    return canon.groupBy("host").agg(
        F.count("*").alias("n_urls"),
        F.countDistinct("canonical").alias("n_canonical"),
        F.sum(portable_hash60(F.col("canonical")) % 1000000007)
        .alias("checksum"),
    )


def _adpcm_oracle() -> str:
    """The IMA decode loop replayed RELATIONALLY: a recursive CTE
    carries (pred, idx, running sum/min/max) one nibble per step —
    the step table literal is shared verbatim with
    multimodal/adpcm.py STEP_TABLE (itself pinned against audioop),
    so a single wrong entry breaks the hash."""
    from cam_etl_spark.multimodal.adpcm import STEP_TABLE

    steps = ",".join(map(str, STEP_TABLE))
    return f"""
    WITH RECURSIVE {md5_digest(where='doc_id % 4 = 1', cols='64 + 2 * (doc_id % 32) AS n')},
    init AS (
      SELECT doc_id, n, d,
             CASE WHEN d[1] + 256 * d[2] >= 32768
                  THEN d[1] + 256 * d[2] - 65536
                  ELSE d[1] + 256 * d[2] END AS samp0,
             d[3] % 89 AS idx0
      FROM dg),
    dec AS (
      SELECT doc_id, n, d, 0 AS j, samp0 AS pred, idx0 AS idx,
             samp0::BIGINT AS s_sum, samp0 AS s_min, samp0 AS s_max
      FROM init
      UNION ALL
      SELECT doc_id, n, d, j1, new_pred, new_idx,
             s_sum + new_pred, least(s_min, new_pred),
             greatest(s_max, new_pred)
      FROM (
        SELECT doc_id, n, d, j + 1 AS j1,
               greatest(-32768, least(32767,
                 pred + CASE WHEN nib >= 8 THEN -vpdiff
                             ELSE vpdiff END)) AS new_pred,
               greatest(0, least(88,
                 idx + ([-1,-1,-1,-1,2,4,6,8])[(nib % 8) + 1]))
                 AS new_idx,
               s_sum, s_min, s_max
        FROM (
          SELECT *,
                 (step >> 3)
                 + CASE WHEN (nib // 4) % 2 = 1 THEN step
                        ELSE 0 END
                 + CASE WHEN (nib // 2) % 2 = 1 THEN step >> 1
                        ELSE 0 END
                 + CASE WHEN nib % 2 = 1 THEN step >> 2
                        ELSE 0 END AS vpdiff
          FROM (
            SELECT doc_id, n, d, j, pred, idx, s_sum, s_min, s_max,
                   (d[(j % 16) + 1] + 3*j + doc_id) % 16 AS nib,
                   ([{steps}])[idx + 1] AS step
            FROM dec WHERE j < n
          )
        )
      )
    )
    SELECT doc_id AS media_id,
           (CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                 ELSE 44100 END)::BIGINT AS sample_rate,
           (n + 1)::BIGINT AS n_samples,
           s_sum::BIGINT AS sum_pcm,
           s_min::BIGINT AS min_pcm,
           s_max::BIGINT AS max_pcm
    FROM dec WHERE j = n
    """


@register(
    "multimodal_adpcm_wav_decode",
    _adpcm_oracle,
    tags=["multimodal-audio", "adpcm", "wav", "codec"],
    plan=SCAN_ONLY_PLAN,
)
def multimodal_adpcm_wav_decode(spark, sf_dir):
    """IMA ADPCM WAV DECODE (multimodal/adpcm.py): the
    4-bit adaptive-delta codec of telephony-era audio corpora,
    through the full container path — each document mints a
    deterministic nibble stream + initial (samp0, index) state from
    its md5, the engine AUTHORS a spec-shaped mono IMA WAV (fmt tag
    0x0011, block header, fact chunk, low-nibble-first packing) and
    DECODES it back. The nibble kernel and encoder are pinned
    byte-for-byte against CPython's audioop (the independent C
    implementation; the step table is re-extracted from it
    behaviorally in tests/test_adpcm.py); the oracle replays the
    stateful decode loop as a recursive CTE sharing the same step
    table literal. At 100 TB: one Arrow mapInPandas pass over binary
    columns, zero shuffles before the rollup."""
    from pyspark.sql import functions as F

    docs = t(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 4 == 1
    ).select("doc_id", F.coalesce("text", F.lit("")).alias("text"))
    docs = widen(docs)

    def run(batches):
        import hashlib

        import pandas as pd

        from cam_etl_spark.multimodal.adpcm import (
            wav_ima_build,
            wav_ima_decode,
        )

        cols = ["media_id", "sample_rate", "n_samples", "sum_pcm",
                "min_pcm", "max_pcm"]
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                d = list(hashlib.md5(str(text).encode()).digest())
                n = 64 + 2 * (doc_id % 32)
                s = d[0] + 256 * d[1]
                samp0 = s - 65536 if s >= 32768 else s
                idx0 = d[2] % 89
                nibs = [(d[j % 16] + 3 * j + doc_id) % 16
                        for j in range(n)]
                rate = (8000, 16000, 44100)[doc_id % 3]
                out = wav_ima_decode(
                    wav_ima_build(samp0, idx0, nibs, rate))
                ss = out["samples"]
                rows.append({
                    "media_id": doc_id,
                    "sample_rate": out["sample_rate"],
                    "n_samples": len(ss),
                    "sum_pcm": sum(ss),
                    "min_pcm": min(ss),
                    "max_pcm": max(ss),
                })
            yield pd.DataFrame(rows, columns=cols)

    return docs.mapInPandas(
        run,
        "media_id long, sample_rate long, n_samples long, "
        "sum_pcm long, min_pcm long, max_pcm long",
    )


@register(
    "s73_sqlite_table_scan",
    """
    WITH src AS (
      SELECT doc_id, text, coalesce(lang, '') AS lang
      FROM documents WHERE doc_id % 5 = 4)
    SELECT lang, count(*)::BIGINT AS n_docs,
           sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)::BIGINT
             AS n_null_text,
           coalesce(sum(strlen(text)), 0)::BIGINT AS sum_chars,
           sum(doc_id)::BIGINT AS sum_doc_id
    FROM src GROUP BY lang
    """,
    tags=["S1", "sqlite", "corpus", "source"],
    plan=ROLLUP_PLAN,
)
def s73_sqlite_table_scan(spark, sf_dir):
    """SQLITE DATABASE FILE SCAN
    (sources/sqlite_file.py): many public datasets ship as
    ``.sqlite`` files — each task opens ONE database's bytes and
    scans one table through the engine's from-spec b-tree reader
    (header gates, interior/leaf walk, serial types, overflow
    chains, INTEGER PRIMARY KEY rowid aliasing) with NO sqlite
    library in the read path. The REAL SQLite (stdlib sqlite3)
    writes the shard databases — small pages force interior trees
    and overflow chains on real corpus text — and the oracle replays
    the rollup relationally, so a varint slip, a missed overflow
    byte, or a rowid-alias miss breaks the hash. At 100 TB: a
    db-path DataFrame, one task per database file, zero driver
    bytes."""
    from pyspark.sql import functions as F

    base = fixture_dir(sf_dir, "cam_etl_sqlite_fixture")

    docs = t(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 5 == 4
    ).select(
        "doc_id", "text",
        F.coalesce("lang", F.lit("")).alias("lang"),
    ).repartition(3, F.col("doc_id"))

    def write_db(pdf, path):
        import sqlite3

        con = sqlite3.connect(path)
        con.execute("PRAGMA page_size=512")
        con.execute(
            "CREATE TABLE docs (doc_id INTEGER PRIMARY KEY, "
            "text TEXT, lang TEXT)")
        con.executemany(
            "INSERT INTO docs VALUES (?,?,?)",
            [(int(d), None if tx is None else str(tx), str(lg))
             for d, tx, lg in zip(pdf["doc_id"], pdf["text"],
                                  pdf["lang"])])
        con.commit()
        con.close()

    paths = shard_files(docs, base, "shard-{:08d}.sqlite", write_db)

    from cam_etl_spark.sources.sqlite_file import read_table

    def scan(path):
        cols, data = read_table(open(path, "rb").read(),
                                "docs")
        assert cols == ["doc_id", "text", "lang"]
        for doc_id, text, lang in data:
            yield {"doc_id": doc_id, "text": text,
                         "lang": lang}

    parsed = map_rows(
        paths, scan, "doc_id long, text string, lang string")
    return parsed.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("text").isNull(), 1).otherwise(0))
        .alias("n_null_text"),
        F.coalesce(F.sum(F.octet_length("text")), F.lit(0))
        .alias("sum_chars"),
        F.sum("doc_id").alias("sum_doc_id"),
    )


@register(
    "s74_bz2_xml_dump_scan",
    f"""
    WITH {doc_sample('doc_id % 6 = 5')}
    SELECT lang, count(*)::BIGINT AS n_pages,
           sum(strlen(text))::BIGINT AS sum_chars,
           sum(doc_id)::BIGINT AS sum_page_id
    FROM src GROUP BY lang
    """,
    tags=["S3", "bzip2", "xml", "corpus", "wikipedia"],
    plan=ROLLUP_PLAN,
)
def s74_bz2_xml_dump_scan(spark, sf_dir):
    """WIKIPEDIA-STYLE .BZ2 XML DUMP SCAN
    (multimodal/bzip2.py): the classic encyclopedia-dump layout —
    an XML document of <page><id/><lang/><text/> records,
    bzip2-compressed per shard. The REAL libbzip2 (stdlib bz2, the
    independent compressor) writes the shards; each task decodes ITS
    shard through the engine's own from-format bzip2 decoder
    (Huffman groups, MTF/RLE2, inverse BWT, RLE1, both CRC layers)
    and parses the XML with stdlib ElementTree; the oracle replays
    the rollup relationally from the documents table, so a dropped
    page, a BWT slip, or an entity-escape bug breaks the hash. The
    same decoder now also serves Avro ``bzip2`` blocks. At 100 TB:
    one task per dump shard, zero driver bytes."""
    from pyspark.sql import functions as F

    base = fixture_dir(sf_dir, "cam_etl_bz2xml_fixture")

    docs = t(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 6 == 5
    ).select(
        "doc_id",
        F.coalesce("text", F.lit("")).alias("text"),
        F.coalesce("lang", F.lit("")).alias("lang"),
    ).repartition(3, F.col("doc_id"))

    def write_shard(pdf, path):
        import bz2
        from xml.sax.saxutils import escape

        pages = "".join(
            f"<page><id>{int(d)}</id><lang>{escape(str(lg))}"
            f"</lang><text>{escape(str(tx))}</text></page>"
            for d, tx, lg in zip(pdf["doc_id"], pdf["text"],
                                 pdf["lang"])
        )
        xml = f"<mediawiki>{pages}</mediawiki>".encode("utf-8")
        with open(path, "wb") as fh:
            fh.write(bz2.compress(xml, 9))

    paths = shard_files(docs, base, "dump-{:08d}.xml.bz2", write_shard)

    import xml.etree.ElementTree as ET
    from cam_etl_spark.multimodal.fastpath import decompress

    def scan(path):
        xml = decompress("bz2", open(path, "rb").read())
        root = ET.fromstring(xml.decode("utf-8"))
        for page in root.iter("page"):
            yield {
                "doc_id": int(page.findtext("id")),
                "text": page.findtext("text") or "",
                "lang": page.findtext("lang") or "",
            }

    parsed = map_rows(
        paths, scan, "doc_id long, text string, lang string")
    return parsed.groupBy("lang").agg(
        F.count("*").alias("n_pages"),
        F.sum(F.octet_length("text")).alias("sum_chars"),
        F.sum("doc_id").alias("sum_page_id"),
    )


@register(
    "text_gopher_quality_rules",
    f"""
    WITH {doc_sample('doc_id % 2 = 1')},
    feat AS (
      SELECT doc_id, lang,
             len(list_filter(string_split_regex(trim(text), '\\s+'),
                             w -> w <> '')) AS n_words,
             len(list_filter(string_split_regex(trim(text), '\\s+'),
                             w -> w <> '' AND
                                  regexp_matches(w, '[A-Za-z]')))
               AS n_alpha_words,
             strlen(regexp_replace(text, '\\s', '', 'g')) AS n_chars,
             strlen(text) - strlen(replace(text, '#', ''))
             + (strlen(text)
                - strlen(replace(text, '...', 'xx'))) AS n_symbols,
             len(string_split(text, chr(10))) AS n_lines,
             len(list_filter(string_split(text, chr(10)),
                             l -> regexp_matches(trim(l),
                                                 '^[-*•]')))
               AS n_bullet,
             len(list_filter(string_split(text, chr(10)),
                             l -> trim(l) LIKE '%...')) AS n_ellipsis,
             len(list_filter(
                 ['the','be','to','of','and','that','have','with'],
                 s -> regexp_matches(lower(text),
                       '(^|[^a-z])' || s || '($|[^a-z])')))
               AS n_stop
      FROM src),
    rules AS (
      SELECT doc_id, lang,
             (n_words >= 50 AND n_words <= 100000) AS ok_count,
             (3 * n_words <= n_chars AND n_chars <= 10 * n_words)
               AS ok_meanlen,
             (10 * n_symbols < n_words) AS ok_symbols,
             (10 * n_bullet < 9 * n_lines) AS ok_bullets,
             (10 * n_ellipsis < 3 * n_lines) AS ok_ellipsis,
             (5 * n_alpha_words > 4 * n_words) AS ok_alpha,
             (n_stop >= 2) AS ok_stop
      FROM feat)
    SELECT lang, count(*)::BIGINT AS n_docs,
           sum(CASE WHEN ok_count AND ok_meanlen AND ok_symbols
                         AND ok_bullets AND ok_ellipsis AND ok_alpha
                         AND ok_stop
                    THEN 1 ELSE 0 END)::BIGINT AS n_keep,
           sum(CASE WHEN ok_count THEN 0 ELSE 1 END)::BIGINT
             AS n_bad_count,
           sum(CASE WHEN ok_meanlen THEN 0 ELSE 1 END)::BIGINT
             AS n_bad_meanlen,
           sum(CASE WHEN ok_symbols THEN 0 ELSE 1 END)::BIGINT
             AS n_bad_symbols,
           sum(CASE WHEN ok_alpha THEN 0 ELSE 1 END)::BIGINT
             AS n_bad_alpha,
           sum(CASE WHEN ok_stop THEN 0 ELSE 1 END)::BIGINT
             AS n_bad_stop
    FROM rules GROUP BY lang
    """,
    tags=["text-quality", "gopher", "corpus", "F6"],
    plan=ROLLUP_PLAN,
)
def text_gopher_quality_rules(spark, sf_dir):
    """GOPHER-RULE QUALITY FILTERING (the published
    Gopher/MassiveText heuristics, Rae et al. 2021 §A.1.1, as the
    canonical pre-training document filter): word-count bounds
    [50, 100k], mean word length [3, 10], symbol-to-word ratio
    (hash + ellipsis) < 0.1, bullet-line fraction < 0.9,
    ellipsis-line fraction < 0.3, alphabetic-word fraction > 0.8,
    and >= 2 required English stopwords. Every threshold is an
    EXACT integer comparison (10*symbols < words, 5*alpha > 4*words)
    — no float ratio can flip a boundary doc between engines, and
    the whole filter is native expressions inside the scan (zero
    extra passes at 100 TB). The rollup reports keep counts plus
    per-rule violation counts so one broken rule breaks one
    column."""
    from pyspark.sql import functions as F

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 1)
    text = F.coalesce("text", F.lit(""))
    # explicit RE2-\s class [ \t\n\f\r]: Java's \s also matches \v
    # (U+000B) but DuckDB's RE2 \s does not — split on the SAME
    # class so a stray \v can't fork the word count between engines
    words = F.filter(F.split(F.trim(text), r"[ \t\n\f\r]+"),
                     lambda w: w != "")
    alpha = F.filter(words,
                     lambda w: w.rlike("[A-Za-z]"))
    lines = F.split(text, "\n")
    bullet = F.filter(
        lines, lambda line: F.trim(line).rlike(r"^[-*•]"))
    ellipsis = F.filter(
        lines, lambda line: F.trim(line).rlike(r"\.\.\.$"))
    stops = F.array(*[F.lit(s) for s in
                      ("the", "be", "to", "of", "and", "that",
                       "have", "with")])
    n_stop = F.size(F.filter(
        stops,
        lambda s: F.regexp(
            F.lower(text),
            F.concat(F.lit("(^|[^a-z])"), s, F.lit("($|[^a-z])")))))
    feat = d.select(
        F.coalesce("lang", F.lit("")).alias("lang"),
        F.size(words).alias("n_words"),
        F.size(alpha).alias("n_alpha_words"),
        # BYTE length (matches the oracle's strlen) — the mean-word-
        # length rule is defined over bytes so both engines agree on
        # non-ASCII corpora
        F.octet_length(F.regexp_replace(text, r"[ \t\n\f\r]", ""))
        .alias("n_chars"),
        (
            F.length(text) - F.length(F.regexp_replace(text, "#", ""))
            + (F.length(text)
               - F.length(F.replace(text, F.lit("..."), F.lit("xx"))))
        ).alias("n_symbols"),
        F.size(lines).alias("n_lines"),
        F.size(bullet).alias("n_bullet"),
        F.size(ellipsis).alias("n_ellipsis"),
        n_stop.alias("n_stop"),
    )
    r = feat.select(
        "lang",
        ((F.col("n_words") >= 50) & (F.col("n_words") <= 100000))
        .alias("ok_count"),
        ((3 * F.col("n_words") <= F.col("n_chars"))
         & (F.col("n_chars") <= 10 * F.col("n_words")))
        .alias("ok_meanlen"),
        (10 * F.col("n_symbols") < F.col("n_words"))
        .alias("ok_symbols"),
        (10 * F.col("n_bullet") < 9 * F.col("n_lines"))
        .alias("ok_bullets"),
        (10 * F.col("n_ellipsis") < 3 * F.col("n_lines"))
        .alias("ok_ellipsis"),
        (5 * F.col("n_alpha_words") > 4 * F.col("n_words"))
        .alias("ok_alpha"),
        (F.col("n_stop") >= 2).alias("ok_stop"),
    )
    keep = (F.col("ok_count") & F.col("ok_meanlen")
            & F.col("ok_symbols") & F.col("ok_bullets")
            & F.col("ok_ellipsis") & F.col("ok_alpha")
            & F.col("ok_stop"))
    return r.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(keep, 1).otherwise(0)).alias("n_keep"),
        F.sum(F.when(F.col("ok_count"), 0).otherwise(1))
        .alias("n_bad_count"),
        F.sum(F.when(F.col("ok_meanlen"), 0).otherwise(1))
        .alias("n_bad_meanlen"),
        F.sum(F.when(F.col("ok_symbols"), 0).otherwise(1))
        .alias("n_bad_symbols"),
        F.sum(F.when(F.col("ok_alpha"), 0).otherwise(1))
        .alias("n_bad_alpha"),
        F.sum(F.when(F.col("ok_stop"), 0).otherwise(1))
        .alias("n_bad_stop"),
    )


@register(
    "s75_jsonl_xz_corpus_scan",
    f"""
    WITH {doc_sample('doc_id % 8 = 6')}
    {LANG_DOC_STATS}
    FROM src GROUP BY lang
    """,
    tags=["S4", "jsonl", "xz", "lzma", "corpus"],
    plan=ROLLUP_PLAN,
)
def s75_jsonl_xz_corpus_scan(spark, sf_dir):
    """JSONL.XZ CORPUS SCAN (multimodal/xz.py): the
    RedPajama/archival-corpus layout — newline-delimited JSON
    documents, xz-compressed per shard. The REAL liblzma (stdlib
    lzma, the independent compressor) writes the shards; each task
    decodes ITS shard through the engine's own from-spec LZMA2/XZ
    decoder (range coder, full LZMA1 state machine, block headers,
    CRC64 integrity check, index/footer validation) and parses the
    documents; the oracle replays the rollup relationally. The same
    decoder now also serves Avro ``xz`` blocks — with zstd, brotli,
    inflate, bzip2, lz4 and lzo this completes the engine-own
    decoder set for every general-purpose codec the lake formats
    use. At 100 TB: a shard-path DataFrame, one task per shard, no
    driver bytes."""
    from pyspark.sql import functions as F

    base = fixture_dir(sf_dir, "cam_etl_jsonlxz_fixture")

    docs = t(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 8 == 6
    ).select(
        "doc_id",
        F.coalesce("text", F.lit("")).alias("text"),
        F.coalesce("lang", F.lit("")).alias("lang"),
    ).repartition(3, F.col("doc_id"))

    def write_shard(pdf, path):
        import json
        import lzma

        lines = "".join(
            json.dumps({"doc_id": int(d), "text": str(tx),
                        "meta": {"lang": str(lg)}},
                       ensure_ascii=False) + "\n"
            for d, tx, lg in zip(pdf["doc_id"], pdf["text"],
                                 pdf["lang"])
        ).encode("utf-8")
        with open(path, "wb") as fh:
            fh.write(lzma.compress(lines,
                                   format=lzma.FORMAT_XZ,
                                   preset=6))

    paths = shard_files(docs, base, "shard-{:08d}.jsonl.xz", write_shard)

    import json
    from cam_etl_spark.multimodal.fastpath import decompress

    def scan(path):
        raw = decompress("xz", open(path, "rb").read())
        # split on '\n' ONLY: json.dumps(ensure_ascii=
        # False) leaves U+2028/U+2029/U+0085 raw inside
        # strings and splitlines() would cut records there
        for line in raw.decode("utf-8").split("\n"):
            if not line:
                continue
            doc = json.loads(line)
            yield {
                "doc_id": doc["doc_id"],
                "text": doc["text"],
                "lang": doc["meta"]["lang"],
            }

    parsed = map_rows(
        paths, scan, "doc_id long, text string, lang string")
    return parsed.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.octet_length("text")).alias("sum_bytes"),
        F.sum("doc_id").alias("sum_doc_id"),
    )


@register(
    "s76_delta_in_commit_timestamps",
    """
    WITH src AS (
      SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 17 = 8)
    SELECT 't0' AS probe, 0::BIGINT AS version,
           count(*)::BIGINT AS n_rows, sum(k)::BIGINT AS sum_key
    FROM src WHERE k % 3 = 0
    UNION ALL
    SELECT 't0_plus', 0::BIGINT, count(*)::BIGINT, sum(k)::BIGINT
    FROM src WHERE k % 3 = 0
    UNION ALL
    SELECT 't1', 1::BIGINT, count(*)::BIGINT, sum(k)::BIGINT
    FROM src WHERE k % 3 IN (0, 1)
    UNION ALL
    SELECT 't2_plus', 2::BIGINT, count(*)::BIGINT, sum(k)::BIGINT
    FROM src WHERE k % 3 IN (1, 2)
    """,
    tags=["S1", "delta", "lake", "in-commit-timestamps",
          "time-travel"],
    plan=SCAN_ONLY_PLAN,
)
def s76_delta_in_commit_timestamps(spark, sf_dir):
    """DELTA IN-COMMIT TIMESTAMPS (spec "In-Commit
    Timestamps" — delta_log.py resolve_timestamp): timestamp time
    travel that trusts the LOG, not the filesystem. A three-commit
    table enables delta.enableInCommitTimestamps; every commitInfo
    carries a monotonic inCommitTimestamp, and the commit files'
    mtimes are deliberately REVERSED (os.utime) — the clock-skew
    scenario ICT exists to fix — so any fallback to mtime resolves
    the WRONG version and breaks a row. Four probe timestamps
    resolve to versions 0/0/1/2 and each snapshot replays + scans
    natively; the oracle replays each version's logical content
    relationally. At 100 TB: resolution reads kilobytes of log."""
    import os

    from pyspark.sql import functions as F

    from cam_etl_spark.sources.delta_log import (
        add_action,
        one_file,
        read_snapshot,
        remove_action,
        resolve_timestamp,
        write_commit,
    )

    table = fixture_dir(sf_dir, "cam_etl_delta_ict_fixture", "orders_ict")

    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 17 == 8
    ).select(F.col("o_orderkey").alias("k"))
    paths = {}
    for name, grp in (("A", 0), ("B", 1), ("C", 2)):
        one_file(o.filter(F.col("k") % 3 == grp),
                 os.path.join(table, f"{name}.parquet"))
        paths[name] = f"{name}.parquet"

    def add(name):
        return add_action(table, paths[name])

    t0 = 1_700_000_000_000
    write_commit(table, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {
            "id": "ict-fixture", "format": {"provider": "parquet"},
            "schemaString": "", "partitionColumns": [],
            "configuration": {
                "delta.enableInCommitTimestamps": "true"}}},
        add("A"),
        {"commitInfo": {"inCommitTimestamp": t0,
                        "operation": "WRITE"}},
    ])
    write_commit(table, 1, [
        add("B"),
        {"commitInfo": {"inCommitTimestamp": t0 + 60_000,
                        "operation": "WRITE"}},
    ])
    write_commit(table, 2, [
        remove_action(paths["A"]),
        add("C"),
        {"commitInfo": {"inCommitTimestamp": t0 + 120_000,
                        "operation": "DELETE"}},
    ])
    # reversed mtimes: newest commit file gets the OLDEST mtime —
    # a wall-clock resolver would order the versions backwards
    log = os.path.join(table, "_delta_log")
    for v, age in ((0, 0), (1, 100_000), (2, 200_000)):
        p = os.path.join(log, f"{v:020d}.json")
        os.utime(p, (1_000_000_000 - age, 1_000_000_000 - age))

    probes = [("t0", t0), ("t0_plus", t0 + 30_000),
              ("t1", t0 + 60_000), ("t2_plus", t0 + 120_005)]
    parts = []
    for label, ts in probes:
        v = resolve_timestamp(table, ts)
        df, _snap, _n = read_snapshot(spark, table, version=v)
        parts.append(df.agg(
            F.count("*").alias("n_rows"),
            F.sum("k").alias("sum_key"),
        ).select(F.lit(label).alias("probe"),
                 F.lit(v).cast("long").alias("version"),
                 "n_rows", "sum_key"))
    out = parts[0]
    for p in parts[1:]:
        out = out.union(p)
    return out


@register(
    "corpus_end_to_end",
    fr"""
    WITH newb AS (
      SELECT doc_id, coalesce(text, '') AS text
      FROM documents WHERE doc_id % 5 = 0),
    aug AS (
      SELECT doc_id,
             text || ' contact user' || doc_id || '@example.com or 555-'
                  || lpad((doc_id % 1000)::varchar, 3, '0') || '-'
                  || lpad(((doc_id * 7) % 10000)::varchar, 4, '0')
                  || ' from 10.' || (doc_id % 256)::varchar || '.0.'
                  || ((doc_id * 7) % 256)::varchar AS a
      FROM newb),
    rec AS (
      SELECT doc_id,
             trim(regexp_replace(a || ' &<>A', '\s+', ' ', 'g')) AS r
      FROM aug),
    feat AS (
      SELECT doc_id, r,
        len(list_filter(string_split_regex(trim(r), '\s+'),
                        w -> w <> '')) AS n_words,
        len(list_filter(string_split_regex(trim(r), '\s+'),
                        w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
        strlen(regexp_replace(r, '\s', '', 'g')) AS n_chars,
        (strlen(r) - strlen(regexp_replace(r, '#', '', 'g')))
          + (strlen(r) - strlen(replace(r, '...', 'xx'))) AS n_symbols,
        (CASE WHEN regexp_matches(lower(r), '(^|[^a-z])the($|[^a-z])') THEN 1 ELSE 0 END
         + CASE WHEN regexp_matches(lower(r), '(^|[^a-z])a($|[^a-z])') THEN 1 ELSE 0 END
         + CASE WHEN regexp_matches(lower(r), '(^|[^a-z])to($|[^a-z])') THEN 1 ELSE 0 END
         + CASE WHEN regexp_matches(lower(r), '(^|[^a-z])of($|[^a-z])') THEN 1 ELSE 0 END
         + CASE WHEN regexp_matches(lower(r), '(^|[^a-z])and($|[^a-z])') THEN 1 ELSE 0 END
         + CASE WHEN regexp_matches(lower(r), '(^|[^a-z])that($|[^a-z])') THEN 1 ELSE 0 END
         + CASE WHEN regexp_matches(lower(r), '(^|[^a-z])have($|[^a-z])') THEN 1 ELSE 0 END
         + CASE WHEN regexp_matches(lower(r), '(^|[^a-z])with($|[^a-z])') THEN 1 ELSE 0 END
        ) AS n_stop
      FROM rec),
    gate AS (
      SELECT doc_id, r FROM feat
      WHERE n_words BETWEEN 50 AND 100000
        AND 3*n_words <= n_chars AND n_chars <= 10*n_words
        AND 10*n_symbols < n_words
        AND 5*n_alpha > 4*n_words
        AND n_stop >= 2),
    ptoks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
      FROM documents WHERE doc_id % 5 <> 0),
    ntoks AS (
      SELECT doc_id, string_split_regex(lower(trim(r)), '\s+') AS w
      FROM gate),
    shl AS (
      SELECT doc_id, 0 AS side,
             {SHINGLE_SET} AS sh
      FROM ptoks
      UNION ALL
      SELECT doc_id, 1,
             {SHINGLE_SET}
      FROM ntoks),
    sh AS (
      SELECT DISTINCT doc_id, side, s
      FROM (SELECT doc_id, side, unnest(sh) AS s FROM shl)),
    sizes AS (SELECT doc_id, side, count(*) AS n FROM sh GROUP BY 1, 2),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ni
      FROM sh a JOIN sh b ON a.s = b.s AND a.side = 0 AND b.side = 1
      GROUP BY 1, 2),
    dropped AS (
      SELECT DISTINCT id_b AS doc_id
      FROM inter
      JOIN sizes sa ON id_a = sa.doc_id AND sa.side = 0
      JOIN sizes sb ON id_b = sb.doc_id AND sb.side = 1
      WHERE ni::double / (sa.n + sb.n - ni) >= 0.5),
    survivors AS (
      SELECT g.doc_id,
             regexp_replace(regexp_replace(regexp_replace(g.r,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
                 '\b\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}\b', '<IP>', 'g'),
                 '\b\d{{3}}[-. ]\d{{3}}[-. ]\d{{4}}\b', '<PHONE>', 'g') AS redacted
      FROM gate g
      WHERE g.doc_id NOT IN (SELECT doc_id FROM dropped)),
    toks AS (
      SELECT doc_id, redacted,
             CASE WHEN trim(redacted) = '' THEN 0
                  ELSE len(string_split_regex(trim(redacted), '\s+'))
             END AS n_tokens,
             ('0x' || substr(md5(doc_id::varchar), 1, 15))::bigint % 4
               AS shard
      FROM survivors),
    packed AS (
      SELECT doc_id, redacted, n_tokens, shard,
             sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tokens
               AS start
      FROM toks)
    SELECT doc_id, n_tokens, shard,
           concat(shard, '-', (start::bigint // 2048)) AS seq_id,
           (start::bigint % 2048) AS "offset",
           md5(redacted) AS redacted_md5
    FROM packed
    """,
    tags=["pipeline", "corpus", "jsonl", "zstd", "text-html",
          "gopher", "text-pii", "dedup-minhash", "incremental",
          "packing"],
)
def corpus_end_to_end(spark, sf_dir):
    """THE END-TO-END TRAINING-DATA PIPELINE — the
    composition a corpus team actually ships, every stage an
    already-green operator, chained so the oracle verifies the WHOLE
    byte path in one hash:

      ingest (jsonl.zst shards of crawled HTML pages; pyarrow's real
      zstd WRITES, the engine's own RFC-8878 decoder READS —
      multimodal/zstd.py, per-shard mapInPandas)
      → html_main_text (Arrow pass: <p>-block prose, script/style
        dropped, entities decoded — functions/text.py)
      → Gopher quality gate (Rae et al. 2021 §A.1.1: word-count
        bounds [50, 100k], mean word length [3,10] in bytes,
        symbol ratio, alpha-word fraction, ≥2 stopwords — exact
        integer comparisons, native expressions; the stopword list
        is the published one with 'a' added: the rule is
        domain-parameterized and this corpus is SQL-jargon prose;
        bullet/ellipsis line rules are omitted as degenerate here —
        extraction collapses newlines so every doc is one line)
      → incremental MinHash-LSH dedup of the NEW batch against the
        PERSISTED prior-corpus band index (bucketed on (band,bucket),
        zero-Exchange on the index side; same 16-hash/8×2-band/k=3/
        0.5-cut as dedup_incremental_lsh)
      → PII redaction (typed placeholders, byte-pinned via md5)
      → pack_sequences (GPT-style 2048-token windows in 4 hash
        shards).

    The crawl fixture appends a deterministic contact line (same
    expression in the oracle) so redaction provably fires THROUGH the
    html round-trip, and wraps each doc in a full page (nav/footer
    boilerplate, a '1 < 2' script, entity suffix ' &amp;&lt;&gt;&#65;')
    so extraction is doing real work — one wrong byte at ANY stage
    shifts a shingle, a gate feature, a token count, or the redacted
    md5, and the final hash breaks. At 100 TB: the ingest→extract→
    gate→redact path is ONE Arrow pass over shard-parallel tasks
    (checkpointed once at the gate, the natural silver-table
    boundary); the dedup is equi-joins through the bucketed index
    (no corpus rescan, no all-pairs); packing is per-shard windows,
    never a global sort. Banding recall at the observed pair
    similarities (≥0.83) is 1-(1-s²)⁸ ≥ 0.9999 and measured 100% at
    sf0.001/0.01/0.1."""
    import os as _os

    from cam_etl_spark.functions.text import (
        html_main_text,
        redact_pii,
        token_count,
    )
    from cam_etl_spark.io import write_bucketed
    from cam_etl_spark.operators.dedup import (
        banded_from_sets,
        dedup_batch_against_index,
        shingle_sets,
    )
    from cam_etl_spark.operators.sampling import (
        pack_sequences as pack_op,
    )

    d = t(spark, sf_dir, "documents")
    sfx = _os.path.basename(_os.path.normpath(sf_dir)).replace(
        ".", "_")
    base = fixture_dir(sf_dir, "cam_etl_corpus_e2e_fixture")
    _os.makedirs(_os.path.join(base, "shards"))

    # ---- crawl fixture: the NEW batch as full HTML pages, written
    # as jsonl.zst shards by pyarrow's REAL zstd (the independent
    # compressor); contact line + entity suffix appended natively so
    # the oracle can replay the exact recovered bytes
    aug = F.concat(
        F.coalesce("text", F.lit("")),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad(((F.col("doc_id") * 7) % 10000).cast("string"), 4,
               "0"),
        F.lit(" from 10."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".0."),
        ((F.col("doc_id") * 7) % 256).cast("string"),
    )
    esc = F.regexp_replace(
        F.regexp_replace(F.regexp_replace(aug, "&", "&amp;"),
                         "<", "&lt;"),
        ">", "&gt;")
    html = F.concat(
        F.lit("<html><head><title>d"),
        F.col("doc_id").cast("string"),
        F.lit("</title><style>p{color:red}</style>"
              "<script>var x = 1 < 2;</script></head>"
              "<body><nav>Home | About</nav><p>"),
        esc,
        F.lit(" &amp;&lt;&gt;&#65;</p>"
              '<div class="footer">boilerplate</div></body></html>'),
    )
    new_pages = d.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", html.alias("html")
    ).repartition(4, F.col("doc_id"))

    shard_dir = _os.path.join(base, "shards")

    def write_shard(pdf, path):
        import json

        import pyarrow as pa

        lines = "".join(
            json.dumps({"doc_id": int(i), "html": str(h)},
                       ensure_ascii=False) + "\n"
            for i, h in zip(pdf["doc_id"], pdf["html"])
        ).encode("utf-8")
        codec = pa.Codec("zstd", compression_level=9)
        with open(path, "wb") as fh:
            fh.write(codec.compress(lines, asbytes=True))

    paths = shard_files(
        new_pages, shard_dir, "shard-{:08d}.jsonl.zst", write_shard)

    # ---- ingest: one task per shard, the ENGINE's zstd decoder
    import json
    from cam_etl_spark.multimodal.fastpath import decompress

    def scan(path):
        raw = decompress("zstd", open(path, "rb").read())
        for line in raw.decode("utf-8").split("\n"):
            if not line:
                continue
            doc = json.loads(line)
            yield {"doc_id": doc["doc_id"],
                         "html": doc["html"]}

    ingested = map_rows(paths, scan, "doc_id long, html string")

    # ---- extract + Gopher gate (same Arrow pass as the scan)
    recd = ingested.select(
        "doc_id", html_main_text(F.col("html")).alias("rec"))
    r = F.col("rec")
    words = F.filter(F.split(F.trim(r), r"[ \t\n\f\r]+"),
                     lambda w: w != "")
    alpha = F.filter(words, lambda w: w.rlike("[A-Za-z]"))
    stops = F.array(*[F.lit(s) for s in
                      ("the", "a", "to", "of", "and", "that",
                       "have", "with")])
    n_stop = F.size(F.filter(
        stops,
        lambda s: F.regexp(
            F.lower(r),
            F.concat(F.lit("(^|[^a-z])"), s, F.lit("($|[^a-z])")))))
    feat = recd.select(
        "doc_id", "rec",
        F.size(words).alias("n_words"),
        F.size(alpha).alias("n_alpha"),
        F.octet_length(F.regexp_replace(r, r"[ \t\n\f\r]", ""))
        .alias("n_chars"),
        (
            F.length(r) - F.length(F.regexp_replace(r, "#", ""))
            + (F.length(r)
               - F.length(F.replace(r, F.lit("..."), F.lit("xx"))))
        ).alias("n_symbols"),
        n_stop.alias("n_stop"),
    )
    gated = feat.filter(
        (F.col("n_words") >= 50) & (F.col("n_words") <= 100000)
        & (3 * F.col("n_words") <= F.col("n_chars"))
        & (F.col("n_chars") <= 10 * F.col("n_words"))
        & (10 * F.col("n_symbols") < F.col("n_words"))
        & (5 * F.col("n_alpha") > 4 * F.col("n_words"))
        & (F.col("n_stop") >= 2)
    ).select("doc_id", "rec")
    # ONE execution of the ingest→extract→gate Arrow pass: everything
    # below (shingling, the anti-join's left side, redaction) reads
    # this checkpoint — in production this is the persisted silver
    # table between the crawl job and the dedup job
    gated = gated.localCheckpoint(eager=True)

    # ---- incremental LSH dedup against the PERSISTED prior index
    # (day-0 job: one corpus scan, shuffle paid once at write time)
    idx_tbl = f"corpus_e2e_index_{sfx}"
    sets_tbl = f"corpus_e2e_sets_{sfx}"
    for tbl in (idx_tbl, sets_tbl):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    prior = d.filter(F.col("doc_id") % 5 != 0)
    sets_prior = shingle_sets(prior, "text", "doc_id", 3)
    write_bucketed(banded_from_sets(sets_prior, bands=8,
                                    rows_per_band=2),
                   idx_tbl, ["band", "bucket"], num_buckets=8,
                   path=_os.path.join(base, "index"))
    write_bucketed(sets_prior, sets_tbl, "id", num_buckets=8,
                   path=_os.path.join(base, "sets"))
    idx = spark.table(idx_tbl)
    store = spark.table(sets_tbl)
    # the SAME kernel as dedup_incremental_lsh /
    # stream_dedup_incremental — one code path for every trigger
    dup_ids = dedup_batch_against_index(
        gated, idx, store, text_col="rec"
    ).select(F.col("id_b").alias("doc_id")).distinct()
    survivors = gated.join(dup_ids, "doc_id", "left_anti")

    # ---- redact + pack (map-side + per-shard windows)
    red = survivors.select(
        "doc_id", redact_pii(F.col("rec")).alias("redacted"))
    withtok = red.select(
        "doc_id", "redacted",
        token_count(F.col("redacted")).alias("n_tokens"))
    return pack_op(withtok, "n_tokens", ctx_len=2048,
                   num_shards=4).select(
        "doc_id", "n_tokens", "shard", "seq_id", "offset",
        F.md5("redacted").alias("redacted_md5"),
    )


@register(
    "stream_dedup_incremental",
    near_dup_pairs('a.doc_id % 5 <> 0 AND b.doc_id % 5 = 0'),
    tags=["streaming", "dedup-minhash", "incremental", "S16",
          "bucketing", "foreachBatch"],
)
def stream_dedup_incremental(spark, sf_dir):
    """STREAMING INCREMENTAL DEDUP — the production twin
    of `dedup_incremental_lsh`: in a live pipeline the daily batch is
    a STREAM, so new documents arrive as micro-batches and each one
    dedups against the PERSISTED prior-corpus index inside
    foreachBatch, through the exact same kernel
    (operators/dedup.py dedup_batch_against_index) as the batch
    entry — one code path, two triggers. Day-0 writes the bucketed
    (band,bucket) band index and the id-bucketed shingle store once;
    the stream then joins each micro-batch's bands through the
    bucketed layout (zero Exchange on the persisted side — pinned)
    and appends exact-verified pairs to the sink. Pairs are keyed by
    the NEW doc's id and every new doc lands in exactly one
    micro-batch, so the union over batches equals the one-shot batch
    result and the oracle is the same exact prior×new all-pairs
    jaccard. The index is deliberately NOT grown mid-stream (parity
    with the daily-batch shape; an intra-day self-dedup would chain
    `streaming_band_index` in front)."""
    import os as _os

    from cam_etl_spark.io import write_bucketed
    from cam_etl_spark.operators.dedup import (
        banded_from_sets,
        dedup_batch_against_index,
        shingle_sets,
    )

    d = t(spark, sf_dir, "documents")
    prior = d.filter(F.col("doc_id") % 5 != 0)
    new = d.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text"))
    sfx = _os.path.basename(_os.path.normpath(sf_dir)).replace(
        ".", "_")
    idx_tbl = f"stream_inc_lsh_index_{sfx}"
    sets_tbl = f"stream_inc_lsh_sets_{sfx}"
    wh = fixture_dir(sf_dir, "cam_etl_stream_inc_lsh_fixture")
    for tbl in (idx_tbl, sets_tbl):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")

    # ---- day-0 build (one corpus scan, shuffle paid at write time)
    sets_prior = shingle_sets(prior, "text", "doc_id", 3)
    write_bucketed(banded_from_sets(sets_prior, bands=8,
                                    rows_per_band=2),
                   idx_tbl, ["band", "bucket"], num_buckets=8,
                   path=_os.path.join(wh, "index"))
    write_bucketed(sets_prior, sets_tbl, "id", num_buckets=8,
                   path=_os.path.join(wh, "sets"))

    # ---- the stream: new docs arrive as a multi-file source, three
    # micro-batches; each batch joins through the bucketed index
    work = fixture_dir(sf_dir, "cam_etl_stream_inc_lsh_fixture", "stream")
    src = file_stream(new, work + "/in", per_trigger=2, files=6)

    def on_batch(batch_df, batch_id):
        s = batch_df.sparkSession
        pairs = dedup_batch_against_index(
            batch_df, s.table(idx_tbl), s.table(sets_tbl))
        pairs.select(
            "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
        ).write.mode("append").parquet(work + "/out")

    q = (
        src.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", work + "/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # explicit schema: a run where every micro-batch produced zero
    # pairs leaves only _SUCCESS in the sink, and schema inference
    # would fail where the batch twin returns an empty frame
    return spark.read.schema(
        "id_a long, id_b long, jaccard double"
    ).parquet(work + "/out").select("id_a", "id_b", "jaccard")


@register(
    "s77_sqlite_wal_scan",
    f"""
    WITH {doc_sample('doc_id % 7 = 1 AND doc_id % 10 <> 3')}
    SELECT lang, count(*)::BIGINT AS n_docs,
           sum(strlen(text))::BIGINT AS sum_chars,
           sum(doc_id)::BIGINT AS sum_doc_id
    FROM src GROUP BY lang
    """,
    tags=["S1", "sqlite", "wal", "corpus", "source"],
    plan=ROLLUP_PLAN,
)
def s77_sqlite_wal_scan(spark, sf_dir):
    """SQLITE WAL-MODE DATABASE SCAN
    (sources/sqlite_file.py apply_wal): live ``.sqlite`` datasets ship
    with an uncheckpointed ``-wal`` sidecar — the main file alone is
    STALE. Each shard database is authored by the REAL SQLite
    (stdlib sqlite3, journal_mode=WAL): the base rows land
    checkpointed with PLACEHOLDER text, then an UPDATE commit writes
    the real text and a DELETE commit removes doc_id%10==3 — both
    commits live ONLY in the WAL (files copied while the writer
    connection is open; closing would auto-checkpoint). The scan
    validates the WAL header checksum, the salt pair, and the
    cumulative frame-checksum chain, merges committed frames over the
    main image, and walks the b-tree as usual — so a reader that
    ignored or mis-merged the WAL returns placeholder bytes and
    deleted rows, and the oracle (the FINAL state, replayed
    relationally) breaks the hash. At 100 TB: one task per database
    (+sidecar), zero driver bytes."""
    import os

    from pyspark.sql import functions as F

    base = fixture_dir(sf_dir, "cam_etl_sqlite_wal_fixture")

    docs = t(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 7 == 1
    ).select(
        "doc_id",
        F.coalesce("text", F.lit("")).alias("text"),
        F.coalesce("lang", F.lit("")).alias("lang"),
    ).repartition(3, F.col("doc_id"))

    def write_db(pdf, path):
        import sqlite3

        tmp = os.path.join(
            base,
            f"tmp-{int(pdf['doc_id'].min()):08d}.sqlite")
        con = sqlite3.connect(tmp)
        con.execute("PRAGMA page_size=512")
        con.execute("PRAGMA journal_mode=WAL")
        con.execute("PRAGMA wal_autocheckpoint=0")
        con.execute(
            "CREATE TABLE docs (doc_id INTEGER PRIMARY KEY, "
            "text TEXT, lang TEXT)")
        con.executemany(
            "INSERT INTO docs VALUES (?,?,?)",
            [(int(d), "PLACEHOLDER", str(lg))
             for d, lg in zip(pdf["doc_id"], pdf["lang"])])
        con.commit()
        # base state folds into the main file; everything after
        # this lives ONLY in the -wal sidecar
        con.execute("PRAGMA wal_checkpoint(TRUNCATE)")
        con.executemany(
            "UPDATE docs SET text = ? WHERE doc_id = ?",
            [(str(tx), int(d))
             for d, tx in zip(pdf["doc_id"], pdf["text"])])
        con.commit()
        con.execute("DELETE FROM docs WHERE doc_id % 10 = 3")
        con.commit()
        # copy while the connection is open: close would
        # auto-checkpoint and fold the WAL away
        for src_p, dst_p in ((tmp, path),
                             (tmp + "-wal", path + "-wal")):
            with open(src_p, "rb") as fh:
                with open(dst_p, "wb") as out:
                    out.write(fh.read())
        con.close()
        for leftover in (tmp, tmp + "-wal", tmp + "-shm"):
            if os.path.exists(leftover):
                os.unlink(leftover)

    paths = shard_files(docs, base, "shard-{:08d}.sqlite", write_db)

    from cam_etl_spark.sources.sqlite_file import (
        apply_wal,
        read_table,
    )

    def scan(path):
        img = apply_wal(
            open(path, "rb").read(),
            open(path + "-wal", "rb").read())
        cols, data = read_table(img, "docs")
        assert cols == ["doc_id", "text", "lang"]
        for doc_id, text, lang in data:
            yield {"doc_id": doc_id, "text": text,
                         "lang": lang}

    parsed = map_rows(
        paths, scan, "doc_id long, text string, lang string")
    return parsed.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.octet_length("text")).alias("sum_chars"),
        F.sum("doc_id").alias("sum_doc_id"),
    )


@register(
    "sample_importance_dsir",
    r"""
    WITH tk AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(coalesce(text, ''))),
                         '\s+'), x -> x <> '') AS tk
      FROM documents),
    feats AS (
      SELECT doc_id,
             ('0x' || substr(md5(f), 1, 15))::bigint % 1024 AS b
      FROM (
        SELECT doc_id, unnest(tk) AS f FROM tk
        UNION ALL
        SELECT doc_id,
               unnest(list_transform(range(len(tk) - 1),
                      i -> concat(tk[i+1], ' ', tk[i+2]))) AS f
        FROM tk WHERE len(tk) >= 2)),
    tcnt AS (
      SELECT b, count(*)::bigint AS ct FROM feats
      WHERE doc_id % 9 = 0 GROUP BY b),
    rcnt AS (
      SELECT b, count(*)::bigint AS cr FROM feats
      WHERE doc_id % 9 <> 0 GROUP BY b),
    tot AS (
      SELECT (SELECT coalesce(sum(ct), 0) FROM tcnt) AS nt,
             (SELECT coalesce(sum(cr), 0) FROM rcnt) AS nr),
    scored AS (
      SELECT f.doc_id,
             count(*)::bigint AS n_features,
             sum(ln((coalesce(ct, 0) + 1)::double / (nt + 1024))
                 - ln((coalesce(cr, 0) + 1)::double / (nr + 1024)))
               AS s
      FROM feats f
      LEFT JOIN tcnt USING (b)
      LEFT JOIN rcnt USING (b)
      CROSS JOIN tot
      WHERE f.doc_id % 9 <> 0
      GROUP BY f.doc_id)
    SELECT doc_id, n_features, round(s, 6) AS log_weight
    FROM scored
    ORDER BY round(s, 6) DESC, doc_id ASC
    LIMIT 50
    """,
    tags=["sampling", "dsir", "importance", "lm-score", "A3"],
    plan={
        "TakeOrderedAndProject": (1, None),
        "SortMergeJoin": (0, 0),
        "CartesianProduct": (0, 0),
        "BroadcastHashJoin": (2, 2),
        "BroadcastNestedLoopJoin": (0, 2),
        "Exchange hashpartitioning": (0, 5),
    },
)
def sample_importance_dsir(spark, sf_dir):
    """DSIR-STYLE IMPORTANCE RESAMPLING (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"):
    select raw-pool documents that look like a TARGET seed set. The
    published recipe: hash unigrams+bigrams into B buckets (here
    1024, via the engine's portable 60-bit md5 hash so the oracle
    replays it exactly), fit add-one-smoothed bag-of-ngrams models
    for target (doc_id%9==0) and raw (the rest), and score each raw
    document with its summed log importance weight
    Σ [ln P̂_target(b) − ln P̂_raw(b)]. The deterministic variant
    selects the top-k (k=50) by rounded weight with a doc_id
    tie-break — seeded-Gumbel resampling would be the stochastic
    production twin, but a cross-engine oracle needs a total order,
    and top-k IS the paper's no-temperature limit. At 100 TB: the
    bucket-stat frames are B rows — broadcast joins, never a vocab
    shuffle (the DSIR trick vs raw-vocab LM scoring); one
    doc_id-keyed agg; top-k is a TakeOrdered, never a global sort."""
    from pyspark.sql import functions as F

    from cam_etl_spark.functions.ids import portable_hash60

    d = t(spark, sf_dir, "documents")
    tk = d.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.trim(F.coalesce("text", F.lit("")))),
                    r"\s+"),
            lambda x: x != "",
        ).alias("tk"),
    )
    uni = tk.select("doc_id", F.explode("tk").alias("f"))
    big = tk.filter(F.size("tk") >= 2).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("tk") - 2),
                lambda i: F.concat_ws(
                    " ", F.element_at("tk", i + 1),
                    F.element_at("tk", i + 2)),
            )
        ).alias("f"),
    )
    feats = uni.union(big).select(
        "doc_id",
        F.pmod(portable_hash60(F.col("f")), F.lit(1024)).alias("b"),
    )
    tcnt = feats.filter(F.col("doc_id") % 9 == 0).groupBy("b").agg(
        F.count("*").alias("ct"))
    rcnt = feats.filter(F.col("doc_id") % 9 != 0).groupBy("b").agg(
        F.count("*").alias("cr"))
    tot = tcnt.agg(
        F.coalesce(F.sum("ct"), F.lit(0)).alias("nt")
    ).crossJoin(
        rcnt.agg(F.coalesce(F.sum("cr"), F.lit(0)).alias("nr")))
    lw = (
        F.log((F.coalesce("ct", F.lit(0)) + 1).cast("double")
              / (F.col("nt") + 1024))
        - F.log((F.coalesce("cr", F.lit(0)) + 1).cast("double")
                / (F.col("nr") + 1024))
    )
    scored = (
        feats.filter(F.col("doc_id") % 9 != 0)
        # bucket stats are ≤1024 rows by construction: broadcast,
        # never a vocab-keyed shuffle (the DSIR hashing trick)
        .join(F.broadcast(tcnt), "b", "left")
        .join(F.broadcast(rcnt), "b", "left")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_features"),
             F.sum(lw).alias("s"))
    )
    return (
        scored.select(
            "doc_id", "n_features",
            F.round("s", 6).alias("log_weight"))
        .orderBy(F.col("log_weight").desc(), F.col("doc_id").asc())
        .limit(50)
    )


@register(
    "s78_arrow_ipc_stream_scan",
    f"""
    WITH {doc_sample('doc_id % 11 = 3')}
    {LANG_DOC_STATS},
           sum((2 * ((doc_id % 7 + 0.5) + (doc_id % 11) * 1.5
                     + strlen(text)))::BIGINT)::BIGINT AS sum_emb2,
           sum(doc_id * 3 + 1)::BIGINT AS sum_ts_sec
    FROM src GROUP BY lang
    """,
    tags=["S4", "arrow", "ipc", "feather", "corpus",
          "huggingface"],
    plan=ROLLUP_PLAN,
)
def s78_arrow_ipc_stream_scan(spark, sf_dir):
    """ARROW IPC STREAM SCAN (sources/arrow_ipc.py): the
    Hugging Face `datasets` cache layout — documents as .arrow
    record-batch streams, one shard per task. The REAL Arrow
    (pyarrow, the independent writer) writes the shards; each task
    parses ITS shard through the engine's from-spec reader
    (encapsulated message framing, generic flatbuffers walk,
    Schema.fbs type-union tags, validity/offsets/data buffer
    layout) and cross-checks its rows against pyarrow re-reading
    the same bytes inside the task; the oracle replays the rollup
    relationally, so a vtable slip, a misnumbered union tag, or a
    dropped null shows up as a hash break. Multi-batch shards
    (max_chunksize) exercise batch concatenation. At 100 TB: a
    shard-path DataFrame, one task per .arrow file, zero driver
    bytes."""
    from pyspark.sql import functions as F

    base = fixture_dir(sf_dir, "cam_etl_arrow_ipc_fixture")

    docs = t(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 11 == 3
    ).select(
        "doc_id",
        F.coalesce("text", F.lit("")).alias("text"),
        F.coalesce("lang", F.lit("")).alias("lang"),
    ).repartition(3, F.col("doc_id"))

    def write_shard(pdf, path):
        import datetime as _dt

        import pyarrow as pa

        tbl = pa.table({
            "doc_id": pa.array(pdf["doc_id"], pa.int64()),
            "text": pa.array(pdf["text"], pa.string()),
            # dictionary-encoded (the HF ClassLabel shape) so
            # the DictionaryBatch path is on the scan
            "lang": pa.array(pdf["lang"],
                             pa.string()).dictionary_encode(),
            # list<float32> embedding column (the HF layout for
            # tokens/embeddings): values chosen exact in f32
            # (halves) so the rollup replays relationally
            "emb": pa.array(
                [[d % 7 + 0.5, (d % 11) * 1.5, float(len(tx.encode("utf-8")))]
                 for d, tx in zip(pdf["doc_id"], pdf["text"])],
                pa.list_(pa.float32())),
            # timestamp_us column: the flatbuffers Timestamp
            # walk is hash-gated through the epoch-seconds
            # rollup (seconds = 3*doc_id+1, replayed exactly)
            "ts": pa.array(
                [_dt.datetime(1970, 1, 1)
                 + _dt.timedelta(seconds=int(d) * 3 + 1)
                 for d in pdf["doc_id"]],
                pa.timestamp("us")),
        })
        sink = pa.BufferOutputStream()
        # ZSTD body compression: pyarrow compresses, the scan
        # inflates through the engine's own RFC-8878 decoder
        with pa.ipc.new_stream(
                sink, tbl.schema,
                options=pa.ipc.IpcWriteOptions(
                    compression="zstd")) as w:
            w.write_table(tbl, max_chunksize=7)
        with open(path, "wb") as fh:
            fh.write(sink.getvalue().to_pybytes())

    paths = shard_files(docs, base, "shard-{:08d}.arrow", write_shard)

    import pyarrow as pa
    from cam_etl_spark.sources.arrow_ipc import read_stream

    def scan(path):
        buf = open(path, "rb").read()
        fields, data = read_stream(buf)
        assert [n for n, _ in fields] == \
            ["doc_id", "text", "lang", "emb", "ts"]
        assert fields[3][1] == "list<float32>"
        assert fields[4][1] == "timestamp_us"
        # in-task cross-check against the REAL Arrow
        ref = pa.ipc.open_stream(buf).read_all()
        assert [tuple(r) for r in data] == [
            tuple(ref.column(n)[i].as_py()
                  for n, _ in fields)
            for i in range(ref.num_rows)
        ], path
        for doc_id, text, lang, emb, ts in data:
            # every element is an exact half in f32, so 2×sum
            # is an exact integer both engines agree on
            epoch = __import__("datetime").datetime(
                1970, 1, 1)
            yield {
                "doc_id": doc_id, "text": text,
                "lang": lang,
                "emb2": int(round(2 * sum(emb))),
                "ts_sec": int((ts - epoch).total_seconds()),
            }

    parsed = map_rows(
        paths, scan, "doc_id long, text string, lang string, emb2 long, "
              "ts_sec long")
    return parsed.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.octet_length("text")).alias("sum_bytes"),
        F.sum("doc_id").alias("sum_doc_id"),
        F.sum("emb2").alias("sum_emb2"),
        F.sum("ts_sec").alias("sum_ts_sec"),
    )


@register(
    "s79_arrow_ipc_sink_roundtrip",
    f"""
    WITH {doc_sample('doc_id % 9 = 2')}
    {LANG_DOC_STATS},
           sum((2 * (doc_id % 13 + 0.5))::BIGINT)::BIGINT
             AS sum_score2
    FROM src GROUP BY lang
    """,
    tags=["S10", "arrow", "ipc", "sink", "corpus"],
    plan=ROLLUP_PLAN,
)
def s79_arrow_ipc_sink_roundtrip(spark, sf_dir):
    """ARROW IPC SINK ROUND-TRIP
    (sources/arrow_ipc_write.py): the engine WRITES .arrow shards
    with hand-built flatbuffers (no Arrow library in the write
    path) — the jsonl→arrow conversion a corpus team runs before
    handing data to trainers. Each task serializes ITS partition,
    the REAL Arrow (pyarrow, flatbuffers verifier included)
    re-reads the bytes in-task as the referee, the engine's own
    reader re-scans the shards, and the rollup replays relationally
    — a vtable slip, a wrong union tag, or a misaligned buffer
    fails pyarrow's verifier or breaks the hash. At 100 TB: one
    writer task per shard, one reader task per shard, zero driver
    bytes."""
    from pyspark.sql import functions as F

    base = fixture_dir(sf_dir, "cam_etl_arrow_sink_fixture")

    docs = t(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 9 == 2
    ).select(
        "doc_id",
        F.coalesce("text", F.lit("")).alias("text"),
        F.coalesce("lang", F.lit("")).alias("lang"),
        # exact halves so the float column replays relationally
        ((F.col("doc_id") % 13) + 0.5).alias("score"),
    ).repartition(3, F.col("doc_id"))

    def write_shard(pdf, path):
        import pyarrow as pa

        from cam_etl_spark.sources.arrow_ipc_write import (
            write_stream,
        )

        fields = [("doc_id", "int64"), ("text", "utf8"),
                  ("lang", "utf8"), ("score", "float64")]

        cols = [
            [int(v) for v in pdf["doc_id"]],
            [str(v) for v in pdf["text"]],
            [str(v) for v in pdf["lang"]],
            [float(v) for v in pdf["score"]],
        ]
        # two batches per shard: multi-batch framing on the sink
        half = max(1, len(pdf) // 2)
        buf = write_stream(
            fields,
            [[c[:half] for c in cols], [c[half:] for c in cols]])
        # in-task referee: the REAL Arrow reads the engine bytes
        ref = pa.ipc.open_stream(buf).read_all()
        assert ref.num_rows == len(pdf)
        assert ref.column("doc_id").to_pylist() == cols[0]
        assert ref.column("text").to_pylist() == cols[1]
        assert ref.column("score").to_pylist() == cols[3]
        with open(path, "wb") as fh:
            fh.write(buf)

    paths = shard_files(docs, base, "shard-{:08d}.arrow", write_shard)

    from cam_etl_spark.sources.arrow_ipc import read_stream

    def scan(path):
        _fields, data = read_stream(open(path, "rb").read())
        for doc_id, text, lang, score in data:
            yield {
                "doc_id": doc_id, "text": text,
                "lang": lang,
                "score2": int(round(2 * score)),
            }

    parsed = map_rows(
        paths, scan, "doc_id long, text string, lang string, score2 long")
    return parsed.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.octet_length("text")).alias("sum_bytes"),
        F.sum("doc_id").alias("sum_doc_id"),
        F.sum("score2").alias("sum_score2"),
    )


@register(
    "text_line_dedup_c4",
    r"""
    WITH tk AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(coalesce(text, '')),
                         '\s+'), x -> x <> '') AS tk
      FROM documents),
    lines AS (
      SELECT doc_id, i AS idx,
             array_to_string(tk[i*10+1 : i*10+10], ' ') AS line
      FROM tk,
           unnest(range(CAST(ceil(len(tk) / 10.0) AS BIGINT)))
             AS u(i)
      WHERE len(tk) > 0),
    ranked AS (
      SELECT doc_id, idx, line,
             row_number() OVER (PARTITION BY line
                                ORDER BY doc_id, idx) AS rn
      FROM lines),
    kept AS (SELECT * FROM ranked WHERE rn = 1),
    rebuilt AS (
      SELECT doc_id, count(*)::BIGINT AS n_kept,
             string_agg(line, chr(10) ORDER BY idx) AS txt
      FROM kept GROUP BY doc_id),
    totals AS (
      SELECT doc_id, count(*)::BIGINT AS n_lines
      FROM lines GROUP BY doc_id)
    SELECT doc_id, n_kept,
           (n_lines - n_kept)::BIGINT AS n_dropped,
           md5(txt) AS rebuilt_md5
    FROM rebuilt JOIN totals USING (doc_id)
    """,
    tags=["text-quality", "dedup-exact", "c4", "corpus", "A4"],
    plan={
        "CartesianProduct": (0, 0),
        "BroadcastNestedLoopJoin": (0, 0),
        "Exchange hashpartitioning": (0, 4),
    },
)
def text_line_dedup_c4(spark, sf_dir):
    """C4-STYLE GLOBAL LINE DEDUP (Raffel et al. 2020's
    famous preprocessing: repeated spans are removed ACROSS the
    whole dataset, keeping only the first occurrence): boilerplate
    lines (cookie banners, nav text, license headers) recur across
    millions of pages and survive document-level dedup, so the unit
    is the LINE, keyed globally. The corpus text is single-line
    prose, so the fixture forms lines NATIVELY (10-word spans —
    exactly the n-gram-span flavor of the published rule), then:
    one shuffle keyed on the line to rank occurrences
    (first = (doc_id, idx) order, deterministic), keep rn=1, and
    one doc_id-keyed shuffle to reassemble documents in line order.
    The rebuilt text is byte-pinned via md5 — a dropped or
    mis-ordered line anywhere breaks the hash. At 100 TB: two
    shuffles total (line-key + doc-key), both with map-side partial
    work; never an all-pairs comparison, and the line-key shuffle
    is exactly how the original C4 pipeline scaled."""
    from pyspark.sql import functions as F

    d = t(spark, sf_dir, "documents")
    tk = d.select(
        "doc_id",
        F.filter(
            F.split(F.trim(F.coalesce("text", F.lit(""))), r"\s+"),
            lambda x: x != "",
        ).alias("tk"),
    ).filter(F.size("tk") > 0)
    n_lines = F.ceil(F.size("tk") / 10.0).cast("int")
    lines = tk.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_lines - 1),
                lambda i: F.array_join(
                    F.slice("tk", i * 10 + 1, 10), " "),
            )
        ).alias("idx", "line"),
    )
    w = Window.partitionBy("line").orderBy("doc_id", "idx")
    ranked = lines.withColumn("rn", F.row_number().over(w))
    totals = lines.groupBy("doc_id").agg(
        F.count("*").alias("n_lines"))
    rebuilt = (
        ranked.filter(F.col("rn") == 1)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("idx", "line"))),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("txt"),
        )
    )
    return rebuilt.join(totals, "doc_id").select(
        "doc_id", "n_kept",
        (F.col("n_lines") - F.col("n_kept")).alias("n_dropped"),
        F.md5("txt").alias("rebuilt_md5"),
    )
