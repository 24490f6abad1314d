"""Physical-plan shape checks. Token-count budgets live on each query's
``@register(..., plan=...)`` and are checked here by one parametrized
test (``catalog.plan_violations``); the tests below pin what a count on
the default-conf plan cannot: a token's position, a domain, a helper's
laziness, and the at-scale plans with broadcast off."""

import pytest

from cam_etl_spark.plans import QUERIES
from cam_etl_spark.plans.catalog import plan_violations


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", [n for n, q in QUERIES.items() if q.plan])
def test_plan_budget(spark, sf_dir, name):
    q = QUERIES[name]
    assert plan_violations(q, _plan(q.spark(spark, sf_dir))) == []


def test_bench_queries_declare_budgets():
    assert [n for n, q in QUERIES.items() if q.bench and q.plan is None] == []


def test_codec_sample_gate_pushed_to_scan(spark, sf_dir):
    """The codec decodes pre-filter their sample gate on the JVM side
    (DataFilters on the scan), so only the decoded 1/N of rows crosses
    the Arrow boundary."""
    for name in (
        "multimodal_mpeg_pcm_synthesis",
        "multimodal_mp3_bigvalues_decode",
        "multimodal_mp3_full_decode",
    ):
        plan = _plan(QUERIES[name].spark(spark, sf_dir))
        assert "% " in plan.split("FileScan")[1][:400], name


def test_etl_dictionary_encode_domain_pin(spark, sf_dir):
    """The etl_end_to_end_counts dictionary encode is injective ONLY while
    ETL_*_CODES cover every literal the fan-out templates emit (an
    unmapped value would encode to NULL and dropDuplicates merges NULLs).
    Pin both halves: (1) every value the composed quad union actually
    produces is mapped; (2) the CASE's ELSE raise_error guard fires
    loudly on an unmapped value, so a template added without a code can
    never silently merge at any scale."""
    from pyspark.sql import functions as F

    from cam_etl_spark.pipelines.address import address_quads
    from cam_etl_spark.plans.surface import (
        ETL_DT_CODES,
        ETL_GRAPH_CODES,
        ETL_PRED_CODES,
        _etl_code_sql,
        t3_road_vocab_fanout,
        t7_name_fanout,
    )

    addr = address_quads(spark, sf_dir, dedup=False).select(
        "graph", "predicate", "object_datatype"
    )
    roads = t3_road_vocab_fanout(spark, sf_dir).select(
        F.lit("urn:example:graph:roads").alias("graph"),
        "predicate",
        F.lit(None).cast("string").alias("object_datatype"),
    )
    names = t7_name_fanout(spark, sf_dir).select(
        F.lit("urn:example:graph:names").alias("graph"),
        "predicate",
        "object_datatype",
    )
    quads = addr.unionByName(roads).unionByName(names)
    observed = quads.agg(
        F.collect_set("graph").alias("g"),
        F.collect_set("predicate").alias("p"),
        F.collect_set("object_datatype").alias("d"),
    ).first()
    assert set(observed["g"]) <= set(ETL_GRAPH_CODES), "unmapped graph literal"
    assert set(observed["p"]) <= set(ETL_PRED_CODES), "unmapped predicate literal"
    assert set(observed["d"]) <= set(ETL_DT_CODES), "unmapped datatype literal"
    # at sf0.001 every unconditional template fires; conditional ones
    # (missing-flag, unit/street guards) may be empty — subset is the
    # invariant, near-coverage is the sanity floor
    assert len(observed["p"]) >= 10

    # (2) the loud ELSE: an unmapped non-null value must raise, not NULL
    bogus = spark.range(1).selectExpr("'urn:bogus:graph' AS graph")
    with pytest.raises(Exception, match="unmapped graph"):
        bogus.selectExpr(
            _etl_code_sql("graph", ETL_GRAPH_CODES, 0) + " AS g"
        ).collect()


def test_substring_spans_scan_side_pushdown(spark, sf_dir):
    """The gram pipeline reads only (doc_id, text): column pruning must
    reach the parquet scan."""
    plan = _plan(QUERIES["dedup_substring_spans"].spark(spark, sf_dir))
    assert "ReadSchema" in plan
    read = plan[plan.index("ReadSchema"):].splitlines()[0]
    assert "text" in read and "lang" not in read, read


def test_widen_is_conditional(spark):
    """widen() must add a round-robin exchange ONLY for scans narrower
    than the cluster width — at real scale (>= cores splits) the plan is
    untouched, so the helper can never become a 100 TB full-table
    shuffle."""
    from cam_etl_spark.plans.catalog import widen

    par = spark.sparkContext.defaultParallelism
    narrow = spark.range(1000).coalesce(1)
    wide = spark.range(1000).repartition(par)
    assert widen(narrow).rdd.getNumPartitions() == par
    # already at cluster width: same object back, no exchange added
    assert widen(wide) is wide


def test_incremental_lsh_persisted_index_no_exchange(spark, sf_dir):
    """The corpus-delta dedup's 100 TB contract: the PERSISTED band
    index joins through its bucketed layout — no Exchange ever lands
    on the corpus side. At fixture scale AQE rightly broadcasts the
    tiny index, so pin the at-scale shape with broadcast off: the
    index FileScan feeds the sort-merge join via its 8 buckets
    (SelectedBucketsCount) while only the NEW batch (1) and the
    candidate distinct (1) shuffle."""
    QUERIES["dedup_incremental_lsh"].spark(spark, sf_dir)  # build tables
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _plan(QUERIES["dedup_incremental_lsh"].spark(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "Bucketed: true" in plan
    assert "SelectedBucketsCount: 8 out of 8" in plan
    assert "SortMergeJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 2
    assert "CartesianProduct" not in plan


def test_corpus_end_to_end_plan_shape(spark, sf_dir):
    """The composed training-data pipeline (round 14): no cartesian
    anywhere; the persisted prior-corpus band index reads through its
    bucketed layout (SelectedBucketsCount — never an Exchange on the
    corpus side at scale, pinned with broadcast off like the
    incremental-LSH entry); the ingest→extract→gate path is
    checkpointed ONCE so the Arrow pass never re-executes for the
    dedup's two consumers."""
    QUERIES["corpus_end_to_end"].spark(spark, sf_dir)  # build tables
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _plan(QUERIES["corpus_end_to_end"].spark(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Bucketed: true" in plan
    assert "SelectedBucketsCount: 8 out of 8" in plan


def test_stream_incremental_kernel_no_exchange_on_index(spark, sf_dir):
    """The streaming twin shares dedup_batch_against_index with the
    batch entry, so the per-micro-batch plan is the batch plan: the
    persisted band index reads through its 8 buckets with zero
    Exchange on the corpus side (broadcast off = the at-scale shape).
    Pinned here over a static batch — foreachBatch hands the kernel
    an ordinary DataFrame, so this IS the micro-batch plan."""
    from pyspark.sql import functions as F

    from cam_etl_spark.operators.dedup import dedup_batch_against_index
    from cam_etl_spark.plans.catalog import t as load

    QUERIES["stream_dedup_incremental"].spark(spark, sf_dir)  # day-0 build
    import os
    sfx = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    batch = load(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 5 == 0
    ).select("doc_id", F.coalesce("text", F.lit("")).alias("text"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _plan(dedup_batch_against_index(
            batch,
            spark.table(f"stream_inc_lsh_index_{sfx}"),
            spark.table(f"stream_inc_lsh_sets_{sfx}")))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "Bucketed: true" in plan
    assert "SelectedBucketsCount: 8 out of 8" in plan
    assert "SortMergeJoin" in plan
    assert "CartesianProduct" not in plan
