"""SparkSession builder tuned for this engine.

Local testing runs on local[N]; the configs are chosen so the same plans
scale to a real cluster: AQE for runtime re-planning (skew joins, partition
coalescing), Arrow for the few Pandas-UDF paths, UTC session time so
timestamp semantics are deterministic across engines.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "cam_etl_spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # PySpark 4 captures the Python call site (a stack walk + origin
        # push) on EVERY DataFrame/Column API call for error enrichment
        # by default. The quad fan-out builders make thousands of such
        # calls per query build; the capture showed up as ~0.8 s of
        # getActiveSession/stack-inspect time in a cProfile of one build
        # (guide §4: the Python-JVM boundary is per-call overhead).
        # Purely diagnostic — disabling changes no query result.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # The default whole-stage-codegen class cache holds 100 compiled
        # units; a session that alternates the full catalog (bench: 36
        # queries x several codegen units each) evicts and re-JITs every
        # pass. Purely a JVM-compile cache — plans and results unchanged.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        # NOTE: runtime bloom-filter pushdown is ON here — it is Spark 4's
        # DEFAULT (spark.sql.optimizer.runtime.bloomFilter.enabled=true,
        # creation-side threshold 10 MB). The round-2 "hang" attributed to
        # it was root-caused in round 4 (SCALE.md §Runtime filters, by
        # stubbing PySpark's exception converter): the experiment also set
        # spark.sql.optimizer.runtimeFilter.semiJoinReduction.enabled,
        # which was REMOVED in Spark 4.0.0 — any session carrying it
        # throws AnalysisException on first SessionState use, and
        # PySpark 4.1's exception-conversion layer livelocks rendering
        # that error (CapturedException.__str__ needs SessionState →
        # throws again → unbounded convert_exception recursion; jstack
        # shows the py4j thread spinning in classloader lookups). Never a
        # bloom-filter or planner issue. Do NOT set removed confs.
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
