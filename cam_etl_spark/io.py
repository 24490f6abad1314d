"""Sources and sinks.

The reference ingests Postgres tables (all columns ``text``) through
server-side cursors / JDBC subqueries (SURVEY S1-S2,
/root/reference/cam/etl/__init__.py:34-52), CSVs with a NUL-scrub pre-pass
(S3, /root/reference/addressdb/remove_null_terminator_char.py:1-22) and
writes N-Quads part files (S7). Here every source is a DataFrame reader with
an explicit schema so Catalyst can push filters and prune columns, and the
N-Quads sink is a formatted-text write of the deduplicated quad table.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Per-session memo of the ANALYZED SCAN PLAN (a DataFrame object), not of
# any result: composed queries call load_table for the same table many
# times per build (etl_end_to_end_counts: 14 loads), and every
# spark.read.parquet re-lists the directory and re-reads footers on the
# JVM (~100 ms each) plus a py4j roundtrip storm. Re-using the DataFrame
# reuses that file-listing/schema work exactly like guide §6's
# filesourcePartitionFileCacheSize does for catalog tables; every action
# on it still scans the parquet bytes from disk. The memo dict lives as
# an ATTRIBUTE on the SparkSession object (not a module-level
# WeakKeyDictionary: the cached DataFrames hold a strong reference back
# to their session, so weak-key eviction could never fire — the
# documented weakref pitfall; as a session attribute the whole
# session→dict→DataFrame→session cycle is collected by the gc when the
# session is dropped, and a restarted session starts empty).


def _session_cache(spark: SparkSession, attr: str) -> dict:
    cache = getattr(spark, attr, None)
    if cache is None:
        cache = {}
        setattr(spark, attr, cache)
    return cache


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic testdata table (parquet) by name.

    ``events.ts`` has been generated both as parquet TIMESTAMP(NANOS)
    (which Spark's vectorized reader rejects — read as raw nanos via the
    legacy conf and truncate) and as naive TIMESTAMP(MICROS) (which Spark 4
    reads as TIMESTAMP_NTZ — no watermarks, no epoch casts). Normalize both
    to a session-tz TIMESTAMP; the session runs UTC, so the wall-clock
    values stay identical to what DuckDB/pyarrow read.
    """
    cache = _session_cache(spark, "_cam_etl_table_plans")
    key = (os.path.abspath(sf_dir), name)
    hit = cache.get(key)
    if hit is not None:
        return hit
    df = _load_table_uncached(spark, sf_dir, name)
    cache[key] = df
    return df


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # integer DIV, not floor(double /): a double quotient can round
            # up across the next microsecond at ~1e15 ns, off-by-one vs
            # DuckDB/pyarrow truncation
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(path)


def scan_partitions(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Partition count of a table's scan, memoized per session. The
    ``df.rdd`` conversion behind getNumPartitions compiles the plan to an
    RDD on the JVM (~100-200 ms) — callers that only need the SPLIT COUNT
    of a base scan (the widen-to-cluster-width checks) must not pay that
    per query build. Narrow ops (filter/select) preserve the count, so
    the scan's number answers for them too."""
    cache = _session_cache(spark, "_cam_etl_scan_parts")
    key = (os.path.abspath(sf_dir), name)
    hit = cache.get(key)
    if hit is None:
        hit = cache[key] = load_table(spark, sf_dir, name).rdd.getNumPartitions()
    return hit


def unpersist_checkpoint(df: DataFrame) -> None:
    """Release the block-manager storage behind a SUPERSEDED
    ``localCheckpoint`` frame. Iterative operators (pagerank, pointer
    doubling, Lloyd's k-means) checkpoint once per round; each round's
    blocks are dead the moment the next round's eager checkpoint has
    materialized, but they sit in the block manager until a JVM GC lets
    the ContextCleaner notice (measured r14: 4 → 28 cached RDDs over 12
    pagerank runs). Call this on the OLD frame right after the NEW
    checkpoint is materialized — never on a frame any returned plan
    still references.

    Best-effort by design: it reaches through the analyzed plan to the
    checkpoint RDD (a LogicalRDD), and quietly does nothing on any other
    plan shape or py4j surprise — correctness never depends on it."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:
        pass


def checkpoint_observed(df: DataFrame, **metrics: Column) -> tuple[DataFrame, dict]:
    """Eager ``localCheckpoint`` of ``df`` plus the values of ``metrics``
    (name -> aggregate Column over its rows), in ONE SQL execution: the
    aggregates are observed metrics of the checkpoint's own jobs, so an
    iterative operator's convergence test or global scalar needs no probe
    action of its own. Only an EAGER checkpoint fills them: a lazy one's
    execution ends before its rows are computed, and the metrics read 0.
    Each call observes through a fresh ``Observation`` (one may be used
    once). When the plan raises, the checkpoint raises and the metrics are
    never waited for."""
    obs = Observation()
    out = df.observe(obs, *(c.alias(k) for k, c in metrics.items())).localCheckpoint(eager=True)
    return out, obs.get


def local_values_df(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """JVM LocalRelation from BOUNDED driver-side rows (a VALUES literal
    parsed in one call). ``spark.createDataFrame(rows, ...)`` builds a
    frame over a PICKLED PYTHON RDD (`applySchemaToPythonRDD`): every
    downstream task of every action round-trips a Python worker, so even
    a 3-row result frame costs seconds once a sort's range-sampling +
    shuffle fan it across default parallelism (measured: mmr_select's
    3-row ORDER BY executed 64 Python-worker tasks, ~1.2 s per noop run).
    A VALUES literal plans as LocalRelation — pure JVM, no workers; an
    empty ``rows`` keeps the schema and plans the same way.

    Value fidelity: ints are exact (bool and non-integral values are
    rejected, matching createDataFrame's fail-fast — int(v) would
    silently truncate a float); doubles go through repr() (shortest
    round-trip decimal) and a string->double CAST (Java parseDouble
    returns the nearest double = the identical bits); strings escape
    backslash and quote, which requires the default
    spark.sql.parser.escapedStringLiterals=false (asserted below when an
    escape is actually emitted). Only use for a BOUNDED row count
    (result/parameter/broadcast rows — values may be corpus-derived, but
    the row count must be bounded by a parameter, never by corpus size).
    """
    import math
    import operator

    cols = [c.strip().rsplit(" ", 1) for c in schema.split(",")]
    types = [t.strip().lower() for _, t in cols]
    # VALUES needs a row: the empty frame is one typed NULL row filtered
    # out, which still plans as an (empty) LocalRelation
    where = "" if rows else " WHERE false"
    rows = rows or [(None,) * len(cols)]

    def intlit(v) -> int:
        if isinstance(v, bool):
            raise ValueError(f"local_values_df: bool {v!r} for an int column")
        try:
            return operator.index(v)  # ints & integer-likes; floats raise
        except TypeError:
            raise ValueError(
                f"local_values_df: non-integral {v!r} for an int column"
            ) from None

    def lit(v, t: str) -> str:
        if v is None:
            return f"CAST(NULL AS {t.upper()})"
        if t in ("int", "integer"):
            return f"CAST({intlit(v)} AS INT)"
        if t in ("bigint", "long"):
            return f"CAST({intlit(v)} AS BIGINT)"
        if t == "double":
            f = float(v)
            if math.isnan(f):
                return "CAST('NaN' AS DOUBLE)"
            if math.isinf(f):
                return f"CAST('{'-' if f < 0 else ''}Infinity' AS DOUBLE)"
            return f"CAST('{f!r}' AS DOUBLE)"
        if t == "string":
            s = str(v)
            if ("\\" in s or "'" in s) and not _escapes_ok(spark):
                # under escapedStringLiterals=true the backslash escapes
                # below would be read back literally — corrupt silently
                raise ValueError(
                    "local_values_df: string needs escaping but "
                    "spark.sql.parser.escapedStringLiterals=true is set"
                )
            s = s.replace("\\", "\\\\").replace("'", "\\'")
            return f"'{s}'"
        raise ValueError(f"local_values_df: unsupported type {t!r}")

    def _escapes_ok(spark: SparkSession) -> bool:
        # one conf round-trip per session, only when an escape is emitted
        ok = getattr(spark, "_cam_etl_escaped_literals_ok", None)
        if ok is None:
            ok = (
                spark.conf.get(
                    "spark.sql.parser.escapedStringLiterals", "false"
                ).lower()
                == "false"
            )
            spark._cam_etl_escaped_literals_ok = ok
        return ok

    vals = ", ".join(
        "(" + ", ".join(lit(v, t) for v, t in zip(r, types)) + ")" for r in rows
    )
    names = ", ".join(n.strip() for n, _ in cols)
    return spark.sql(f"SELECT * FROM (VALUES {vals}) AS t({names}){where}")


def read_csv_stringly(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """CSV source matching the reference's "every column is text" model
    (SURVEY §1.1, /root/reference/etl-notes.md:30) with NUL-char scrub
    (/root/reference/addressdb/remove_null_terminator_char.py:13-17) applied
    as an expression instead of a file pre-pass.
    """
    reader = spark.read.option("header", True)
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.csv(path)
    scrubbed = [
        F.regexp_replace(F.col(c), "\x00", "").alias(c) if dt == "string" else F.col(c)
        for c, dt in df.dtypes
    ]
    return df.select(*scrubbed)


def jdbc_partition_predicates(
    partition_column: str,
    lower_bound: int,
    upper_bound: int,
    num_partitions: int,
) -> list[str]:
    """Compute the per-partition WHERE clauses a partitioned JDBC scan issues.

    Mirrors Spark's ``JDBCRelation.columnPartition`` contract so the
    partitioning is testable without a live database (SURVEY S1,
    /root/reference/cam/etl/__init__.py:34-52 does the same slicing by hand
    with OFFSET/LIMIT batches of 10k —
    /root/reference/cam/etl/settings.py:30):

    - numPartitions clamps to (upper - lower) when the range is narrower,
    - stride = trunc(upper/num) - trunc(lower/num) — Spark's exact formula
      (Scala Long division truncates toward zero), NOT (upper-lower)/num;
      the two differ whenever lower_bound is not a multiple of num,
    - first slice is unbounded below (``col < b1 OR col IS NULL``) and the
      last unbounded above, so rows OUTSIDE [lowerBound, upperBound) are
      still read — bounds shape parallelism, they are not a filter,
    - NULL keys land in the first slice exactly once.

    Together the clauses form a disjoint cover of the whole table: every row
    matches exactly one predicate, which is the invariant the unit tests
    assert (a row read twice double-counts; a row read zero times is data
    loss).
    """
    if num_partitions <= 1 or upper_bound <= lower_bound:
        return ["1=1"]
    num = min(num_partitions, upper_bound - lower_bound)
    if num <= 1:
        return ["1=1"]

    def trunc_div(a: int, b: int) -> int:  # Scala/Java Long division
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b > 0) else -q

    stride = trunc_div(upper_bound, num) - trunc_div(lower_bound, num)
    col = partition_column
    preds = []
    bound = lower_bound
    for i in range(num):
        lo = f"{col} >= {bound}"
        bound += stride
        hi = f"{col} < {bound}"
        if i == 0:
            preds.append(f"{hi} OR {col} IS NULL")
        elif i == num - 1:
            preds.append(lo)
        else:
            preds.append(f"{lo} AND {hi}")
    return preds


def jdbc_subquery(sql: str, alias: str = "subq") -> str:
    """Wrap an extraction SQL query as a JDBC derived table (SURVEY S2).

    The reference pushes whole extraction queries into Postgres
    (/root/reference/cam/tables/__init__.py:16-25); Spark's equivalent is
    ``dbtable = (SELECT ...) alias`` — the database plans the subquery and
    Spark layers partitioning/pushdown on top of the derived table.
    """
    body = sql.strip().rstrip(";")
    return f"({body}) {alias}"


def jdbc_scan_options(
    url: str,
    table_or_sql: str,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int = 0,
    upper_bound: int = 1_000_000,
    fetchsize: int = 10_000,
    pushdown_predicate: str | None = None,
) -> dict[str, str]:
    """Build the full option map for a partitioned JDBC scan.

    Pure (no SparkSession, no driver jar) so S1/S2 behavior is unit-testable
    in this harness: option names/values are exactly what
    ``spark.read.format("jdbc").options(**...)`` consumes. ``fetchsize``
    defaults to the reference's cursor batch size
    (/root/reference/cam/etl/settings.py:30). A ``pushdown_predicate`` is
    folded into the derived table so the database evaluates it.
    """
    # word-boundary match: a TABLE named "selected_addresses" or
    # "withdrawals" must not be mistaken for a query
    sql_like = bool(re.match(r"^\s*(SELECT|WITH)\b", table_or_sql, re.IGNORECASE))
    dbtable = jdbc_subquery(table_or_sql) if sql_like else table_or_sql
    if pushdown_predicate:
        inner = dbtable if sql_like else f"(SELECT * FROM {dbtable}) t"
        dbtable = f"(SELECT * FROM {inner} WHERE {pushdown_predicate}) f"
    opts = {"url": url, "dbtable": dbtable, "fetchsize": str(fetchsize)}
    if partition_column is not None:
        opts.update(
            partitionColumn=partition_column,
            numPartitions=str(num_partitions),
            lowerBound=str(lower_bound),
            upperBound=str(upper_bound),
        )
    return opts


def read_jdbc_partitioned(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    **options: str,
) -> DataFrame:
    """JDBC source replacing the reference's manual 10k-row batching
    (/root/reference/cam/etl/settings.py:30): Spark's partitioned JDBC scan
    gives the same streaming/bounded-memory behavior with parallel readers.
    """
    opts = jdbc_scan_options(
        url,
        table,
        partition_column=partition_column,
        num_partitions=num_partitions,
        lower_bound=lower_bound if lower_bound is not None else 0,
        upper_bound=upper_bound if upper_bound is not None else 1_000_000,
    )
    opts.update(options)
    return spark.read.format("jdbc").options(**opts).load()


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """CSV sink (SURVEY S10, /root/reference/get_geocodes_as_csv_for_esri.py:44-110)."""
    df.write.mode(mode).option("header", True).csv(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str] | str,
    num_buckets: int = 32,
    sort_cols: list[str] | str | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed parquet table (Spark-native bucketing, not Hive): rows are
    hash-partitioned into ``num_buckets`` files per partition on write, and
    the layout is recorded in the catalog. Joins and aggregations keyed on
    the bucket columns between same-bucketed tables then plan WITHOUT an
    Exchange — the shuffle is paid once at write time instead of on every
    query. This is the 100 TB answer for fact⋈fact joins that repeat on a
    stable key (the reference re-joins address⋈site⋈parcel in every
    extraction script): bucket all three on the shared key and every
    downstream join is a zipped per-bucket merge.

    ``sort_cols`` additionally sorts within each bucket file so sort-merge
    joins skip their sort too. ``path`` makes the table external (data at
    the given location; the catalog entry is just metadata)."""
    bucket_cols = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    w = df.write.mode(mode).format("parquet").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        sort_cols = [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
        w = w.sortBy(*sort_cols)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def write_compacted(
    df: DataFrame,
    path: str,
    target_mb: int = 128,
    partition_by: list[str] | str | None = None,
    mode: str = "overwrite",
) -> None:
    """Parquet write compacted to ~``target_mb`` files — the small-files
    fix for a 100 TB sink (a fan-out like the reference's per-10k-row-job
    ``.nq`` files, /root/reference/etl_lalf_address.py:688-690, becomes
    millions of KB-files at scale and chokes both the namenode and every
    downstream scan).

    Mechanism: a REBALANCE hint + AQE's advisoryPartitionSizeInBytes —
    AQE inserts a round-robin-ish exchange and then both COALESCES tiny
    output partitions and SPLITS skewed ones to the advisory size at
    runtime, using the real (not estimated) shuffle statistics. That is
    strictly better than a hand-computed ``repartition(n)``: n computed
    from plan-stats is wrong whenever the upstream filter selectivity is
    (always), and a plain coalesce can't split a skewed partition.

    With ``partition_by``, rebalancing keys on the partition columns so
    each output directory gets its own right-sized file set.
    """
    spark = df.sparkSession
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    old = spark.conf.get(key, None)
    spark.conf.set(key, str(target_mb * 1024 * 1024))
    try:
        if partition_by:
            cols = [partition_by] if isinstance(partition_by, str) else list(partition_by)
            out = df.hint("rebalance", *cols)
            out.write.mode(mode).partitionBy(*cols).parquet(path)
        else:
            out = df.hint("rebalance")
            out.write.mode(mode).parquet(path)
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
