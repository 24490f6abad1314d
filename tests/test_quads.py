"""Quad model: fan-out, dedup set-semantics, N-Quads round-trip (SURVEY
§1.2-1.3, S7, U2)."""

from pyspark.sql import functions as F


def _sample_quads(spark):
    from cam_etl_spark.quads import fan_out_sql, quad_sql

    df = spark.createDataFrame(
        [(1, "Alice", 10.5), (2, 'Bo"b\n', None)], "id long, name string, bal double"
    )
    subj = "format_string('https://example.org/c/%s', id)"
    g = "urn:g:test"
    return fan_out_sql(
        df,
        quad_sql(subj, "https://schema.org/name", "name", "literal", graph=g),
        quad_sql(
            subj,
            "https://schema.org/balance",
            "CAST(bal AS STRING)",
            "literal",
            object_datatype="http://www.w3.org/2001/XMLSchema#decimal",
            graph=g,
            cond="bal IS NOT NULL",
        ),
        quad_sql(subj, "https://example.org/p/lang", "'hi'", "literal", object_lang="en", graph=g),
    )


def test_fanout_null_guard(spark):
    quads = _sample_quads(spark)
    rows = quads.collect()
    # 2 names + 1 balance (null-guarded) + 2 lang literals
    assert len(rows) == 5
    assert quads.filter(F.col("predicate") == "https://schema.org/balance").count() == 1


def test_dedup_set_semantics(spark):
    from cam_etl_spark.quads import dedup_quads

    quads = _sample_quads(spark)
    doubled = quads.unionByName(quads)
    assert dedup_quads(doubled).count() == quads.count()


def test_nquads_roundtrip(spark, tmp_path):
    from cam_etl_spark.quads import QUAD_COLS, read_nquads, to_nquads_lines, write_nquads

    quads = _sample_quads(spark)
    lines = to_nquads_lines(quads).collect()
    assert all(line["value"].endswith(" .") for line in lines)
    escaped = [l["value"] for l in lines if '\\n' in l["value"]]
    assert escaped, "newline in literal must be escaped"

    out = str(tmp_path / "nq")
    write_nquads(quads, out)
    back = read_nquads(spark, out)
    orig = {tuple(r[c] for c in QUAD_COLS) for r in quads.collect()}
    got = {tuple(r[c] for c in QUAD_COLS) for r in back.collect()}
    assert got == orig


def test_lang_and_datatype_rendering(spark):
    from cam_etl_spark.quads import to_nquads_lines

    quads = _sample_quads(spark)
    lines = [l["value"] for l in to_nquads_lines(quads).collect()]
    assert any('"hi"@en' in l for l in lines)
    assert any('^^<http://www.w3.org/2001/XMLSchema#decimal>' in l for l in lines)


def test_wkt_point_round_trip(spark):
    from pyspark.sql import functions as F

    from cam_etl_spark.functions.spatial import parse_wkt_point, wkt_point

    df = spark.createDataFrame(
        [(1, 152.5, -27.25), (2, -0.1, 51.5), (3, 0.0, 0.0)], "id long, lon double, lat double"
    )
    w = df.select("id", wkt_point(F.col("lon"), F.col("lat")).alias("wkt"))
    lon, lat = parse_wkt_point(F.col("wkt"))
    back = {r["id"]: (r["lon"], r["lat"]) for r in w.select("id", lon.alias("lon"), lat.alias("lat")).collect()}
    assert back == {1: (152.5, -27.25), 2: (-0.1, 51.5), 3: (0.0, 0.0)}
    # malformed / non-point WKT parses to NULL, never an ANSI cast error
    bad = spark.createDataFrame(
        [(1, "LINESTRING (0 0, 1 1)"), (2, "garbage"), (3, None)], "id long, wkt string"
    )
    lon2, lat2 = parse_wkt_point(F.col("wkt"))
    got = bad.select(lon2.alias("lon"), lat2.alias("lat")).collect()
    assert all(r["lon"] is None and r["lat"] is None for r in got)


def test_quads_parquet_graph_partition_pruning(spark, tmp_path):
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from cam_etl_spark.quads import read_quads_parquet, write_quads_parquet

    rows = [
        ("s1", "p", "o1", "iri", None, None, "urn:g:a"),
        ("s1", "p", "o1", "iri", None, None, "urn:g:a"),  # dup -> dedup on write
        ("s2", "p", "o2", "iri", None, None, "urn:g:b"),
    ]
    quads = spark.createDataFrame(
        rows,
        "subject string, predicate string, object_value string, object_kind string,"
        "object_datatype string, object_lang string, graph string",
    )
    path = str(tmp_path / "quads")
    write_quads_parquet(quads, path)
    rd = read_quads_parquet(spark, path).filter(F.col("graph") == "urn:g:a")
    assert rd.count() == 1  # dedup applied, only graph a
    buf = io.StringIO()
    with redirect_stdout(buf):
        rd.explain("formatted")
    assert "PartitionFilters" in buf.getvalue()
    assert "urn:g:a" in buf.getvalue()


def test_graph_partitioned_write_prunes_partitions(spark, tmp_path):
    """SURVEY §1.3/§4: graph is the quad table's partition column, so a
    graph= filter must become PartitionFilters on the scan (no files of
    other graphs read), not a post-scan Filter."""
    from pyspark.sql import functions as F

    from cam_etl_spark.quads import fan_out_sql, quad_sql

    rows = spark.range(20)

    def name_quads(graph):
        return fan_out_sql(
            rows,
            quad_sql(
                "format_string('https://ex.org/e/%s', id)",
                "https://schema.org/name",
                "CAST(id AS STRING)",
                "literal",
                graph=graph,
            ),
        )

    quads = name_quads("urn:g:a").unionByName(name_quads("urn:g:b"))
    path = str(tmp_path / "quads_by_graph")
    quads.write.partitionBy("graph").parquet(path)
    filtered = spark.read.parquet(path).filter(F.col("graph") == "urn:g:a")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "urn:g:a" in plan, plan
    assert filtered.count() == 20
    # and the partition column round-trips as a value column too
    assert set(r["graph"] for r in filtered.select("graph").distinct().collect()) == {"urn:g:a"}
