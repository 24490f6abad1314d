"""Unit tests for the scalar-function layer (SURVEY §2.7)."""

import uuid

from pyspark.sql import functions as F


def test_uuid5_bit_exact(spark):
    """uuid5_expr must match uuid.uuid5 byte-for-byte — IRIs are join keys
    downstream (SURVEY §7.3)."""
    from cam_etl_spark.functions.ids import uuid5_expr

    ns = uuid.UUID("6ba7b811-9dad-11d1-80b4-00c04fd430c8")
    names = ["", "a", "hello world", "addr-123", "ünïcode ✓", "QLD1234567"]
    df = spark.createDataFrame([(n,) for n in names], "name string")
    got = {r["name"]: r["u"] for r in df.select("name", uuid5_expr(ns, F.col("name")).alias("u")).collect()}
    for n in names:
        assert got[n] == str(uuid.uuid5(ns, n)), n


def test_portable_hash60_matches_duckdb(spark):
    import duckdb

    from cam_etl_spark.functions.ids import portable_hash60

    vals = ["abc", "", "hello world", "QLD"]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = {r["v"]: r["h"] for r in df.select("v", portable_hash60(F.col("v")).alias("h")).collect()}
    for v in vals:
        expect = duckdb.sql(f"select ('0x' || substr(md5('{v}'), 1, 15))::bigint").fetchone()[0]
        assert got[v] == expect, v


def test_packed_timestamp(spark):
    from cam_etl_spark.functions.temporal import parse_packed_ts

    df = spark.createDataFrame([("20240131235959",), ("19991231000000.0",)], "s string")
    out = df.select(F.date_format(parse_packed_ts(F.col("s")), "yyyy-MM-dd HH:mm:ss").alias("t")).collect()
    assert out[0]["t"] == "2024-01-31 23:59:59"
    assert out[1]["t"] == "1999-12-31 00:00:00"


def test_string_helpers(spark):
    from cam_etl_spark.functions.strings import clean_display_name, collapse_ws, nullif_empty, slugify

    df = spark.createDataFrame(
        [("O'NEIL  ROAD XXX",), ("MAIN - STREET",), ("  ",)], "s string"
    )
    out = df.select(
        clean_display_name(F.col("s")).alias("clean"),
        slugify(F.col("s")).alias("slug"),
        nullif_empty(F.col("s")).alias("ne"),
        collapse_ws(F.col("s")).alias("cw"),
    ).collect()
    assert out[0]["clean"] == "ONEIL ROAD"
    assert out[1]["clean"] == "MAIN STREET"
    assert out[2]["ne"] is None
    assert out[2]["cw"] == ""


def test_word_shingles_and_ngrams(spark):
    from cam_etl_spark.functions.text import char_ngrams, token_count, word_shingles

    df = spark.createDataFrame([("the quick brown fox",), ("hi",)], "s string")
    rows = df.select(
        word_shingles(F.col("s"), 3).alias("sh"),
        char_ngrams(F.col("s"), 3).alias("ng"),
        token_count(F.col("s")).alias("tc"),
    ).collect()
    assert rows[0]["sh"] == ["the quick brown", "quick brown fox"]
    assert rows[0]["tc"] == 4
    assert rows[1]["sh"] == ["hi"]  # shorter than k → whole text
    assert "the" in rows[0]["ng"] and "e q" in rows[0]["ng"]


def test_cosine_similarity(spark):
    from cam_etl_spark.functions.vectors import cosine_from_norms_sql, l2_norm_sql

    df = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [0.0, 1.0]), ([0.0, 0.0], [1.0, 1.0])],
        "a array<double>, b array<double>",
    )
    cos = cosine_from_norms_sql("a", "b", l2_norm_sql("a"), l2_norm_sql("b"))
    out = [r["c"] for r in df.selectExpr(f"{cos} AS c").collect()]
    assert abs(out[0] - 1.0) < 1e-12
    assert abs(out[1]) < 1e-12
    assert out[2] == 0.0  # zero-vector guard


def test_spatial_helpers(spark):
    from cam_etl_spark.functions.spatial import grid_cell, haversine_km, wkt_point

    df = spark.createDataFrame([(153.02, -27.47, 144.96, -37.81)], "lon1 double, lat1 double, lon2 double, lat2 double")
    row = df.select(
        wkt_point(F.col("lon1"), F.col("lat1")).alias("wkt"),
        haversine_km(F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2")).alias("d"),
        grid_cell(F.col("lon1"), F.col("lat1"), 0.5).alias("cell"),
    ).collect()[0]
    assert row["wkt"] == "POINT (153.02 -27.47)"
    assert 1150 < row["d"] < 1400  # Brisbane–Melbourne ≈ 1370 km great-circle
    assert row["cell"] == "306:-55"


def test_linestring_length_km_edges(spark):
    from pyspark.sql import functions as F

    from cam_etl_spark.functions.spatial import (
        linestring_length_km,
        parse_wkt_linestring,
    )

    df = spark.createDataFrame(
        [
            (1, "LINESTRING (0 0, 0 1)"),          # 1 degree of latitude
            (2, "LINESTRING (0 0, 0 1, 0 2)"),     # two segments
            (3, "LINESTRING (5 5)"),                # single vertex -> NULL
            (4, "POINT (1 2)"),                     # wrong type -> NULL
            (5, None),
        ],
        "id long, wkt string",
    )
    out = {
        r["id"]: r["km"]
        for r in df.select(
            "id",
            linestring_length_km(parse_wkt_linestring(F.col("wkt"))).alias("km"),
        ).collect()
    }
    import math

    one_deg = 2 * 6371.0088 * math.asin(math.sin(math.radians(0.5)))
    assert abs(out[1] - one_deg) < 1e-9
    assert abs(out[2] - 2 * one_deg) < 1e-9
    assert out[3] is None and out[4] is None and out[5] is None


def test_canonicalize_url_rules(spark):
    from pyspark.sql import functions as F

    from cam_etl_spark.functions.strings import canonicalize_url

    cases = [
        (1, "HTTP://WWW.Site3.COM:80/docs/5/?utm_source=a&id=7&utm_campaign=b#s",
         "http://site3.com/docs/5?id=7"),
        (2, "https://site4.com:443/docs/6?id=8", "https://site4.com/docs/6?id=8"),
        (3, "http://h.com:443/x", "http://h.com:443/x"),  # mismatched port kept
        (4, "https://www.A.com/", "https://a.com/"),       # root slash kept
        (5, "http://h.com/p?utm_x=1&utm_y=2", "http://h.com/p"),
        (6, "http://h.com/P/Q?Id=UPPER", "http://h.com/P/Q?Id=UPPER"),  # case kept
        (7, "not a url", "://"),                            # degenerate, no crash
    ]
    df = spark.createDataFrame([(i, u) for i, u, _ in cases], "id long, url string")
    got = {r["id"]: r["c"]
           for r in df.select("id", canonicalize_url(F.col("url")).alias("c")).collect()}
    for i, _, want in cases:
        assert got[i] == want, (i, got[i], want)


def test_zorder_key_interleaves_bits(spark):
    """zorder_key must equal the reference Python Morton interleave for
    random coordinates, place x in even and y in odd bit positions, and
    reject out-of-range bit widths."""
    import random

    import pytest
    from pyspark.sql import functions as F

    from cam_etl_spark.functions.spatial import zorder_key

    def morton(x, y, bits):
        k = 0
        for b in range(bits):
            k |= ((x >> b) & 1) << (2 * b)
            k |= ((y >> b) & 1) << (2 * b + 1)
        return k

    rng = random.Random(13)
    rows = [(rng.randrange(1 << 16), rng.randrange(1 << 16)) for _ in range(200)]
    rows += [(0, 0), (65535, 0), (0, 65535), (1, 2)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = df.select("x", "y", zorder_key(F.col("x"), F.col("y"), 16).alias("z")).collect()
    for r in got:
        assert r["z"] == morton(r["x"], r["y"], 16), (r["x"], r["y"])
    assert morton(1, 0, 16) == 1 and morton(0, 1, 16) == 2  # even/odd lanes
    with pytest.raises(ValueError, match="bits"):
        zorder_key(F.col("x"), F.col("y"), 0)


def test_html_main_text_edges(spark):
    from cam_etl_spark.functions.text import html_main_text

    cases = [
        # script containing '<' and a fake </p>, nav boilerplate,
        # entities, nested p, whitespace collapse
        ("<html><head><script>if (1 < 2) { x = '</p>'; }</script>"
         "<style>p{}</style></head><body><nav>Home</nav>"
         "<p>Hello &amp; <b>world</b>\n\n  two</p>"
         "<div>skip</div><p>B &#66;</p></body></html>",
         "Hello & world two B B"),
        ("<p>only</p>", "only"),
        ("no paragraphs at all", ""),
        ("<p>unclosed tag ends at EOF", "unclosed tag ends at EOF"),
        (None, None),
    ]
    df = spark.createDataFrame(
        [(i, h) for i, (h, _) in enumerate(cases)],
        "i int, html string")
    got = {r.i: r.out for r in df.select(
        "i", html_main_text(F.col("html")).alias("out")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, i


def test_canonical_url_rules(spark):
    from cam_etl_spark.functions.text import canonical_url

    cases = [
        ("HTTP://Example.COM:80/a/?b=2&a=1&utm_source=x#f",
         "http://example.com/a?a=1&b=2"),
        ("https://example.com:443/", "https://example.com/"),
        ("https://example.com:8443/x?fbclid=1",
         "https://example.com:8443/x"),
        # non-default port, param order, gclid
        ("http://A.B:8080/p/?z=9&gclid=2&a=1",
         "http://a.b:8080/p?a=1&z=9"),
        # root with nothing
        ("http://example.com", "http://example.com/"),
        # www and percent-encoding deliberately preserved
        ("https://www.example.com/a%2Fb", "https://www.example.com/a%2Fb"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)],
        "i int, url string")
    got = {r.i: r.out for r in df.select(
        "i", canonical_url(F.col("url")).alias("out")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, i


def test_html_main_text_implicit_p_close(spark):
    from cam_etl_spark.functions.text import html_main_text

    # HTML5: a new <p> implicitly closes the open one — real pages
    # routinely omit </p>; words must not merge across blocks
    cases = [
        ("<body><p>First para<p>Second para</p></body>",
         "First para Second para"),
        ("<p>a<p>b<p>c", "a b c"),
    ]
    df = spark.createDataFrame(
        [(i, h) for i, (h, _) in enumerate(cases)],
        "i int, html string")
    got = {r.i: r.out for r in df.select(
        "i", html_main_text(F.col("html")).alias("out")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, i


def test_local_values_df_exact_roundtrip(spark):
    """io.local_values_df must plan as a JVM LocalRelation (no pickled
    Python RDD — the reason mmr_select/bpe_learn_merges use it) and
    round-trip every supported type exactly: doubles via shortest-repr
    string -> parseDouble (bit-identical), strings through quote and
    backslash escaping, NULLs per column type."""
    import math

    from cam_etl_spark.io import local_values_df

    rows = [
        (1, 2**40 + 7, 0.1 + 0.2, "plain"),
        (2, -5, 1e-300, "qu'ote"),
        (3, 0, -0.0, "back\\slash"),
        (4, None, float("inf"), None),
        (5, 9, math.pi, "mixed 'q' and \\ s"),
    ]
    df = local_values_df(spark, rows, "a int, b bigint, c double, d string")
    got = sorted(df.collect(), key=lambda r: r["a"])
    for (a, b, c, d), r in zip(rows, got):
        assert r["a"] == a and r["b"] == b and r["d"] == d
        if c != c:
            assert r["c"] != r["c"]
        else:
            # bit-exact: repr -> parseDouble returns the identical double
            assert (r["c"] == c and math.copysign(1, r["c"]) == math.copysign(1, c))
    # LocalRelation plan: no RDD scan, no Python evaluation node
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan and "EvalPython" not in plan
    # empty rows: same schema, no rows, still no RDD scan
    empty = local_values_df(spark, [], "a int, b bigint, c double, d string")
    assert empty.schema.simpleString() == df.schema.simpleString()
    assert empty.collect() == []
    plan = empty._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan and "EvalPython" not in plan


def test_local_values_df_matches_createdataframe(spark):
    """Same rows through local_values_df and createDataFrame compare
    equal row-for-row (the mmr/bpe result-frame swap must be invisible)."""
    from cam_etl_spark.io import local_values_df

    rows = [(1, 10, 0.123456, "x y"), (2, 20, -7.25, "z")]
    schema = "rank int, vec_id bigint, relevance double, tag string"
    a = sorted(map(tuple, local_values_df(spark, rows, schema).collect()))
    b = sorted(map(tuple, spark.createDataFrame(rows, schema).collect()))
    assert a == b
