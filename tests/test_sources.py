"""SURVEY S5 (vocab source) and S11 (search-index sink) tests."""

import json
import os

from pyspark.sql import functions as F


def _write_vocab(spark, tmp_path) -> str:
    """Vendor a tiny SKOS snapshot through the engine's own N-Quads sink."""
    from cam_etl_spark.quads import write_nquads

    rows = [
        ("https://ex.org/def/rt/street", "http://www.w3.org/2004/02/skos/core#prefLabel",
         "STREET", "literal", None, None, "urn:g:vocabs"),
        ("https://ex.org/def/rt/street", "http://www.w3.org/2004/02/skos/core#altLabel",
         "ST", "literal", None, None, "urn:g:vocabs"),
        ("https://ex.org/def/rt/street", "http://www.w3.org/2004/02/skos/core#inScheme",
         "https://ex.org/def/rt", "iri", None, None, "urn:g:vocabs"),
        ("https://ex.org/def/rt/road", "http://www.w3.org/2004/02/skos/core#prefLabel",
         "ROAD", "literal", None, None, "urn:g:vocabs"),
        ("https://ex.org/def/rt/road", "http://www.w3.org/2004/02/skos/core#inScheme",
         "https://ex.org/def/rt", "iri", None, None, "urn:g:vocabs"),
        # a second scheme that must be filterable away
        ("https://ex.org/def/other/road", "http://www.w3.org/2004/02/skos/core#prefLabel",
         "ROAD", "literal", None, None, "urn:g:vocabs"),
        ("https://ex.org/def/other/road", "http://www.w3.org/2004/02/skos/core#inScheme",
         "https://ex.org/def/other", "iri", None, None, "urn:g:vocabs"),
    ]
    quads = spark.createDataFrame(
        rows,
        "subject string, predicate string, object_value string, object_kind string,"
        "object_datatype string, object_lang string, graph string",
    )
    path = str(tmp_path / "vocab.nq")
    write_nquads(quads, path)
    return path


def test_skos_lookup_prefers_pref_label_and_filters_scheme(spark, tmp_path):
    from cam_etl_spark.sources.vocab import skos_labels, skos_lookup_df

    path = _write_vocab(spark, tmp_path)
    labels = skos_labels(spark, path)
    assert labels.count() == 4  # pref STREET, alt ST, pref ROAD ×2 schemes
    lookup = skos_lookup_df(spark, path, scheme="https://ex.org/def/rt")
    got = {r["label"]: r["concept_iri"] for r in lookup.collect()}
    assert got == {
        "STREET": "https://ex.org/def/rt/street",
        "ST": "https://ex.org/def/rt/street",
        "ROAD": "https://ex.org/def/rt/road",  # other-scheme ROAD filtered out
    }


def test_skos_lookup_feeds_broadcast_join(spark, tmp_path):
    """End-to-end J13: codes resolve to concept IRIs through the vocab
    lookup, exactly like the reference's concept-by-label matching."""
    from cam_etl_spark.operators.vocab import lookup_concept
    from cam_etl_spark.sources.vocab import skos_lookup_df

    path = _write_vocab(spark, tmp_path)
    lookup = skos_lookup_df(spark, path, scheme="https://ex.org/def/rt")
    data = spark.createDataFrame([("st",), ("Road",), ("street",)], "code string")
    out = lookup_concept(data, lookup, "code")
    iris = [r["concept_iri"] for r in out.orderBy("code").collect()]
    assert iris == [
        "https://ex.org/def/rt/road",
        "https://ex.org/def/rt/street",
        "https://ex.org/def/rt/street",
    ]


def test_index_sink_batches_and_schema(spark, tmp_path):
    from cam_etl_spark.sources.index_sink import index_documents, jsonl_dir_writer

    out_dir = str(tmp_path / "idx")
    df = spark.range(25).select(
        F.col("id").alias("doc_id"), F.format_string("label-%s", "id").alias("label")
    ).repartition(2)
    index_documents(df, jsonl_dir_writer(out_dir), batch_size=10, filterable=["label"])

    docs, schema_decls = [], []
    for name in os.listdir(out_dir):
        with open(os.path.join(out_dir, name)) as f:
            for line in f:
                d = json.loads(line)
                (schema_decls if "__filterable_attributes__" in d else docs).append(d)
    assert len(docs) == 25
    assert {d["doc_id"] for d in docs} == set(range(25))
    assert all(d["label"] == f"label-{d['doc_id']}" for d in docs)
    # one facet-schema declaration per partition, each batch ≤ batch_size
    assert len(schema_decls) == 2


# ---------------------------------------------------------------- S4 shapefile

from cam_etl_spark.sources.shapefile import (  # engine-side spec writers
    pack_dbf as _pack_dbf,
    pack_shp as _pack_shp,
    shp_point as _shp_point,
    shp_polygon as _shp_polygon,
    shp_polyline as _shp_polyline,
)


def _write_test_shapefile(tmp_path, name="roads"):
    hole_poly = [
        [(0.0, 0.0), (0.0, 10.0), (10.0, 10.0), (10.0, 0.0), (0.0, 0.0)],  # CW outer
        [(2.0, 2.0), (4.0, 2.0), (4.0, 4.0), (2.0, 4.0), (2.0, 2.0)],  # CCW hole
    ]
    shp, shx = _pack_shp([
        _shp_point(153.02, -27.47),
        _shp_polyline([[(0.0, 0.0), (1.0, 1.0), (2.0, 0.0)]]),
        _shp_polygon(hole_poly),
    ])
    dbf = _pack_dbf(
        [("ROAD_NAME", 20), ("ROAD_TYPE", 10)],
        [["MAIN", "ST"], ["OXLEY", "RD"], ["PARK", "CRES"]],
    )
    base = tmp_path / name
    (tmp_path / f"{name}.shp").write_bytes(shp)
    (tmp_path / f"{name}.shx").write_bytes(shx)
    (tmp_path / f"{name}.dbf").write_bytes(dbf)
    return str(base)


def test_shapefile_source_wkt_and_attributes(spark, tmp_path):
    from cam_etl_spark.sources.shapefile import read_shapefile

    _write_test_shapefile(tmp_path)
    out = read_shapefile(spark, str(tmp_path)).orderBy("record_number").collect()
    assert [r["shape_type"] for r in out] == ["point", "polyline", "polygon"]
    assert out[0]["geometry"] == "POINT (153.02 -27.47)"
    assert out[1]["geometry"] == "LINESTRING (0.0 0.0, 1.0 1.0, 2.0 0.0)"
    assert out[2]["geometry"] == (
        "POLYGON ((0.0 0.0, 0.0 10.0, 10.0 10.0, 10.0 0.0, 0.0 0.0), "
        "(2.0 2.0, 4.0 2.0, 4.0 4.0, 2.0 4.0, 2.0 2.0))"
    )
    assert out[0]["attributes"] == {"ROAD_NAME": "MAIN", "ROAD_TYPE": "ST"}
    assert out[2]["attributes"]["ROAD_TYPE"] == "CRES"


def test_shapefile_deleted_dbf_record_keeps_alignment(spark, tmp_path):
    """A deleted DBF record (flag ``*``) must NOT shift later attributes onto
    the wrong geometry: .shp records are never deleted, so the slot yields
    attributes=None and every following record stays aligned. The whole-file
    and .shx-split paths must agree on the same file."""
    from cam_etl_spark.sources.shapefile import read_shapefile, read_shapefile_split

    shp, shx = _pack_shp([
        _shp_point(1.0, 1.0),
        _shp_point(2.0, 2.0),
        _shp_point(3.0, 3.0),
    ])
    dbf = _pack_dbf(
        [("ROAD_NAME", 20)],
        [["FIRST"], ["GONE"], ["THIRD"]],
        deleted={1},
    )
    (tmp_path / "del.shp").write_bytes(shp)
    (tmp_path / "del.shx").write_bytes(shx)
    (tmp_path / "del.dbf").write_bytes(dbf)

    whole = read_shapefile(spark, str(tmp_path)).orderBy("record_number").collect()
    assert [r["attributes"] for r in whole] == [
        {"ROAD_NAME": "FIRST"},
        None,
        {"ROAD_NAME": "THIRD"},
    ]
    split = (
        read_shapefile_split(spark, str(tmp_path / "del.shp"), num_splits=2)
        .orderBy("record_number")
        .collect()
    )
    assert [(r["record_number"], r["geometry"], r["attributes"]) for r in whole] == [
        (r["record_number"], r["geometry"], r["attributes"]) for r in split
    ]


def test_shapefile_split_read_matches_whole_file(spark, tmp_path):
    from cam_etl_spark.sources.shapefile import read_shapefile, read_shapefile_split

    base = _write_test_shapefile(tmp_path)
    whole = read_shapefile(spark, str(tmp_path)).orderBy("record_number")
    split = read_shapefile_split(spark, base + ".shp", num_splits=2).orderBy("record_number")
    w = [(r["record_number"], r["geometry"], r["attributes"]) for r in whole.collect()]
    s = [(r["record_number"], r["geometry"], r["attributes"]) for r in split.collect()]
    assert w == s and len(s) == 3


# ------------------------------------------------------- bucketed co-location

def test_bucketed_join_plans_without_exchange(spark, sf_dir, tmp_path):
    """The scale contract of io.write_bucketed: once two tables are bucketed
    on the join key with equal bucket counts, the sort-merge join between
    them has NO Exchange (shuffle paid at write time, not per query)."""
    from pyspark.sql import functions as F

    from cam_etl_spark.io import load_table, write_bucketed

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    write_bucketed(o, "b_orders", "o_custkey", 8, sort_cols="o_custkey",
                   path=str(tmp_path / "b_orders"))
    write_bucketed(c, "b_customer", "c_custkey", 8, sort_cols="c_custkey",
                   path=str(tmp_path / "b_customer"))
    try:
        bo, bc = spark.table("b_orders"), spark.table("b_customer")
        joined = bo.hint("merge").join(bc, bo.o_custkey == bc.c_custkey)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        # and the result is still the plain join's result
        plain = o.join(c, o.o_custkey == c.c_custkey)
        assert joined.count() == plain.count()

        # same-key aggregation also rides the bucketing (no re-shuffle)
        agg = bo.groupBy("o_custkey").agg(F.count("*").alias("n"))
        agg_plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in agg_plan, agg_plan
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_ivf_bucketed_serving_joins_without_exchange(spark, sf_dir, tmp_path):
    """SCALE.md's ANN serving contract: with the corpus IVF-bucketed on
    centroid_id and the probe batch bucketed the same way, the probe join
    plans with ZERO Exchange — the corpus shuffle was paid at build time.
    Results must equal the unbucketed knn_ivf_cosine at the same draw."""
    from pyspark.sql import functions as F

    from cam_etl_spark.io import load_table, write_bucketed
    from cam_etl_spark.operators.similarity import (
        build_ivf_bucketed,
        knn_ivf_cosine,
        knn_ivf_probe_bucketed,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    for tname in ("ivf_t_corpus", "ivf_t_probes"):
        spark.sql(f"DROP TABLE IF EXISTS {tname}")
    cents = build_ivf_bucketed(
        emb, "ivf_t_corpus", n_centroids=8, num_buckets=8,
        path=str(tmp_path / "corpus"),
    )
    try:
        # serving result == the one-shot operator at the same draw/probe
        queries = emb.filter(F.col("vec_id") % 17 == 0)
        served = knn_ivf_probe_bucketed(
            spark, "ivf_t_corpus", cents, queries, k=3, n_probe=8
        )
        oneshot = knn_ivf_cosine(emb, queries, k=3, n_centroids=8, n_probe=8)
        assert sorted(map(tuple, served.collect())) == sorted(
            map(tuple, oneshot.collect())
        )

        # two-sided-bucketed probe join THROUGH THE API: pre-assign, write
        # bucketed, probe with broadcast_probes=False — the serving join
        # plans with zero Exchange anywhere
        from cam_etl_spark.operators.similarity import assign_probes

        q_assigned = assign_probes(queries, cents, n_probe=8)
        write_bucketed(q_assigned, "ivf_t_probes", "centroid_id", 8,
                       sort_cols="centroid_id", path=str(tmp_path / "probes"))
        served_big = knn_ivf_probe_bucketed(
            spark, "ivf_t_corpus", k=3,
            assigned_probes=spark.table("ivf_t_probes"),
            broadcast_probes=False,
        )
        assert sorted(map(tuple, served_big.collect())) == sorted(
            map(tuple, oneshot.collect())
        )
        # the join stage itself (before the rank window's own exchange)
        corpus_t, probes_t = spark.table("ivf_t_corpus"), spark.table("ivf_t_probes")
        joined = corpus_t.hint("merge").join(probes_t, "centroid_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
    finally:
        for tname in ("ivf_t_corpus", "ivf_t_probes"):
            spark.sql(f"DROP TABLE IF EXISTS {tname}")


def test_write_compacted_collapses_small_files(spark, sf_dir, tmp_path):
    import glob

    from cam_etl_spark.io import load_table, write_compacted

    li = load_table(spark, sf_dir, "lineitem").repartition(64)  # tiny-files shape
    naive = str(tmp_path / "naive")
    li.write.parquet(naive)
    n_naive = len(glob.glob(naive + "/part-*"))

    compact = str(tmp_path / "compact")
    write_compacted(li, compact, target_mb=128)
    n_compact = len(glob.glob(compact + "/part-*"))

    assert n_naive >= 32  # the problem existed
    assert n_compact <= 4  # AQE coalesced to the advisory size
    got = spark.read.parquet(compact)
    assert got.count() == li.count() and set(got.columns) == set(li.columns)


def test_shapefile_datasource_split_invariance(spark, tmp_path):
    """The registered 'shapefile' format must return the identical row
    set for any num_splits (partition planning must not drop, duplicate,
    or misalign records/attributes), and match read_shapefile_split."""
    from cam_etl_spark.sources.shapefile import (
        read_shapefile_split,
        register_shapefile_source,
        shp_point,
        write_shapefile,
    )

    shapes = [shp_point(float(i), float(-i)) for i in range(37)]
    attrs = [[str(i), f"n{i}"] for i in range(37)]
    stem = str(tmp_path / "pts")
    write_shapefile(stem, shapes, [("ID", 10), ("NAME", 10)], attrs)

    register_shapefile_source(spark)

    def rows_for(n):
        df = (
            spark.read.format("shapefile")
            .option("num_splits", str(n))
            .load(stem + ".shp")
        )
        return sorted(
            (r["record_number"], r["geometry"], r["attributes"]["ID"],
             r["attributes"]["NAME"])
            for r in df.collect()
        )

    base = rows_for(1)
    assert len(base) == 37
    for n in (2, 5, 64):
        assert rows_for(n) == base, n
    legacy = sorted(
        (r["record_number"], r["geometry"], r["attributes"]["ID"],
         r["attributes"]["NAME"])
        for r in read_shapefile_split(spark, stem + ".shp", 4).collect()
    )
    assert legacy == base


def test_nquads_sink_writer_lifecycle(spark, tmp_path):
    """The registered N-Quads DataSource writer: commit produces renamed
    part files plus an accurate manifest, overwrite mode removes stale
    parts from a previous job, serialization is byte-identical to
    quads.to_nquads_lines, and read_nquads round-trips hostile
    literals."""
    import json
    import os

    import pyspark.sql.functions as F

    from cam_etl_spark.quads import (
        fan_out_sql,
        quad_sql,
        read_nquads,
        to_nquads_lines,
    )
    from cam_etl_spark.sources.nquads_sink import register_nquads_sink

    assert register_nquads_sink(spark)
    # the hostile literal is a projected column, not SQL text
    base = spark.range(7).select(
        "id", F.concat(F.lit('a\\b"c\nd\te'), F.col("id").cast("string")).alias("name")
    )
    subj = "format_string('https://example.org/x/%s', id)"
    quads = fan_out_sql(
        base,
        quad_sql(subj, "https://schema.org/name", "name", "literal", graph="urn:g"),
        quad_sql(subj, "https://schema.org/ref", "format_string('b%s', id)", "bnode",
                 graph="urn:g"),
    )
    path = str(tmp_path / "out")
    quads.repartition(3).write.format("nquads_sink").mode("overwrite").save(path)
    man = json.load(open(os.path.join(path, "_MANIFEST.json")))
    names = sorted(os.listdir(path))
    assert man["n_quads"] == 14
    assert [n for n in names if n.startswith("_tmp-")] == []
    assert sorted(man["files"]) == [n for n in names if n.startswith("part-")]
    # byte-identical to the engine's column-side serializer
    disk = sorted(
        ln for n in man["files"]
        for ln in open(os.path.join(path, n), encoding="utf-8")
        .read().splitlines()
    )
    expect = sorted(r["value"] for r in to_nquads_lines(quads).collect())
    assert disk == expect
    # round-trip through the engine reader, hostile escapes intact
    back = read_nquads(spark, path)
    assert back.count() == 14
    lit = back.filter(F.col("object_kind") == "literal").filter(
        F.col("object_value").contains('a\\b"c\nd\te0')
    )
    assert lit.count() == 1
    # overwrite replaces: second job with fewer rows leaves no stale parts
    quads2 = fan_out_sql(
        base.filter(F.col("id") < 2),
        quad_sql(subj, "https://schema.org/name", "'x'", "literal", graph="urn:g"),
    )
    quads2.coalesce(1).write.format("nquads_sink").mode("overwrite").save(path)
    man2 = json.load(open(os.path.join(path, "_MANIFEST.json")))
    assert man2["n_quads"] == 2
    on_disk = [n for n in os.listdir(path) if n.startswith("part-")]
    assert sorted(on_disk) == sorted(man2["files"])
    assert read_nquads(spark, path).count() == 2
