"""The catalog's shared fixture mechanisms (plans/catalog.py): the
per-row Arrow decoder loop ``map_rows``, the scratch directory
``fixture_dir``, the one-file-per-partition writer ``shard_files`` and
the decode sample gate ``sampled_docs``."""

import os
import pickle
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_map_rows_fan_out_nulls_and_schema_order(spark):
    from cam_etl_spark.plans.catalog import map_rows

    def fn(k, word):
        for i in range(k):  # k = 0 yields no row
            # dict order differs from the schema; "tail" is missing
            yield {"n": i, "tag": f"{word}{i}", "k": k} if i < 2 else {"k": k, "n": i}

    df = spark.createDataFrame([(0, "a"), (3, "b"), (1, "c")], "k long, word string")
    out = map_rows(df.coalesce(1), fn, "k long, tag string, n long, tail string")
    assert out.columns == ["k", "tag", "n", "tail"]
    rows = sorted((tuple(r) for r in out.collect()), key=lambda r: (r[0], r[2]))
    assert rows == [
        (1, "c0", 0, None),
        (3, "b0", 0, None),
        (3, "b1", 1, None),
        (3, None, 2, None),
    ]


def test_map_rows_missing_nested_key_is_null(spark):
    """A dict without an array column's key reads as null, like a
    missing scalar key (a NaN there broke the Arrow conversion)."""
    from cam_etl_spark.plans.catalog import map_rows

    def fn(k):
        yield {"k": k} if k % 2 else {"k": k, "s": [f"v{k}"]}

    df = spark.createDataFrame([(1,), (2,)], "k long").coalesce(1)
    rows = sorted(tuple(r) for r in map_rows(df, fn, "k long, s array<string>").collect())
    assert rows == [(1, None), (2, ["v2"])]


def test_map_rows_empty_partition(spark):
    from cam_etl_spark.plans.catalog import map_rows

    df = spark.createDataFrame([(1,), (2,)], "k long").repartition(4)
    out = map_rows(df, lambda k: [{"k": k * 10}], "k long, s string")
    assert sorted(r.k for r in out.collect()) == [10, 20]
    empty = map_rows(df.filter("k < 0"), lambda k: [{"k": k}], "k long, s string")
    assert empty.count() == 0 and empty.columns == ["k", "s"]


def test_map_rows_worker_never_imports_plans(spark, sf_dir, monkeypatch):
    """A converted entry's shipped batch loop runs without
    ``cam_etl_spark.plans``: the fresh interpreter below unpickles it the
    way a Python worker does and feeds it one Arrow batch."""
    import pyarrow.parquet as pq
    from pyspark import cloudpickle
    from pyspark.sql.classic.dataframe import DataFrame

    from cam_etl_spark.plans import QUERIES

    shipped = []
    orig = DataFrame.mapInPandas

    def capture(self, func, schema, *args, **kwargs):
        shipped.append(func)
        return orig(self, func, schema, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "mapInPandas", capture)
    QUERIES["multimodal_flac_decode"].spark(spark, sf_dir)
    assert len(shipped) == 1
    blob = cloudpickle.dumps(shipped[0])
    batch = (
        pq.read_table(os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"])
        .slice(0, 8)
        .to_pandas()
    )
    code = (
        "import pickle, sys\n"
        "blob, batch = pickle.loads(sys.stdin.buffer.read())\n"
        "run = pickle.loads(blob)\n"
        "out = list(run(iter([batch])))\n"
        "assert len(out) == 1 and len(out[0]) == 8, out\n"
        "print('cam_etl_spark.plans' in sys.modules, 'cam_etl_spark.multimodal' in sys.modules)\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code],
        input=pickle.dumps((blob, batch)),
        capture_output=True,
        cwd=ROOT,
    )
    assert proc.returncode == 0, proc.stderr.decode()[-2000:]
    assert proc.stdout.decode().split() == ["False", "True"]


def test_fixture_dir_empties_and_separates_scales(tmp_path, monkeypatch):
    import tempfile

    from cam_etl_spark.plans.catalog import fixture_dir

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    a = fixture_dir("/data/sf0.01/", "cam_etl_x_fixture", "tbl")
    assert a == os.path.join(str(tmp_path), "cam_etl_x_fixture", "sf0.01", "tbl")
    with open(os.path.join(a, "stale.parquet"), "w") as fh:
        fh.write("old")
    b = fixture_dir("/data/sf0.1", "cam_etl_x_fixture", "tbl")
    assert b != a and os.listdir(b) == []
    assert os.listdir(a) == ["stale.parquet"]
    assert fixture_dir("/data/sf0.01", "cam_etl_x_fixture", "tbl") == a
    assert os.listdir(a) == []


def test_shard_files_one_file_per_nonempty_partition(spark, tmp_path):
    from cam_etl_spark.plans.catalog import shard_files

    base = str(tmp_path)

    def write(pdf, path):
        with open(path, "w") as fh:
            fh.write(",".join(str(k) for k in pdf["k"]))

    # four partitions, two of them empty
    parts = [[30, 4], [], [17, 5, 9], []]
    rdd = spark.sparkContext.parallelize(parts, len(parts)).flatMap(lambda ks: ks)
    df = spark.createDataFrame(rdd.map(lambda k: (k, f"t{k}")), "k long, v string")
    assert df.rdd.getNumPartitions() == 4
    paths = shard_files(df, base, "s-{:04d}.txt", write)
    assert paths.columns == ["path"] and paths.rdd.getNumPartitions() == 2
    got = sorted(r.path for r in paths.collect())
    assert got == [os.path.join(base, "s-0004.txt"), os.path.join(base, "s-0005.txt")]
    assert sorted(os.listdir(base)) == ["s-0004.txt", "s-0005.txt"]
    # each file holds its partition's rows, sorted by the first column
    assert [open(p).read() for p in got] == ["4,30", "5,9,17"]


def test_sampled_docs_reads_two_columns(spark, sf_dir):
    import pyarrow.parquet as pq

    from cam_etl_spark.plans.catalog import sampled_docs

    df = sampled_docs(spark, sf_dir, 8, 3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet")).to_pylist()
    want = sorted((d["doc_id"], d["text"]) for d in docs if d["doc_id"] % 8 == 3)
    assert want and sorted(tuple(r) for r in df.collect()) == want


#: Per-row decoders that need only (doc_id, text) of ``documents``.
DOC_DECODERS = [
    "multimodal_mixed_dispatch",
    "multimodal_flac_decode",
    "multimodal_flac_lpc_decode",
    "multimodal_mpeg_audio_decode",
    "multimodal_png_decode",
    "multimodal_jpeg_decode",
    "multimodal_jpeg_progressive_decode",
    "multimodal_jpeg_progressive_refine",
    "multimodal_jpeg420_decode",
    "multimodal_resize_real",
    "multimodal_mpeg_stereo_decode",
]


def test_decoders_scan_only_doc_id_and_text(spark, sf_dir):
    import re

    from cam_etl_spark.plans import QUERIES

    for name in DOC_DECODERS:
        plan = QUERIES[name].spark(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        schemas = re.findall(r"ReadSchema: (struct<[^\n]*>)", plan)
        assert schemas, name
        for rs in schemas:
            assert not re.search(r"\b(lang|source|n_chars):", rs), (name, rs)
