"""Iceberg metadata-chain replay (sources/iceberg_meta.py) —
resolution, snapshot selection, manifest status lifecycle, pruning,
and loud boundaries. The manifest files are REAL Avro object
containers written and read by the engine's from-spec codec."""

import json
import os

import pytest

from cam_etl_spark.sources import iceberg_meta as I


def _entry(path, status=1, partition=None, n=10):
    return {
        "status": status,
        "snapshot_id": 1,
        "data_file": {
            "content": 0,
            "file_path": path,
            "file_format": "parquet",
            "partition": partition or {},
            "record_count": n,
            "file_size_in_bytes": 1,
        },
    }


def _table(tmp_path):
    d = str(tmp_path / "tbl")
    os.makedirs(os.path.join(d, "metadata"), exist_ok=True)
    return d


def test_snapshot_lifecycle_and_time_travel(tmp_path):
    d = _table(tmp_path)
    md = os.path.join(d, "metadata")
    m1 = os.path.join(md, "m1.avro")
    I.write_manifest(m1, [_entry("f1", 1, {"p": "a"}),
                          _entry("f2", 1, {"p": "b"})])
    s1 = I.write_snapshot(d, 101, [m1])
    # snapshot 2: delete f1, add f3 (delete entries live in a NEW
    # manifest; the old manifest is carried as EXISTING entries)
    m2 = os.path.join(md, "m2.avro")
    I.write_manifest(
        m2,
        [_entry("f1", 2, {"p": "a"}), _entry("f2", 0, {"p": "b"}),
         _entry("f3", 1, {"p": "a"})],
    )
    s2 = I.write_snapshot(d, 202, [m2], parent_id=101)
    I.write_table_metadata(d, 2, [s1, s2], 202, ["p"])

    cur = I.snapshot_files(d)
    assert cur["snapshot_id"] == 202
    assert [f["path"] for f in cur["files"]] == ["f2", "f3"]
    old = I.snapshot_files(d, snapshot_id=101)
    assert [f["path"] for f in old["files"]] == ["f1", "f2"]
    with pytest.raises(ValueError, match="snapshot 999"):
        I.snapshot_files(d, snapshot_id=999)


def test_version_resolution(tmp_path):
    d = _table(tmp_path)
    md = os.path.join(d, "metadata")
    m1 = os.path.join(md, "m1.avro")
    I.write_manifest(m1, [_entry("f1")])
    s1 = I.write_snapshot(d, 1, [m1])
    I.write_table_metadata(d, 1, [s1], 1, [])
    I.write_table_metadata(d, 3, [s1], 1, [])
    assert I.load_table_metadata(d)["_metadata_version"] == 3
    os.unlink(os.path.join(md, "version-hint.text"))
    # falls back to max vN on disk
    assert I.load_table_metadata(d)["_metadata_version"] == 3
    with pytest.raises(ValueError, match="no metadata dir"):
        I.load_table_metadata(str(tmp_path / "nope"))


def test_boundaries_loud(tmp_path):
    d = _table(tmp_path)
    md = os.path.join(d, "metadata")
    m1 = os.path.join(md, "m1.avro")
    I.write_manifest(m1, [_entry("f1")])
    s1 = I.write_snapshot(d, 1, [m1])
    I.write_table_metadata(d, 1, [s1], 1, [])
    # format-version 4 rejected (3 is accepted since round 11)
    doc = json.load(open(os.path.join(md, "v1.metadata.json")))
    doc["format-version"] = 4
    json.dump(doc, open(os.path.join(md, "v1.metadata.json"), "w"))
    with pytest.raises(NotImplementedError, match="format-version 4"):
        I.load_table_metadata(d)
    doc["format-version"] = 2
    json.dump(doc, open(os.path.join(md, "v1.metadata.json"), "w"))
    # ORC data file rejected
    m2 = os.path.join(md, "m2.avro")
    bad = _entry("f9")
    bad["data_file"]["file_format"] = "orc"
    I.write_manifest(m2, [bad])
    s2 = I.write_snapshot(d, 2, [m2])
    I.write_table_metadata(d, 2, [s1, s2], 2, [])
    with pytest.raises(NotImplementedError, match="file format orc"):
        I.snapshot_files(d)


def test_pruning():
    files = [
        {"path": "a", "partition": {"p": "x"}, "record_count": 1, "size": 1},
        {"path": "b", "partition": {"p": "y"}, "record_count": 1, "size": 1},
        {"path": "c", "partition": {"p": None}, "record_count": 1, "size": 1},
    ]
    assert [f["path"] for f in I.prune_files(files, {"p": {"x"}})] == ["a"]
    assert [f["path"] for f in I.prune_files(files, {"p": {"x", None}})] == [
        "a", "c",
    ]
    assert I.prune_files(files, None) == files


def _del_entry(path, seq, status=1):
    return {
        "status": status,
        "snapshot_id": 1,
        "sequence_number": seq,
        "data_file": {
            "content": 1,
            "file_path": path,
            "file_format": "avro",
            "partition": {},
            "record_count": 0,
            "file_size_in_bytes": 1,
        },
    }


def test_delete_manifest_parsing_and_boundaries(tmp_path):
    d = _table(tmp_path)
    md = os.path.join(d, "metadata")
    m1 = os.path.join(md, "m1.avro")
    I.write_manifest(m1, [_entry("f1")])
    pd1 = os.path.join(md, "pd1.avro")
    I.write_position_deletes(pd1, [{"file_path": "f1", "pos": 3}])
    mdel = os.path.join(md, "mdel.avro")
    I.write_manifest(mdel, [_del_entry(pd1, 2)])
    s1 = I.write_snapshot(d, 1, [m1, (mdel, 1)])
    I.write_table_metadata(d, 1, [s1], 1, [])
    snap = I.snapshot_files(d)
    assert [f["path"] for f in snap["files"]] == ["f1"]
    assert [f["path"] for f in snap["delete_files"]] == [pd1]
    assert snap["delete_files"][0]["sequence"] == 2
    # delete file in a DATA manifest is a protocol violation
    m2 = os.path.join(md, "m2.avro")
    I.write_manifest(m2, [_del_entry(pd1, 2)])
    s2 = I.write_snapshot(d, 2, [m1, m2])
    I.write_table_metadata(d, 2, [s1, s2], 2, [])
    with pytest.raises(ValueError, match="must pair"):
        I.snapshot_files(d)
    # equality delete file must carry equality_ids
    eq = _del_entry(pd1, 2)
    eq["data_file"]["content"] = 2
    m3 = os.path.join(md, "m3.avro")
    I.write_manifest(m3, [eq])
    s3 = I.write_snapshot(d, 3, [m1, (m3, 1)])
    I.write_table_metadata(d, 3, [s1, s2, s3], 3, [])
    with pytest.raises(ValueError, match="without equality_ids"):
        I.snapshot_files(d)


def test_equality_delete_sequence_gate(tmp_path, spark):
    """Equality deletes gate STRICTLY (delete.seq > data.seq): a
    delete at the data file's own sequence must not apply; one at a
    higher sequence must. Spec 'Scan Planning'."""
    import glob
    import shutil

    import pyspark.sql.functions as F

    d = _table(tmp_path)
    data_dir = os.path.join(d, "data")
    os.makedirs(data_dir, exist_ok=True)
    f1 = os.path.join(data_dir, "part-0.parquet")
    spark.range(10).select(F.col("id").alias("k")).coalesce(
        1
    ).write.mode("overwrite").parquet(data_dir + ".tmp")
    shutil.move(glob.glob(data_dir + ".tmp/*.parquet")[0], f1)

    md = os.path.join(d, "metadata")
    os.makedirs(md, exist_ok=True)
    fields = [{"name": "k", "type": "long", "field-id": 1}]
    eq_same = os.path.join(md, "eq-same.avro")
    I.write_equality_deletes(eq_same, fields, [{"k": 1}, {"k": 2}])
    eq_later = os.path.join(md, "eq-later.avro")
    I.write_equality_deletes(eq_later, fields, [{"k": 4}, {"k": 99}])

    def eq_entry(path, seq):
        e = _del_entry(path, seq)
        e["data_file"]["content"] = 2
        e["data_file"]["equality_ids"] = [1]
        return e

    mdel = os.path.join(md, "mdel.avro")
    I.write_manifest(
        mdel, [eq_entry(eq_same, 2), eq_entry(eq_later, 3)]
    )
    m1 = os.path.join(md, "m1.avro")
    e = _entry(f1)
    e["sequence_number"] = 2
    I.write_manifest(m1, [e])
    s1 = I.write_snapshot(d, 1, [m1, (mdel, 1)])
    I.write_table_metadata(d, 1, [s1], 1, [])

    snap = I.snapshot_files(d)
    assert [f["content"] for f in snap["delete_files"]] == [2, 2]
    assert snap["delete_files"][0]["equality_ids"] == [1]
    df, _s, _n = I.read_snapshot(spark, d)
    # k=1,2 survive (delete seq 2 == data seq 2 -> strict gate holds);
    # k=4 deleted (seq 3 > 2); k=99 deletes nothing
    assert sorted(r["k"] for r in df.collect()) == [
        0, 1, 2, 3, 5, 6, 7, 8, 9,
    ]


def test_position_and_equality_deletes_same_snapshot(tmp_path, spark):
    """BOTH delete kinds (content=1 and content=2) in ONE snapshot:
    the equality pass re-reads _metadata.file_path on a DataFrame the
    position pass already anti-joined — the exact resolution combo the
    round-9 ADVICE flagged as unverified. Position deletes take rows
    0 and 1 (k=0,1) of the single data file; equality deletes take
    k=5; k=7's equality delete is at the data file's own sequence and
    must NOT apply (strict gate)."""
    import glob
    import shutil

    import pyspark.sql.functions as F

    d = _table(tmp_path)
    data_dir = os.path.join(d, "data")
    os.makedirs(data_dir, exist_ok=True)
    f1 = os.path.join(data_dir, "part-0.parquet")
    spark.range(10).select(F.col("id").alias("k")).coalesce(
        1
    ).sortWithinPartitions("k").write.mode("overwrite").parquet(
        data_dir + ".tmp"
    )
    shutil.move(glob.glob(data_dir + ".tmp/*.parquet")[0], f1)

    md = os.path.join(d, "metadata")
    os.makedirs(md, exist_ok=True)
    pd1 = os.path.join(md, "pd1.avro")
    I.write_position_deletes(
        pd1, [{"file_path": f1, "pos": 0}, {"file_path": f1, "pos": 1}]
    )
    fields = [{"name": "k", "type": "long", "field-id": 1}]
    eq1 = os.path.join(md, "eq1.avro")
    I.write_equality_deletes(eq1, fields, [{"k": 5}])
    eq_same = os.path.join(md, "eq-same-seq.avro")
    I.write_equality_deletes(eq_same, fields, [{"k": 7}])

    def eq_entry(path, seq):
        e = _del_entry(path, seq)
        e["data_file"]["content"] = 2
        e["data_file"]["equality_ids"] = [1]
        return e

    mdel = os.path.join(md, "mdel.avro")
    I.write_manifest(
        mdel,
        [_del_entry(pd1, 3), eq_entry(eq1, 3), eq_entry(eq_same, 2)],
    )
    m1 = os.path.join(md, "m1.avro")
    e = _entry(f1)
    e["sequence_number"] = 2
    I.write_manifest(m1, [e])
    s1 = I.write_snapshot(d, 1, [m1, (mdel, 1)])
    I.write_table_metadata(d, 1, [s1], 1, [])

    snap = I.snapshot_files(d)
    assert sorted(f["content"] for f in snap["delete_files"]) == [1, 2, 2]
    df, _s, _n = I.read_snapshot(spark, d)
    # pos deletes drop k=0,1; equality drops k=5; k=7 survives (seq tie)
    assert sorted(r["k"] for r in df.collect()) == [2, 3, 4, 6, 7, 8, 9]


def test_equality_delete_boundaries(tmp_path, spark):
    """Mixed equality_ids across delete files and non-scalar delete
    column types reject loudly."""
    fields = [{"name": "k", "type": "long", "field-id": 1}]
    p1 = str(tmp_path / "a.avro")
    p2 = str(tmp_path / "b.avro")
    I.write_equality_deletes(p1, fields, [{"k": 1}])
    I.write_equality_deletes(p2, fields, [{"k": 2}])
    mixed = [
        {"path": p1, "sequence": 2, "content": 2, "equality_ids": [1]},
        {"path": p2, "sequence": 2, "content": 2, "equality_ids": [1, 2]},
    ]
    with pytest.raises(NotImplementedError, match="mixed equality_ids"):
        I._equality_delete_rows(spark, mixed)
    p3 = str(tmp_path / "c.avro")
    I.write_equality_deletes(
        p3,
        [{"name": "k", "type": "bytes", "field-id": 1}],
        [{"k": b"\x01"}],
    )
    with pytest.raises(NotImplementedError, match="column type"):
        I._equality_delete_rows(
            spark,
            [{"path": p3, "sequence": 2, "content": 2,
              "equality_ids": [1]}],
        )


def test_position_delete_sequence_gate(tmp_path, spark):
    """A data file re-added at a HIGHER sequence (compaction rewrite
    keeping the same path) sheds position deletes issued at a lower
    sequence: delete.seq >= data.seq gates application."""
    import pyspark.sql.functions as F

    d = _table(tmp_path)
    data_dir = os.path.join(d, "data")
    os.makedirs(data_dir, exist_ok=True)
    f1 = os.path.join(data_dir, "part-0.parquet")
    spark.range(10).select(F.col("id").alias("k")).coalesce(
        1
    ).sortWithinPartitions("k").write.mode("overwrite").parquet(
        data_dir + ".tmp"
    )
    import glob
    import shutil

    shutil.move(glob.glob(data_dir + ".tmp/*.parquet")[0], f1)

    md = os.path.join(d, "metadata")
    os.makedirs(md, exist_ok=True)
    pd1 = os.path.join(md, "pd1.avro")
    I.write_position_deletes(
        pd1, [{"file_path": f1, "pos": p} for p in (0, 4, 9)]
    )
    mdel = os.path.join(md, "mdel.avro")
    I.write_manifest(mdel, [_del_entry(pd1, 2)])

    def data_manifest(path_avro, seq):
        e = _entry(f1)
        e["sequence_number"] = seq
        I.write_manifest(path_avro, [e])

    # snapshot 1: data seq 1, deletes seq 2 -> deletes APPLY
    m1 = os.path.join(md, "m1.avro")
    data_manifest(m1, 1)
    s1 = I.write_snapshot(d, 1, [m1, (mdel, 1)])
    # snapshot 2: same path re-added at seq 3 -> deletes DO NOT apply
    m2 = os.path.join(md, "m2.avro")
    data_manifest(m2, 3)
    s2 = I.write_snapshot(d, 2, [m2, (mdel, 1)], parent_id=1)
    I.write_table_metadata(d, 2, [s1, s2], 2, [])

    df1, _s, _n = I.read_snapshot(spark, d, snapshot_id=1)
    assert sorted(r["k"] for r in df1.collect()) == [
        1, 2, 3, 5, 6, 7, 8,
    ]
    df2, _s, _n = I.read_snapshot(spark, d, snapshot_id=2)
    assert df2.count() == 10


def test_read_snapshot_end_to_end(tmp_path, spark):
    import pyspark.sql.functions as F

    d = _table(tmp_path)
    data_dir = os.path.join(d, "data")
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("string").alias("p")
    )
    df.write.partitionBy("p").parquet(data_dir)
    entries = []
    for root, _dirs, names in os.walk(data_dir):
        for n in names:
            if n.endswith(".parquet"):
                full = os.path.join(root, n)
                pval = full.split("p=")[1].split("/")[0]
                entries.append(I.manifest_entry(full, {"p": pval}))
    e = entries[0]
    assert e["status"] == 1 and e["sequence_number"] is None
    assert e["data_file"]["file_format"] == "parquet"
    assert e["data_file"]["file_size_in_bytes"] == os.path.getsize(e["data_file"]["file_path"])
    md = os.path.join(d, "metadata")
    m1 = os.path.join(md, "m1.avro")
    os.makedirs(md, exist_ok=True)
    I.write_manifest(m1, entries)
    s1 = I.write_snapshot(d, 7, [m1])
    I.write_table_metadata(d, 1, [s1], 7, ["p"])
    out, snap, n = I.read_snapshot(spark, d)
    assert n == len(entries)
    assert out.count() == 100
    out1, _s, n1 = I.read_snapshot(spark, d, partition_filter={"p": {"1"}})
    assert n1 < n
    assert out1.agg(F.sum("k")).first()[0] == sum(
        i for i in range(100) if i % 2
    )


def test_schema_evolution_add_and_rename_on_read(tmp_path, spark):
    """Schema evolution over EXISTING data files (round-9 ADVICE item
    7): file A was written under schema v1 (k, v_old); the table then
    renamed v_old -> v_new and added column q; file B carries the new
    schema. Reading the current snapshot must resolve BOTH files via
    the name mapping: A's v_old surfaces as v_new, A's q is a typed
    null — no data rewrite ever happened."""
    import pyspark.sql.functions as F

    d = _table(tmp_path)
    data = os.path.join(d, "data")
    os.makedirs(data, exist_ok=True)

    def one_file(df, name):
        import glob
        import shutil

        tmp = data + ".tmp"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        p = os.path.join(data, name)
        shutil.move(glob.glob(tmp + "/*.parquet")[0], p)
        shutil.rmtree(tmp)
        return p

    fa = one_file(
        spark.range(5).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v_old")
        ),
        "a.parquet",
    )
    fb = one_file(
        spark.range(5, 8).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v_new"),
            F.concat(F.lit("q"), F.col("id")).alias("q"),
        ),
        "b.parquet",
    )
    md = os.path.join(d, "metadata")
    m1 = os.path.join(md, "m1.avro")
    I.write_manifest(m1, [_entry(fa), _entry(fb)])
    s1 = I.write_snapshot(d, 1, [m1])
    schema_fields = [
        {"id": 1, "name": "k", "type": "long"},
        {"id": 2, "name": "v_new", "type": "long"},
        {"id": 3, "name": "q", "type": "string"},
    ]
    name_mapping = [
        {"field-id": 1, "names": ["k"]},
        {"field-id": 2, "names": ["v_old", "v_new"]},
        {"field-id": 3, "names": ["q"]},
    ]
    I.write_table_metadata(
        d, 1, [s1], 1, [],
        schema_fields=schema_fields,
        properties={"schema.name-mapping.default":
                    json.dumps(name_mapping)},
    )
    df, _s, n = I.read_snapshot(spark, d)
    assert n == 2
    assert df.columns == ["k", "v_new", "q"]
    rows = {r["k"]: (r["v_new"], r["q"]) for r in df.collect()}
    assert rows[0] == (0, None) and rows[4] == (40, None)  # old file
    assert rows[7] == (70, "q7")  # new file
    assert dict(df.dtypes)["q"] == "string"
    # unsupported added-column type rejects loudly
    I.write_table_metadata(
        d, 2, [s1], 1, [],
        schema_fields=schema_fields
        + [{"id": 4, "name": "m", "type": "map<string,string>"}],
        properties={"schema.name-mapping.default":
                    json.dumps(name_mapping)},
    )
    with pytest.raises(NotImplementedError, match="unsupported"):
        I.read_snapshot(spark, d)


def test_murmur3_spec_vectors_and_vectorized_path():
    """The spec's Appendix B bucket-hash examples, reproduced by an
    independent from-scratch Murmur3: hashLong(34) and
    hashString('iceberg'). The numpy write path must agree with the
    scalar element-for-element."""
    import numpy as np

    assert I.murmur3_x86_32((34).to_bytes(8, "little", signed=True)) \
        == 2017239379
    assert I.murmur3_x86_32(b"iceberg") == 1210000089
    assert I.murmur3_x86_32(b"") == 0
    rng = [0, 1, -1, 34, 2**40, -(2**40), 2**62, -(2**62), 123456789]
    vals = np.array(rng, dtype=np.int64)
    for n in (2, 8, 16, 1 << 20):
        vec = list(I.bucket_long_numpy(vals, n))
        sca = [I.bucket_transform(v, n) for v in rng]
        assert vec == sca, (n, vec, sca)


def test_murmur3_against_spark_jvm(spark):
    """Cross-check against Spark's JVM Murmur3 (seed 42) on
    word-aligned inputs — Spark's nonstandard byte-tail mixing never
    runs when len % 4 == 0, so both sides follow the reference
    algorithm and must agree exactly."""
    import pyspark.sql.functions as F

    blobs = [
        bytes((i * 37 + j * 11) % 256 for j in range(ln))
        for i, ln in enumerate([4, 8, 12, 16, 32, 64, 0])
    ]
    df = spark.createDataFrame(
        [(i, b) for i, b in enumerate(blobs)], "i int, b binary"
    )
    got = {
        r["i"]: r["h"]
        for r in df.select("i", F.hash("b").alias("h")).collect()
    }
    for i, b in enumerate(blobs):
        assert got[i] == I.murmur3_x86_32(b, seed=42), (i, len(b))


def test_partition_transforms():
    # truncate floors toward -inf (spec example truncate(10, -1) = -10)
    assert I.apply_transform("truncate[10]", -1) == -10
    assert I.apply_transform("truncate[10]", 10) == 10
    assert I.apply_transform("truncate[10]", -10) == -10
    assert I.apply_transform("truncate[3]", "iceberg") == "ice"
    assert I.apply_transform("truncate[9]", "ice") == "ice"
    import datetime

    d = datetime.date(2017, 11, 16)
    assert I.apply_transform("day", d) == 17486
    assert I.apply_transform("day", "2017-11-16") == 17486
    assert I.apply_transform("month", d) == 47 * 12 + 10
    assert I.apply_transform("year", d) == 47
    assert I.apply_transform("identity", "x") == "x"
    assert I.apply_transform("void", "x") is None
    assert I.apply_transform("bucket[16]", None) is None
    assert I.apply_transform("bucket[16]", "iceberg") == \
        (1210000089 & 0x7FFFFFFF) % 16
    with pytest.raises(NotImplementedError, match="boolean"):
        I.apply_transform("bucket[4]", True)
    with pytest.raises(NotImplementedError, match="float"):
        I.apply_transform("bucket[4]", 1.5)
    with pytest.raises(NotImplementedError, match="unsupported"):
        I.apply_transform("zorder", 1)
    with pytest.raises(ValueError, match="positive"):
        I.apply_transform("truncate[0]", 5)


def test_transform_partition_filter():
    spec = [
        {"name": "kb", "transform": "bucket[8]",
         "source-name": "k"},
        {"name": "pday", "transform": "day", "source-name": "d"},
        {"name": "untouched", "transform": "identity",
         "source-name": "z"},
    ]
    pf = I.transform_partition_filter(
        spec, {"k": {34}, "d": {"2017-11-16", None}}
    )
    assert pf == {
        "kb": {str((2017239379 & 0x7FFFFFFF) % 8)},
        "pday": {"17486", None},
    }
    files = [
        {"path": "a", "partition": {"kb": "3", "pday": "17486"}},
        {"path": "b", "partition": {"kb": "9", "pday": "17486"}},
    ]
    kb34 = str((2017239379 & 0x7FFFFFFF) % 8)
    got = I.prune_files(files, {"kb": {kb34}})
    assert [f["path"] for f in got] == (["a"] if kb34 == "3" else [])


def test_bounds_pruning_and_single_value_serialization():
    assert I.long_bound(1) == b"\x01\x00\x00\x00\x00\x00\x00\x00"
    assert I.long_bound(-2) == b"\xfe\xff\xff\xff\xff\xff\xff\xff"
    assert I.decode_long_bound(I.long_bound(-(10**17))) == -(10**17)
    with pytest.raises(ValueError, match="8 bytes"):
        I.decode_long_bound(b"\x01")
    files = [
        {"path": "a", "partition": {},
         "lower_bounds": {1: I.long_bound(0)},
         "upper_bounds": {1: I.long_bound(10)}},
        {"path": "b", "partition": {},
         "lower_bounds": {1: I.long_bound(20)},
         "upper_bounds": {1: I.long_bound(30)}},
        {"path": "c", "partition": {},
         "lower_bounds": {}, "upper_bounds": {}},  # no metric: KEEP
    ]
    got = I.prune_files(files, None, bounds_ranges={1: (12, 18)})
    assert [f["path"] for f in got] == ["c"]
    got = I.prune_files(files, None, bounds_ranges={1: (5, 25)})
    assert [f["path"] for f in got] == ["a", "b", "c"]
    got = I.prune_files(files, None, bounds_ranges={1: (30, 99)})
    assert [f["path"] for f in got] == ["b", "c"]


def test_manifest_field_summary_pruning(tmp_path):
    """Manifest-list field_summary bounds (spec field 507) skip whole
    DATA manifests without reading them; manifests without summaries
    and delete manifests are never skipped."""
    d = _table(tmp_path)
    md = os.path.join(d, "metadata")
    m_low = os.path.join(md, "mlow.avro")
    I.write_manifest(m_low, [_entry("f-low", 1, {"kr": "0"})])
    m_high = os.path.join(md, "mhigh.avro")
    I.write_manifest(m_high, [_entry("f-high", 1, {"kr": "7"})])
    m_bare = os.path.join(md, "mbare.avro")
    I.write_manifest(m_bare, [_entry("f-bare", 1, {"kr": "9"})])

    def summ(lo, hi):
        return [{"contains_null": False,
                 "lower_bound": I.long_bound(lo),
                 "upper_bound": I.long_bound(hi)}]

    s1 = I.write_snapshot(
        d, 1,
        [(m_low, 0, summ(0, 3)), (m_high, 0, summ(4, 7)),
         (m_bare, 0, None)],
    )
    I.write_table_metadata(d, 1, [s1], 1, ["kr"])
    # no ranges: everything read
    snap = I.snapshot_files(d)
    assert snap["n_manifests"] == 3
    assert snap["n_manifests_skipped"] == 0
    # range (5, 9): m_low disjoint -> skipped unread; bare kept
    snap = I.snapshot_files(d, manifest_ranges={0: (5, 9)})
    assert snap["n_manifests"] == 2
    assert snap["n_manifests_skipped"] == 1
    assert [f["path"] for f in snap["files"]] == ["f-bare", "f-high"]
    # range outside every summarized manifest: only bare survives
    snap = I.snapshot_files(d, manifest_ranges={0: (100, 200)})
    assert snap["n_manifests_skipped"] == 2
    assert [f["path"] for f in snap["files"]] == ["f-bare"]
    # a position that's not summarized is ignored (kept)
    snap = I.snapshot_files(d, manifest_ranges={5: (100, 200)})
    assert snap["n_manifests_skipped"] == 0


def test_manifest_summary_never_skips_delete_manifests(tmp_path):
    d = _table(tmp_path)
    md = os.path.join(d, "metadata")
    m1 = os.path.join(md, "m1.avro")
    e = _entry("f1", 1, {"kr": "0"})
    e["sequence_number"] = 1
    I.write_manifest(m1, [e])
    pd1 = os.path.join(md, "pd1.avro")
    I.write_position_deletes(pd1, [{"file_path": "f1", "pos": 0}])
    mdel = os.path.join(md, "mdel.avro")
    I.write_manifest(mdel, [_del_entry(pd1, 2)])

    def summ(lo, hi):
        return [{"contains_null": False,
                 "lower_bound": I.long_bound(lo),
                 "upper_bound": I.long_bound(hi)}]

    s1 = I.write_snapshot(
        d, 1, [(m1, 0, summ(0, 0)), (mdel, 1, summ(50, 99))]
    )
    I.write_table_metadata(d, 1, [s1], 1, ["kr"])
    snap = I.snapshot_files(d, manifest_ranges={0: (0, 0)})
    # the delete manifest's summary is disjoint but it is still read
    assert snap["n_manifests_skipped"] == 0
    assert len(snap["delete_files"]) == 1


def test_expire_snapshots_reachability(tmp_path):
    """Expiry orphans exactly what only expired snapshots reach;
    files shared with surviving snapshots (EXISTING carry-over) live
    on. The current snapshot cannot be expired."""
    d = _table(tmp_path)
    md = os.path.join(d, "metadata")
    # fake data files on disk so GC can unlink them
    for f in ("fa", "fb", "fc"):
        open(os.path.join(md, f), "w").write("x")
    fa, fb, fc = (os.path.join(md, f) for f in ("fa", "fb", "fc"))
    m1 = os.path.join(md, "m1.avro")
    I.write_manifest(m1, [_entry(fa), _entry(fb)])
    s1 = I.write_snapshot(d, 1, [m1])
    m2 = os.path.join(md, "m2.avro")
    I.write_manifest(m2, [_entry(fb, 0), _entry(fc)])
    s2 = I.write_snapshot(d, 2, [m2], parent_id=1)
    I.write_table_metadata(d, 1, [s1, s2], 2, [])

    with pytest.raises(ValueError, match="current snapshot"):
        I.expire_snapshots(d, {1})
    with pytest.raises(ValueError, match="unknown snapshot"):
        I.expire_snapshots(d, {2, 99})

    res = I.expire_snapshots(d, {2}, delete_orphans=True)
    assert res["expired"] == [1]
    assert res["orphan_files"] == [fa]          # fb shared -> kept
    assert res["orphan_manifests"] == [m1]
    assert not os.path.exists(fa)
    assert os.path.exists(fb) and os.path.exists(fc)
    # new metadata version: snapshot 1 gone, 2 readable
    meta = I.load_table_metadata(d)
    assert [s["snapshot-id"] for s in meta["snapshots"]] == [2]
    assert I.snapshot_files(d)["snapshot_id"] == 2
    with pytest.raises(ValueError, match="snapshot 1"):
        I.snapshot_files(d, 1)


def test_hour_transform_and_rollback_and_incremental(tmp_path):
    import datetime

    # hour = hours from epoch; tz-aware input normalizes to UTC
    ts = datetime.datetime(2017, 11, 16, 22, 31, 8)
    assert I.apply_transform("hour", ts) == 17486 * 24 + 22
    assert I.apply_transform("hour", "2017-11-16T22:31:08") == \
        17486 * 24 + 22
    tz = datetime.timezone(datetime.timedelta(hours=10))
    assert I.apply_transform(
        "hour", ts.replace(tzinfo=tz)
    ) == 17486 * 24 + 12
    with pytest.raises(NotImplementedError, match="timestamp"):
        I.apply_transform("hour", 5)

    d = _table(tmp_path)
    md = os.path.join(d, "metadata")
    m1 = os.path.join(md, "m1.avro")
    I.write_manifest(m1, [_entry("f1")])
    s1 = I.write_snapshot(d, 1, [m1])
    m2 = os.path.join(md, "m2.avro")
    I.write_manifest(m2, [_entry("f2")])
    s2 = I.write_snapshot(d, 2, [m1, m2], parent_id=1)
    I.write_table_metadata(d, 1, [s1, s2], 2, [])

    assert [f["path"] for f in I.incremental_files(d, 1, 2)] == ["f2"]
    assert I.incremental_files(d, 2, 2) == []

    I.rollback_to_snapshot(d, 1)
    assert I.snapshot_files(d)["snapshot_id"] == 1
    assert I.load_table_metadata(d)["_metadata_version"] == 2
    # snapshot 2 still reachable by explicit id
    assert [f["path"] for f in I.snapshot_files(d, 2)["files"]] == [
        "f1", "f2",
    ]
    with pytest.raises(ValueError, match="unknown snapshot"):
        I.rollback_to_snapshot(d, 99)


def test_merge_upsert_mor(tmp_path, spark):
    """MOR upsert: one snapshot = equality-delete(source keys) +
    append(source rows); no base file rewritten; the new file is not
    hit by its own delete (strict gate)."""
    import glob
    import shutil

    import pyspark.sql.functions as F

    d = _table(tmp_path)
    data_dir = os.path.join(d, "data")
    os.makedirs(data_dir, exist_ok=True)
    spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    ).coalesce(1).write.parquet(data_dir + ".tmp")
    f1 = os.path.join(data_dir, "base.parquet")
    shutil.move(glob.glob(data_dir + ".tmp/*.parquet")[0], f1)

    md = os.path.join(d, "metadata")
    os.makedirs(md, exist_ok=True)
    e = _entry(f1)
    e["sequence_number"] = 1
    m1 = os.path.join(md, "m1.avro")
    I.write_manifest(m1, [e])
    s1 = I.write_snapshot(d, 1, [m1])
    I.write_table_metadata(d, 1, [s1], 1, [])

    source = spark.createDataFrame(
        [(3, 333), (7, 777), (20, 20)], "k long, v long"
    )
    res = I.merge_upsert_mor(
        spark, d, source, key="k", key_field_id=1, new_snapshot_id=2
    )
    assert res == {"snapshot_id": 2, "sequence": 2, "n_source_rows": 3}
    df, snap, _n = I.read_snapshot(spark, d)
    rows = {r["k"]: r["v"] for r in df.collect()}
    assert len(rows) == 11
    assert rows[3] == 333 and rows[7] == 777 and rows[20] == 20
    assert rows[4] == 8
    assert f1 in {f["path"] for f in snap["files"]}
    # time travel to the base snapshot unaffected
    df1, _s, _ = I.read_snapshot(spark, d, snapshot_id=1)
    assert df1.count() == 10


def test_evolution_config_loud_on_missing_schema():
    """current-schema-id pointing at a missing schema entry raises a
    named ValueError, not a bare StopIteration."""
    meta = {
        "schemas": [{"schema-id": 0, "fields": []}],
        "current-schema-id": 7,
        "properties": {"schema.name-mapping.default": "[]"},
    }
    with pytest.raises(ValueError, match="current-schema-id 7"):
        I._evolution_config(meta)


def test_format_version_3_acceptance_and_boundaries(tmp_path):
    """v3 metadata is accepted (row-lineage bookkeeping ignored for
    user-column reads); v4, encryption-keys and puffin deletion
    vectors reject loudly."""
    d = _table(tmp_path)
    md = os.path.join(d, "metadata")
    m1 = os.path.join(md, "m1.avro")
    I.write_manifest(m1, [_entry("f1")])
    s1 = I.write_snapshot(d, 1, [m1])
    path = I.write_table_metadata(d, 1, [s1], 1, [], format_version=3)
    doc = json.load(open(path))
    assert doc["format-version"] == 3 and doc["next-row-id"] == 1
    assert [f["path"] for f in I.snapshot_files(d)["files"]] == ["f1"]

    # encryption-keys: loud
    doc["encryption-keys"] = [{"key-id": "k1"}]
    json.dump(doc, open(path, "w"))
    with pytest.raises(NotImplementedError, match="encryption-keys"):
        I.load_table_metadata(d)

    # format-version 4: loud
    doc.pop("encryption-keys")
    doc["format-version"] = 4
    json.dump(doc, open(path, "w"))
    with pytest.raises(NotImplementedError, match="format-version 4"):
        I.load_table_metadata(d)


def test_puffin_container_and_dv_blob_roundtrip(tmp_path):
    """The Puffin container (magic / footer payload / size / flags)
    and the deletion-vector-v1 blob framing (4-byte BE length,
    RoaringBitmapArray with the Delta-interop magic, 4-byte BE
    CRC-32) round-trip, and every declared invariant is loud."""
    import struct
    import zlib

    p = str(tmp_path / "dvs.puffin")
    frags = I.write_puffin_dvs(
        p, [("data/a.parquet", [0, 2, 5, 100000]),
            ("data/b.parquet", list(range(50)))],
    )
    buf = open(p, "rb").read()
    foot = I.read_puffin_footer(buf)
    assert [b["type"] for b in foot["blobs"]] == [
        "deletion-vector-v1"] * 2
    assert foot["blobs"][0]["properties"]["cardinality"] == "4"
    got = I.read_deletion_vector(
        buf, frags[0]["offset"], frags[0]["length"],
        frags[0]["cardinality"],
    )
    assert got == [0, 2, 5, 100000]
    assert I.read_deletion_vector(
        buf, frags[1]["offset"], frags[1]["length"], 50
    ) == list(range(50))

    # loud: CRC corruption
    bad = bytearray(buf)
    bad[frags[0]["offset"] + 6] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        I.read_deletion_vector(bytes(bad), frags[0]["offset"],
                               frags[0]["length"])
    # loud: declared cardinality mismatch
    with pytest.raises(ValueError, match="cardinality"):
        I.read_deletion_vector(buf, frags[0]["offset"],
                               frags[0]["length"], 5)
    # loud: compressed-footer flag
    bad = bytearray(buf)
    bad[-8] |= 1
    with pytest.raises(NotImplementedError, match="compressed"):
        I.read_puffin_footer(bytes(bad))
    # loud: reserved flag bits
    bad = bytearray(buf)
    bad[-7] = 0x40
    with pytest.raises(ValueError, match="reserved"):
        I.read_puffin_footer(bytes(bad))
    # loud: bad magic
    with pytest.raises(ValueError, match="magic"):
        I.read_puffin_footer(b"XXXX" + buf[4:])
    # loud: length-header mismatch
    off = frags[0]["offset"]
    blob = bytearray(buf[off:off + frags[0]["length"]])
    blob[:4] = struct.pack(">i", 3)
    with pytest.raises(ValueError, match="length header"):
        I.read_deletion_vector(bytes(blob), 0, len(blob))
    assert zlib.crc32(b"") == 0  # anchor the import


def _dv_manifest_entry(puffin_path, ref, frag, status=1):
    return {
        "status": status, "snapshot_id": 1,
        "data_file": {
            "content": 1, "file_path": puffin_path,
            "file_format": "puffin", "partition": {},
            "record_count": frag["cardinality"],
            "file_size_in_bytes": 1,
            "referenced_data_file": ref,
            "content_offset": frag["offset"],
            "content_size_in_bytes": frag["length"],
        },
    }


def test_v3_deletion_vectors_end_to_end(tmp_path, spark):
    """v3 deletion vectors merge-on-read: two data files, one puffin
    DV per file; read_snapshot drops exactly the referenced row
    positions. The sequence gate holds (a DV older than a re-added
    file does not apply), one-DV-per-file is enforced, and malformed
    DV manifest entries are loud."""
    import pyspark.sql.functions as F

    d = _table(tmp_path)
    data = os.path.join(d, "data")
    os.makedirs(data, exist_ok=True)

    def one_file(lo, hi, name):
        import glob
        import shutil

        tmp = data + ".tmp"
        spark.range(lo, hi).coalesce(1).select(
            F.col("id").alias("k")
        ).write.mode("overwrite").parquet(tmp)
        p = os.path.join(data, name)
        shutil.move(glob.glob(tmp + "/*.parquet")[0], p)
        shutil.rmtree(tmp)
        return p

    fa = one_file(0, 10, "a.parquet")    # rows 0..9, pos = k
    fb = one_file(10, 20, "b.parquet")   # rows 10..19, pos = k - 10
    puffin = os.path.join(d, "metadata", "dvs.puffin")
    os.makedirs(os.path.join(d, "metadata"), exist_ok=True)
    frags = I.write_puffin_dvs(
        puffin, [(fa, [1, 3]), (fb, [0, 9])]
    )
    md = os.path.join(d, "metadata")
    m1 = os.path.join(md, "m1.avro")
    I.write_manifest(m1, [
        dict(_entry(fa), sequence_number=1),
        dict(_entry(fb), sequence_number=1),
    ])
    mdv = os.path.join(md, "dv.avro")
    I.write_manifest(mdv, [
        dict(_dv_manifest_entry(puffin, fa, frags[0]),
             sequence_number=2),
        dict(_dv_manifest_entry(puffin, fb, frags[1]),
             sequence_number=2),
    ])
    s1 = I.write_snapshot(d, 1, [m1, (mdv, 1)])
    I.write_table_metadata(d, 1, [s1], 1, [], format_version=3)

    snap = I.snapshot_files(d)
    assert len(snap["delete_files"]) == 2
    assert all(f["dv"] for f in snap["delete_files"])
    df, _s, n = I.read_snapshot(spark, d)
    assert n == 2
    got = sorted(r.k for r in df.collect())
    # dropped: a.parquet pos 1,3 (k=1,3); b.parquet pos 0,9 (k=10,19)
    assert got == [0, 2] + list(range(4, 10)) + list(range(11, 19))

    # sequence gate: a DV with sequence 0 predates the data files
    # (sequence 1) -> nothing applies
    mdv0 = os.path.join(md, "dv0.avro")
    I.write_manifest(mdv0, [
        dict(_dv_manifest_entry(puffin, fa, frags[0]),
             sequence_number=0),
    ])
    s2 = I.write_snapshot(d, 2, [m1, (mdv0, 1)])
    I.write_table_metadata(d, 2, [s1, s2], 2, [], format_version=3)
    df2, _s, _n = I.read_snapshot(spark, d)
    assert df2.count() == 20

    # one DV per data file per snapshot: duplicates are loud
    mdv2 = os.path.join(md, "dv2.avro")
    I.write_manifest(mdv2, [
        dict(_dv_manifest_entry(puffin, fa, frags[0]),
             sequence_number=2),
        dict(_dv_manifest_entry(puffin, fa, frags[1]),
             sequence_number=2),
    ])
    s3 = I.write_snapshot(d, 3, [m1, (mdv2, 1)])
    I.write_table_metadata(d, 3, [s1, s2, s3], 3,
                           [], format_version=3)
    with pytest.raises(ValueError, match="multiple deletion vectors"):
        I.read_snapshot(spark, d)

    # malformed: puffin without referenced_data_file
    mbad = os.path.join(md, "bad.avro")
    I.write_manifest(mbad, [{
        "status": 1, "snapshot_id": 1,
        "data_file": {
            "content": 1, "file_path": puffin,
            "file_format": "puffin", "partition": {},
            "record_count": 1, "file_size_in_bytes": 1,
        },
    }])
    s4 = I.write_snapshot(d, 4, [m1, (mbad, 1)])
    I.write_table_metadata(d, 4, [s1, s2, s3, s4], 4,
                           [], format_version=3)
    with pytest.raises(ValueError, match="without referenced_data"):
        I.snapshot_files(d)


def test_v3_initial_default_on_read(tmp_path, spark):
    """v3 default values: rows from files written BEFORE a column
    existed take its initial-default; rows from files that HAVE the
    column keep written values INCLUDING real nulls (null != default
    — a blanket coalesce would destroy them)."""
    import pyspark.sql.functions as F

    d = _table(tmp_path)
    data = os.path.join(d, "data")
    os.makedirs(data, exist_ok=True)

    def one_file(df, name):
        import glob
        import shutil

        tmp = data + ".tmp"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        p = os.path.join(data, name)
        shutil.move(glob.glob(tmp + "/*.parquet")[0], p)
        shutil.rmtree(tmp)
        return p

    fa = one_file(
        spark.range(5).select(F.col("id").alias("k")), "a.parquet")
    fb = one_file(
        spark.range(5, 9).select(
            F.col("id").alias("k"),
            F.when(F.col("id") % 2 == 0, F.lit("written"))
            .alias("status"),  # odd ids: REAL nulls
        ),
        "b.parquet",
    )
    md = os.path.join(d, "metadata")
    m1 = os.path.join(md, "m1.avro")
    I.write_manifest(m1, [_entry(fa), _entry(fb)])
    s1 = I.write_snapshot(d, 1, [m1])
    schema_fields = [
        {"id": 1, "name": "k", "type": "long"},
        {"id": 2, "name": "status", "type": "string",
         "initial-default": "NEW", "write-default": "NEW"},
    ]
    I.write_table_metadata(
        d, 1, [s1], 1, [], schema_fields=schema_fields,
        format_version=3,
    )
    df, _s, n = I.read_snapshot(spark, d)
    assert n == 2
    assert df.columns == ["k", "status"]
    rows = {r["k"]: r["status"] for r in df.collect()}
    assert rows[0] == "NEW" and rows[4] == "NEW"   # pre-column file
    assert rows[6] == "written" and rows[8] == "written"
    assert rows[5] is None and rows[7] is None     # real nulls kept

    # column absent from EVERY file: every row takes the default
    schema_fields.append(
        {"id": 3, "name": "prio", "type": "int", "initial-default": 7}
    )
    I.write_table_metadata(
        d, 2, [s1], 1, [], schema_fields=schema_fields,
        format_version=3,
    )
    df2, _s, _n = I.read_snapshot(spark, d)
    assert df2.filter("prio = 7").count() == 9
    assert dict(df2.dtypes)["prio"] == "int"

    # binary defaults deserialize from the spec's hex serialization
    # (boundary removed round 12); malformed hex stays loud
    schema_fields.append(
        {"id": 4, "name": "blob", "type": "binary",
         "initial-default": "dead"}
    )
    I.write_table_metadata(
        d, 3, [s1], 1, [], schema_fields=schema_fields,
        format_version=3,
    )
    df3, _s, _n = I.read_snapshot(spark, d)
    assert df3.filter(df3.blob == bytes.fromhex("dead")).count() \
        == df3.count()
    schema_fields[-1]["initial-default"] = "0xDEAD"
    I.write_table_metadata(
        d, 4, [s1], 1, [], schema_fields=schema_fields,
        format_version=3,
    )
    with pytest.raises(ValueError, match="not valid hex"):
        I.read_snapshot(spark, d)


def test_v3_defaults_and_deletion_vectors_combined(tmp_path, spark):
    """initial-default resolution and DV merge-on-read compose: the
    file-identity column is bound before the anti-join, so default
    backfill still lands per file after rows were deleted."""
    import pyspark.sql.functions as F

    d = _table(tmp_path)
    data = os.path.join(d, "data")
    os.makedirs(data, exist_ok=True)

    def one_file(lo, hi, name, with_status):
        import glob
        import shutil

        tmp = data + ".tmp"
        df = spark.range(lo, hi).coalesce(1).select(
            F.col("id").alias("k"))
        if with_status:
            df = df.select("k", F.concat(F.lit("s"), F.col("k"))
                           .alias("status"))
        df.write.mode("overwrite").parquet(tmp)
        p = os.path.join(data, name)
        shutil.move(glob.glob(tmp + "/*.parquet")[0], p)
        shutil.rmtree(tmp)
        return p

    fa = one_file(0, 6, "old.parquet", False)   # pre-column
    fb = one_file(6, 10, "new.parquet", True)   # has status
    md = os.path.join(d, "metadata")
    puffin = os.path.join(md, "dvs.puffin")
    os.makedirs(md, exist_ok=True)
    frags = I.write_puffin_dvs(puffin, [(fa, [0, 5]), (fb, [1])])
    m1 = os.path.join(md, "m1.avro")
    I.write_manifest(m1, [
        dict(_entry(fa), sequence_number=1),
        dict(_entry(fb), sequence_number=1),
    ])
    mdv = os.path.join(md, "dv.avro")
    I.write_manifest(mdv, [
        dict(_dv_manifest_entry(puffin, fa, frags[0]),
             sequence_number=2),
        dict(_dv_manifest_entry(puffin, fb, frags[1]),
             sequence_number=2),
    ])
    s1 = I.write_snapshot(d, 1, [m1, (mdv, 1)])
    I.write_table_metadata(
        d, 1, [s1], 1, [],
        schema_fields=[
            {"id": 1, "name": "k", "type": "long"},
            {"id": 2, "name": "status", "type": "string",
             "initial-default": "NEW"},
        ],
        format_version=3,
    )
    df, _s, n = I.read_snapshot(spark, d)
    assert n == 2
    assert df.columns == ["k", "status"]
    rows = {r.k: r.status for r in df.collect()}
    # deleted: fa pos 0,5 (k=0,5); fb pos 1 (k=7)
    assert sorted(rows) == [1, 2, 3, 4, 6, 8, 9]
    assert rows[1] == "NEW" and rows[4] == "NEW"
    assert rows[6] == "s6" and rows[9] == "s9"


def test_sequence_number_inheritance(tmp_path):
    """Spec "Sequence Number Inheritance" (spec fields 515/516): an
    ADDED entry with null sequence_number takes the manifest list's
    data sequence number; EXISTING/DELETED entries must carry their
    own (they were written by an older snapshot) — a null there
    raises; lists without field 515 keep the v1 null-means-0 rule."""
    d = _table(tmp_path)
    md = os.path.join(d, "metadata")
    m1 = os.path.join(md, "m1.avro")
    # ADDED entry, NO explicit sequence -> inherits 7
    I.write_manifest(m1, [_entry("f1")])
    s1 = I.write_snapshot(d, 1, [(m1, 0, None, 7)])
    I.write_table_metadata(d, 1, [s1], 1, [])
    snap = I.snapshot_files(d)
    assert snap["files"][0]["sequence"] == 7

    # explicit entry sequence wins over the manifest's
    m2 = os.path.join(md, "m2.avro")
    I.write_manifest(m2, [dict(_entry("f2"), sequence_number=3)])
    s2 = I.write_snapshot(d, 2, [(m2, 0, None, 9)])
    I.write_table_metadata(d, 2, [s1, s2], 2, [])
    assert I.snapshot_files(d)["files"][0]["sequence"] == 3

    # EXISTING entry with null sequence under a sequenced list: loud
    m3 = os.path.join(md, "m3.avro")
    I.write_manifest(m3, [_entry("f3", status=0)])
    s3 = I.write_snapshot(d, 3, [(m3, 0, None, 9)])
    I.write_table_metadata(d, 3, [s1, s2, s3], 3, [])
    with pytest.raises(ValueError, match="cannot inherit"):
        I.snapshot_files(d)

    # v1-era list (no field 515): null still means 0
    m4 = os.path.join(md, "m4.avro")
    I.write_manifest(m4, [_entry("f4", status=0)])
    s4 = I.write_snapshot(d, 4, [m4])
    I.write_table_metadata(d, 4, [s1, s2, s3, s4], 4, [])
    assert I.snapshot_files(d)["files"][0]["sequence"] == 0

    # inheritance drives the position-delete gate end-to-end:
    # delete manifest at seq 8 >= inherited data seq 7 -> applies
    pd1 = os.path.join(md, "pd1.avro")
    I.write_position_deletes(pd1, [{"file_path": "f1", "pos": 0}])
    mdel = os.path.join(md, "mdel.avro")
    I.write_manifest(mdel, [{
        "status": 1, "snapshot_id": 5,
        "data_file": {
            "content": 1, "file_path": pd1, "file_format": "avro",
            "partition": {}, "record_count": 1,
            "file_size_in_bytes": 1,
        },
    }])
    s5 = I.write_snapshot(d, 5, [(m1, 0, None, 7), (mdel, 1, None, 8)])
    I.write_table_metadata(d, 5, [s1, s2, s3, s4, s5], 5, [])
    snap = I.snapshot_files(d)
    assert snap["files"][0]["sequence"] == 7
    assert snap["delete_files"][0]["sequence"] == 8


def test_v3_typed_defaults_and_type_map():
    """Round-12 v3 completion: _spark_type covers the v3-only types
    (variant/geometry stay loud) and _default_expr deserializes the
    spec's JSON single-value forms with length checks."""
    assert I._spark_type("decimal(9, 2)") == "decimal(9, 2)"
    assert I._spark_type("fixed[16]") == "binary"
    assert I._spark_type("uuid") == "binary"
    assert I._spark_type("timestamp_ns") == "bigint"
    assert I._spark_type("unknown") == "void"
    assert I._spark_type("variant") == "variant"
    assert I._spark_type("geometry(OGC:CRS84)") == "binary"
    assert I._spark_type("geography") == "binary"
    with pytest.raises(NotImplementedError, match="nested"):
        I._spark_type("map<string,string>")

    # defaults: loud misuse
    with pytest.raises(ValueError, match="always null"):
        I._default_expr("unknown", "x")
    with pytest.raises(ValueError, match="not 16 bytes"):
        I._default_expr("uuid", "0f1e")
    with pytest.raises(ValueError, match="fixed\\[4\\]"):
        I._default_expr("fixed[4]", "616263")
    # round 13: variant/geometry defaults are implemented; misuse is
    # a named ValueError, not a NotImplementedError boundary anymore
    with pytest.raises(ValueError, match="variant initial-default"):
        I._default_expr("variant", "{}")
    with pytest.raises(ValueError, match="hex-encoded WKB"):
        I._default_expr("geometry(OGC:CRS84)", "zz")
    with pytest.raises(ValueError, match="byte-order"):
        I._default_expr("geometry", "ff" * 6)


def test_v3_typed_defaults_literal_values(spark):
    """The deserialized default literals evaluate to the exact typed
    values the spec's serialization encodes."""
    from decimal import Decimal

    row = spark.range(1).select(
        I._default_expr("decimal(9, 2)", "12.34").alias("dec"),
        I._default_expr(
            "uuid", "0f1e2d3c-4b5a-6978-8796-a5b4c3d2e1f0"
        ).alias("uid"),
        I._default_expr("fixed[4]", "61626364").alias("tag"),
        I._default_expr("binary", "deadbeef").alias("blob"),
        I._default_expr(
            "timestamp_ns", "2026-01-02T03:04:05.123456789"
        ).alias("ns"),
    ).collect()[0]
    assert row.dec == Decimal("12.34")
    assert row.uid == bytes.fromhex("0f1e2d3c4b5a69788796a5b4c3d2e1f0")
    assert row.tag == b"abcd"
    assert row.blob == bytes.fromhex("deadbeef")
    assert row.ns == 1767323045123456789


def test_v3_variant_and_geometry_read(tmp_path, spark):
    """The last v3 type-map rows (round 12): a variant column in a
    Spark-written data file (Spark's writer shreds it — the same
    physical layout the Delta variantShredding path reads) surfaces
    as Spark's native VariantType through read_snapshot, geometry
    reads as WKB binary, and an ADDED variant column absent from
    every file backfills to typed null."""
    import glob
    import json
    import shutil
    import struct

    d = str(tmp_path / "v3var")
    data = os.path.join(d, "data")
    md = os.path.join(d, "metadata")
    os.makedirs(data)
    os.makedirs(md)

    # WKB point (little-endian, type 1): deterministic per k
    def wkb_point(x, y):
        return struct.pack("<BIdd", 1, 1, float(x), float(y))

    tmp = data + ".tmp"
    spark.sql(
        "SELECT id AS k, parse_json(to_json(named_struct("
        "'a', id, 's', concat('p', id)))) AS v FROM range(4)"
    ).coalesce(1).write.parquet(tmp)
    fa = os.path.join(data, "f1.parquet")
    shutil.move(glob.glob(tmp + "/*.parquet")[0], fa)
    shutil.rmtree(tmp)

    import pyarrow as pa
    import pyarrow.parquet as pq

    fb = os.path.join(data, "f2.parquet")
    pq.write_table(pa.table({
        "k": pa.array([10, 11], pa.int64()),
        "geom": pa.array([wkb_point(1, 2), wkb_point(3, 4)],
                         pa.binary()),
    }), fb)

    m1 = os.path.join(md, "m1.avro")
    I.write_manifest(m1, [{
        "status": 1, "snapshot_id": 1,
        "data_file": {"content": 0, "file_path": p,
                      "file_format": "parquet", "partition": {},
                      "record_count": 1,
                      "file_size_in_bytes": os.path.getsize(p)},
    } for p in (fa, fb)])
    s1 = I.write_snapshot(d, 1, [m1])
    schema_fields = [
        {"id": 1, "name": "k", "type": "long"},
        {"id": 2, "name": "v", "type": "variant"},
        {"id": 3, "name": "geom", "type": "geometry(OGC:CRS84)"},
        # added variant column: absent everywhere -> typed null
        {"id": 4, "name": "v2", "type": "variant"},
    ]
    I.write_table_metadata(
        d, 1, [s1], 1, [], schema_fields=schema_fields,
        format_version=3,
        properties={"schema.name-mapping.default": json.dumps([
            {"field-id": 1, "names": ["k"]},
            {"field-id": 2, "names": ["v"]},
            {"field-id": 3, "names": ["geom"]},
        ])},
    )
    df, _s, n = I.read_snapshot(spark, d)
    assert n == 2
    types = dict(df.dtypes)
    assert types["v"] == "variant" and types["v2"] == "variant"
    assert types["geom"] == "binary"
    rows = {r.k: r for r in df.selectExpr(
        "k", "to_json(v) AS j", "geom",
        "to_json(v2) AS j2").collect()}
    assert json.loads(rows[2].j) == {"a": 2, "s": "p2"}
    assert rows[10].geom == wkb_point(1, 2)
    assert rows[10].j is None          # variant absent in f2
    assert all(rows[k].j2 is None for k in rows)  # backfilled null
    # round 13: variant/geometry defaults exist now (see
    # test_v3_variant_and_geometry_defaults); malformed input is a
    # named ValueError rather than a not-implemented boundary
    with pytest.raises(ValueError, match="variant initial-default"):
        I._default_expr("variant", "{}")


def test_v3_variant_and_geometry_defaults(tmp_path, spark):
    """Round 13: the last two non-encryption v3 default types. A
    legacy file (k only) takes a VARIANT initial-default (physical
    metadata/value binaries, base64, decoded through the engine's
    own variant codec) and a GEOMETRY initial-default (hex WKB,
    validated); files that carry the columns keep their written
    values."""
    import base64
    import glob
    import shutil
    import struct

    from cam_etl_spark.sources.variant_binary import encode_variant

    d = str(tmp_path / "v3defaults")
    data = os.path.join(d, "data")
    md = os.path.join(d, "metadata")
    os.makedirs(data)
    os.makedirs(md)

    tmp = data + ".tmp"
    spark.sql("SELECT id AS k FROM range(3)") \
        .coalesce(1).write.parquet(tmp)
    fa = os.path.join(data, "legacy.parquet")
    shutil.move(glob.glob(tmp + "/*.parquet")[0], fa)
    shutil.rmtree(tmp)

    tmp2 = data + ".tmp2"
    wkb_hex = [
        struct.pack("<BIdd", 1, 1, i + 1.5, -i - 0.5).hex()
        for i in range(2)
    ]
    spark.sql(
        "SELECT id + 10 AS k, parse_json(to_json(named_struct("
        "'a', id, 's', concat('real', id)))) AS v, "
        f"unhex(CASE WHEN id = 0 THEN '{wkb_hex[0]}' "
        f"ELSE '{wkb_hex[1]}' END) AS geom "
        "FROM range(2)"
    ).coalesce(1).write.parquet(tmp2)
    fb = os.path.join(data, "modern.parquet")
    shutil.move(glob.glob(tmp2 + "/*.parquet")[0], fb)
    shutil.rmtree(tmp2)

    m1 = os.path.join(md, "m1.avro")
    I.write_manifest(m1, [{
        "status": 1, "snapshot_id": 1,
        "data_file": {"content": 0, "file_path": p,
                      "file_format": "parquet", "partition": {},
                      "record_count": 1,
                      "file_size_in_bytes": os.path.getsize(p)},
    } for p in (fa, fb)])
    s1 = I.write_snapshot(d, 1, [m1])

    meta_b, val_b = encode_variant({"a": 7, "s": "dflt"})
    default_v = {"metadata": base64.b64encode(meta_b).decode(),
                 "value": base64.b64encode(val_b).decode()}
    default_wkb = struct.pack("<BIdd", 1, 1, 153.02, -27.47)
    schema_fields = [
        {"id": 1, "name": "k", "type": "long"},
        {"id": 2, "name": "v", "type": "variant",
         "initial-default": default_v},
        {"id": 3, "name": "geom", "type": "geometry(OGC:CRS84)",
         "initial-default": default_wkb.hex()},
    ]
    I.write_table_metadata(d, 1, [s1], 1, [],
                           schema_fields=schema_fields,
                           format_version=3)
    df, _s, n = I.read_snapshot(spark, d)
    assert n == 2
    rows = {r.k: r for r in df.selectExpr(
        "k",
        "variant_get(v, '$.a', 'long') AS a",
        "variant_get(v, '$.s', 'string') AS s",
        "hex(geom) AS g").collect()}
    assert len(rows) == 5
    for k in (0, 1, 2):  # legacy rows: both defaults
        assert (rows[k].a, rows[k].s) == (7, "dflt")
        assert rows[k].g == default_wkb.hex().upper()
    for k, i in ((10, 0), (11, 1)):  # modern rows: written values
        assert (rows[k].a, rows[k].s) == (i, f"real{i}")
        x, y = struct.unpack_from(
            "<dd", bytes.fromhex(rows[k].g), 5)
        assert (x, y) == (i + 1.5, -i - 0.5)


def test_snapshot_refs_resolution_and_boundaries(tmp_path):
    """Round 13: branch/tag refs resolve with the spec's consistency
    gates — main-matches-current, type whitelist, dangling-ref and
    unknown-name loud; main without a refs map falls back to
    current-snapshot-id (pre-refs tables)."""
    d = _table(tmp_path)
    md = os.path.join(d, "metadata")
    m1 = os.path.join(md, "m1.avro")
    I.write_manifest(m1, [_entry("f1")])
    s1 = I.write_snapshot(d, 1, [m1])
    m2 = os.path.join(md, "m2.avro")
    I.write_manifest(m2, [_entry("f1", 0), _entry("f2", 1)])
    s2 = I.write_snapshot(d, 2, [m2], parent_id=1)

    # pre-refs table: main falls back to current
    I.write_table_metadata(d, 1, [s1, s2], 2, [])
    assert I.resolve_ref(d, "main") == 2
    with pytest.raises(ValueError, match="unknown ref"):
        I.resolve_ref(d, "v1.0")

    refs = {
        "main": {"snapshot-id": 2, "type": "branch"},
        "v1.0": {"snapshot-id": 1, "type": "tag",
                 "max-ref-age-ms": 1000},
    }
    I.write_table_metadata(d, 2, [s1, s2], 2, [], refs=refs)
    assert I.resolve_ref(d, "main") == 2
    assert I.resolve_ref(d, "v1.0") == 1
    assert [f["path"] for f in I.snapshot_files(
        d, snapshot_id=I.resolve_ref(d, "v1.0"))["files"]] == ["f1"]

    # main diverging from current-snapshot-id is a corrupt commit
    bad = dict(refs, main={"snapshot-id": 1, "type": "branch"})
    I.write_table_metadata(d, 3, [s1, s2], 2, [], refs=bad)
    with pytest.raises(ValueError, match="diverges"):
        I.resolve_ref(d, "main")
    # invalid type and dangling snapshot ids
    I.write_table_metadata(d, 4, [s1, s2], 2, [], refs={
        "x": {"snapshot-id": 1, "type": "fork"}})
    with pytest.raises(ValueError, match="invalid type"):
        I.resolve_ref(d, "x")
    I.write_table_metadata(d, 5, [s1, s2], 2, [], refs={
        "y": {"snapshot-id": 99, "type": "tag"}})
    with pytest.raises(ValueError, match="not in the snapshot log"):
        I.resolve_ref(d, "y")


def test_variant_default_non_json_value_is_named():
    """A spec-legal variant default the JSON bridge cannot carry
    (Decimal/date/bytes) raises the module's named error, not an
    anonymous TypeError."""
    import base64

    from cam_etl_spark.sources.variant_binary import encode_metadata

    # decimal4 primitive (type id 8): header 0x20, scale 2,
    # unscaled 125 LE -> Decimal('1.25') — a value the engine can
    # DECODE (Spark writes them) but json.dumps cannot carry
    meta_b = encode_metadata([])
    val_b = bytes([0x20, 2]) + (125).to_bytes(4, "little")
    dv = {"metadata": base64.b64encode(meta_b).decode(),
          "value": base64.b64encode(val_b).decode()}
    with pytest.raises(ValueError, match="not JSON-representable"):
        I._default_expr("variant", dv)


def test_parquet_position_and_equality_deletes(tmp_path, spark):
    """Round 14 (was a loud boundary): PARQUET-stored delete files —
    the format Spark itself writes for v2 merge-on-read. Position
    deletes (file_path, pos) and equality deletes (the key columns)
    are authored by pyarrow (the independent parquet writer) and the
    read path resolves them through the vectorized scan with
    sequences attached via _metadata.file_path. Same fixture shape
    as the avro MOR test: pos deletes take rows 0-1, equality takes
    k=5, a same-sequence equality delete must NOT apply; an avro
    position delete in the SAME snapshot (mixed formats) takes
    row 2."""
    import glob
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    d = _table(tmp_path)
    data_dir = os.path.join(d, "data")
    os.makedirs(data_dir, exist_ok=True)
    f1 = os.path.join(data_dir, "part-0.parquet")
    spark.range(10).select(F.col("id").alias("k")).coalesce(
        1
    ).sortWithinPartitions("k").write.mode("overwrite").parquet(
        data_dir + ".tmp"
    )
    shutil.move(glob.glob(data_dir + ".tmp/*.parquet")[0], f1)

    md = os.path.join(d, "metadata")
    os.makedirs(md, exist_ok=True)
    pd_pq = os.path.join(md, "pd1.parquet")
    pq.write_table(
        pa.table({"file_path": [f1, f1], "pos": [0, 1]},
                 schema=pa.schema([("file_path", pa.string()),
                                   ("pos", pa.int64())])),
        pd_pq,
    )
    pd_avro = os.path.join(md, "pd2.avro")
    I.write_position_deletes(pd_avro, [{"file_path": f1, "pos": 2}])
    eq_pq = os.path.join(md, "eq1.parquet")
    pq.write_table(
        pa.table({"k": [5]},
                 schema=pa.schema([("k", pa.int64())])),
        eq_pq,
    )
    eq_same = os.path.join(md, "eq-same-seq.parquet")
    pq.write_table(
        pa.table({"k": [7]},
                 schema=pa.schema([("k", pa.int64())])),
        eq_same,
    )

    def entry(path, seq, content, fmt, eq_ids=None):
        return {
            "status": 1,
            "snapshot_id": 1,
            "sequence_number": seq,
            "data_file": {
                "content": content,
                "file_path": path,
                "file_format": fmt,
                "partition": {},
                "record_count": 0,
                "file_size_in_bytes": os.path.getsize(path),
                "equality_ids": eq_ids,
            },
        }

    mdel = os.path.join(md, "mdel.avro")
    I.write_manifest(mdel, [
        entry(pd_pq, 3, 1, "parquet"),
        entry(pd_avro, 3, 1, "avro"),
        entry(eq_pq, 3, 2, "parquet", [1]),
        entry(eq_same, 2, 2, "parquet", [1]),
    ])
    m1 = os.path.join(md, "m1.avro")
    e = _entry(f1)
    e["sequence_number"] = 2
    I.write_manifest(m1, [e])
    s1 = I.write_snapshot(d, 1, [m1, (mdel, 1)])
    I.write_table_metadata(d, 1, [s1], 1, [])

    snap = I.snapshot_files(d)
    assert sorted(f["content"] for f in snap["delete_files"]) == \
        [1, 1, 2, 2]
    df, _s, _n = I.read_snapshot(spark, d)
    # parquet pos deletes drop k=0,1; avro pos delete drops k=2;
    # parquet equality drops k=5; k=7 survives (strict seq gate)
    assert sorted(r["k"] for r in df.collect()) == [3, 4, 6, 7, 8, 9]


def test_orc_delete_files_stay_loud(tmp_path):
    d = _table(tmp_path)
    md = os.path.join(d, "metadata")
    m1 = os.path.join(md, "m1.avro")
    I.write_manifest(m1, [_entry("f1")])
    e = _del_entry("pd.orc", 2)
    e["data_file"]["file_format"] = "orc"
    mdel = os.path.join(md, "mdel.avro")
    I.write_manifest(mdel, [e])
    s1 = I.write_snapshot(d, 1, [m1, (mdel, 1)])
    I.write_table_metadata(d, 1, [s1], 1, [])
    with pytest.raises(NotImplementedError,
                       match="orc delete files"):
        I.snapshot_files(d)
