"""Delta transaction-log replay (sources/delta_log.py) — protocol
semantics from delta.io PROTOCOL.md: file lifecycle, last-metaData-
wins, log gaps, time travel, checkpoint+tail equivalence, reader
protocol gating, and log-level file skipping."""

import os

import pytest

from cam_etl_spark.sources import delta_log as D

META = {
    "id": "t-1",
    "format": {"provider": "parquet", "options": {}},
    "schemaString": "{}",
    "partitionColumns": ["p"],
    "configuration": {},
}


def _add(path, p="a", size=10, stats=None):
    extra = {"stats": stats} if stats else {}
    return D.add_action("", path, {"p": p}, size=size, mtime=1, **extra)


def _rm(path):
    return D.remove_action(path, 2)


def _table(tmp_path, commits):
    d = str(tmp_path / "tbl")
    os.makedirs(d, exist_ok=True)
    for v, actions in enumerate(commits):
        D.write_commit(d, v, actions)
    return d


def test_add_remove_readd_lifecycle(tmp_path):
    assert _add("f1") == {"add": {
        "path": "f1", "partitionValues": {"p": "a"}, "size": 10,
        "modificationTime": 1, "dataChange": True,
    }}
    assert _rm("f1") == {
        "remove": {"path": "f1", "deletionTimestamp": 2, "dataChange": True}
    }
    assert D.remove_action("f1") == {"remove": {"path": "f1", "dataChange": True}}
    (tmp_path / "g.parquet").write_bytes(b"x" * 7)
    assert D.add_action(str(tmp_path), "g.parquet")["add"]["size"] == 7
    d = _table(
        tmp_path,
        [
            [{"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
             {"metaData": META}, _add("f1"), _add("f2")],
            [_rm("f1")],
            [_add("f1", p="b")],
        ],
    )
    snap = D.replay_log(d)
    assert snap["version"] == 2
    by_path = {f["path"]: f for f in snap["files"]}
    assert set(by_path) == {"f1", "f2"}
    assert by_path["f1"]["partitionValues"] == {"p": "b"}  # re-add wins
    assert D.replay_log(d, version=1)["files"][0]["path"] == "f2"
    assert {f["path"] for f in D.replay_log(d, version=0)["files"]} == {
        "f1", "f2",
    }


def test_last_metadata_wins_and_commitinfo_ignored(tmp_path):
    m2 = dict(META, id="t-2")
    d = _table(
        tmp_path,
        [
            [{"metaData": META}, _add("f1"), {"commitInfo": {"op": "WRITE"}}],
            [{"metaData": m2}],
        ],
    )
    assert D.replay_log(d)["metadata"]["id"] == "t-2"
    assert D.replay_log(d, version=0)["metadata"]["id"] == "t-1"


def test_log_gap_and_missing_version_raise(tmp_path):
    d = str(tmp_path / "tbl")
    D.write_commit(d, 0, [{"metaData": META}, _add("f1")])
    D.write_commit(d, 2, [_add("f2")])
    with pytest.raises(ValueError, match="log gap"):
        D.replay_log(d)
    with pytest.raises(ValueError, match="no version 7"):
        D.replay_log(d, version=7)
    with pytest.raises(ValueError, match="no _delta_log"):
        D.replay_log(str(tmp_path / "nope"))


def test_reader_protocol_gate(tmp_path):
    # deletionVectors is now an implemented readerFeature
    d = _table(
        tmp_path,
        [[{"protocol": {"minReaderVersion": 3,
                        "readerFeatures": ["deletionVectors"]}},
          {"metaData": META}, _add("f1")]],
    )
    assert [f["path"] for f in D.replay_log(d)["files"]] == ["f1"]
    # unimplemented features still gate loudly (typeWidening and
    # variantType are implemented since round 11 — collations are
    # not)
    dcm = _table(
        tmp_path.joinpath("cm"),
        [[{"protocol": {"minReaderVersion": 3,
                        "readerFeatures": ["deletionVectors",
                                           "collations-preview"]}},
          {"metaData": META}, _add("f1")]],
    )
    with pytest.raises(NotImplementedError, match="collations"):
        D.replay_log(dcm)
    # v2Checkpoint is now an implemented readerFeature
    dv2 = _table(
        tmp_path.joinpath("v2ok"),
        [[{"protocol": {"minReaderVersion": 3,
                        "readerFeatures": ["v2Checkpoint"]}},
          {"metaData": META}, _add("f1")]],
    )
    assert [f["path"] for f in D.replay_log(dv2)["files"]] == ["f1"]
    # reader version 2 (classic column mapping) passes the gate
    d2 = _table(
        tmp_path.joinpath("x"),
        [[{"protocol": {"minReaderVersion": 2}}, {"metaData": META},
          _add("f1")]],
    )
    assert D.replay_log(d2)["protocol"]["minReaderVersion"] == 2
    # v3 with no declared features is malformed -> loud
    d3 = _table(
        tmp_path.joinpath("y"),
        [[{"protocol": {"minReaderVersion": 3}}, {"metaData": META},
          _add("f1")]],
    )
    with pytest.raises(NotImplementedError, match="none declared"):
        D.replay_log(d3)


def test_checkpoint_plus_tail_equals_full_replay(tmp_path):
    d = _table(
        tmp_path,
        [
            [{"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
             {"metaData": META}, _add("f1"), _add("f2")],
            [_rm("f1"), _add("f3", stats='{"numRecords": 7}')],
        ],
    )
    full = D.replay_log(d)
    D.write_checkpoint(d, 1, full)
    D.write_commit(d, 2, [_add("f4"), _rm("f2")])
    snap = D.replay_log(d)
    assert snap["from_checkpoint"] == 1
    assert snap["n_commits_replayed"] == 1  # only the tail
    assert {f["path"] for f in snap["files"]} == {"f3", "f4"}
    by_path = {f["path"]: f for f in snap["files"]}
    assert by_path["f3"]["stats"] == {"numRecords": 7}  # survives checkpoint
    # time travel BEFORE the checkpoint still replays pure JSON
    old = D.replay_log(d, version=0)
    assert old["from_checkpoint"] is None
    assert {f["path"] for f in old["files"]} == {"f1", "f2"}


def test_v2_checkpoint_sidecar_roundtrip(tmp_path):
    """V2 (sidecar-based) checkpoint: write, replay checkpoint + JSON
    tail, time-travel past it, and verify the sidecar layout really
    exists on disk (UUID-named top file, adds spread over
    _sidecars/)."""
    d = _table(
        tmp_path,
        [
            [{"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                           "readerFeatures": ["v2Checkpoint"],
                           "writerFeatures": ["v2Checkpoint"]}},
             {"metaData": META}, _add("f1"), _add("f2")],
            [_rm("f1"), _add("f3", stats='{"numRecords": 7}'),
             _add("f4", p="b")],
        ],
    )
    full = D.replay_log(d)
    top = D.write_checkpoint_v2(d, 1, full, n_sidecars=2)
    assert D._CKPT_V2_RE.match(os.path.basename(top))
    sc_dir = os.path.join(d, "_delta_log", "_sidecars")
    assert len(os.listdir(sc_dir)) == 2
    D.write_commit(d, 2, [_add("f5"), _rm("f2")])
    snap = D.replay_log(d)
    assert snap["from_checkpoint"] == 1
    assert snap["n_commits_replayed"] == 1
    assert {f["path"] for f in snap["files"]} == {"f3", "f4", "f5"}
    by_path = {f["path"]: f for f in snap["files"]}
    assert by_path["f3"]["stats"] == {"numRecords": 7}
    assert by_path["f4"]["partitionValues"] == {"p": "b"}
    assert snap["protocol"]["readerFeatures"] == ["v2Checkpoint"]
    # time travel BEFORE the checkpoint still replays pure JSON
    old = D.replay_log(d, version=0)
    assert {f["path"] for f in old["files"]} == {"f1", "f2"}


def test_v2_checkpoint_boundaries_loud(tmp_path):
    """Version mismatch between filename and checkpointMetadata, and
    a missing sidecar file, both reject loudly."""
    import shutil

    d = _table(
        tmp_path,
        [[{"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
          {"metaData": META}, _add("f1")],
         [_add("f2")]],
    )
    top = D.write_checkpoint_v2(d, 1, D.replay_log(d), n_sidecars=1)
    # filename claims version 0 but checkpointMetadata says 1
    bad = os.path.join(
        os.path.dirname(top),
        "00000000000000000000" + os.path.basename(top)[20:],
    )
    shutil.copy(top, bad)
    os.unlink(top)
    with pytest.raises(ValueError, match="version mismatch"):
        D.replay_log(d)
    os.unlink(bad)
    # missing sidecar
    top = D.write_checkpoint_v2(d, 1, D.replay_log(d), n_sidecars=1)
    sc_dir = os.path.join(d, "_delta_log", "_sidecars")
    for n in os.listdir(sc_dir):
        os.unlink(os.path.join(sc_dir, n))
    with pytest.raises(ValueError, match="sidecar.*missing"):
        D.replay_log(d)


def test_v2_checkpoint_preferred_over_classic(tmp_path):
    """When both a classic and a v2 checkpoint exist at the same
    version, the v2 one is used (the protocol allows either; v2 is
    what a modern writer considers authoritative)."""
    d = _table(
        tmp_path,
        [[{"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
          {"metaData": META}, _add("f1")]],
    )
    full = D.replay_log(d)
    D.write_checkpoint(d, 0, full)
    D.write_checkpoint_v2(d, 0, full, n_sidecars=1)
    snap = D.replay_log(d)
    assert snap["from_checkpoint"] == 0
    assert {f["path"] for f in snap["files"]} == {"f1"}


def test_multipart_checkpoint_roundtrip(tmp_path):
    """Classic multi-part checkpoint: adds spread over 3 parts,
    replay = union of parts + JSON tail; stats and partitionValues
    survive; time travel before the checkpoint still replays JSON."""
    d = _table(
        tmp_path,
        [
            [{"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
             {"metaData": META}, _add("f1"), _add("f2")],
            [_rm("f1"), _add("f3", stats='{"numRecords": 7}'),
             _add("f4", p="b"), _add("f5")],
        ],
    )
    full = D.replay_log(d)
    paths = D.write_checkpoint_multipart(d, 1, full, n_parts=3)
    assert [os.path.basename(p) for p in paths] == [
        f"00000000000000000001.checkpoint.{o:010d}.0000000003.parquet"
        for o in (1, 2, 3)
    ]
    D.write_commit(d, 2, [_add("f6"), _rm("f2")])
    snap = D.replay_log(d)
    assert snap["from_checkpoint"] == 1
    assert snap["n_commits_replayed"] == 1
    assert {f["path"] for f in snap["files"]} == {"f3", "f4", "f5",
                                                  "f6"}
    by_path = {f["path"]: f for f in snap["files"]}
    assert by_path["f3"]["stats"] == {"numRecords": 7}
    assert by_path["f4"]["partitionValues"] == {"p": "b"}
    old = D.replay_log(d, version=0)
    assert {f["path"] for f in old["files"]} == {"f1", "f2"}


def test_multipart_checkpoint_incomplete_ignored(tmp_path):
    """PROTOCOL.md: an incomplete multi-part checkpoint (crashed
    writer) MUST be ignored — replay falls back to pure-JSON replay
    when the tail still covers the range, and surfaces the log gap
    when it does not. Inconsistent part counts and duplicate parts
    reject loudly."""
    d = _table(
        tmp_path,
        [[{"metaData": META}, _add("f1")], [_add("f2")]],
    )
    paths = D.write_checkpoint_multipart(d, 1, D.replay_log(d),
                                         n_parts=2)
    os.unlink(paths[1])  # crashed writer: part 2 of 2 missing
    snap = D.replay_log(d)
    assert snap["from_checkpoint"] is None  # fell back to JSON replay
    assert {f["path"] for f in snap["files"]} == {"f1", "f2"}
    # inconsistent totals at one version
    bogus = os.path.join(
        d, "_delta_log",
        "00000000000000000001.checkpoint.0000000001.0000000005"
        ".parquet",
    )
    open(bogus, "wb").close()
    with pytest.raises(ValueError, match="inconsistent part counts"):
        D.replay_log(d)
    os.unlink(bogus)
    # part number out of range
    bad = os.path.join(
        d, "_delta_log",
        "00000000000000000001.checkpoint.0000000003.0000000002"
        ".parquet",
    )
    open(bad, "wb").close()
    with pytest.raises(ValueError, match="out of range"):
        D.replay_log(d)


def test_json_v2_checkpoint_roundtrip(tmp_path):
    """JSON-format v2 checkpoints (the protocol's other top-level
    form — newline-delimited actions, parquet sidecars): write,
    replay through a retention-truncated tail, survive a coexisting
    parquet checkpoint (parquet wins), and reject version
    mismatches like the parquet form."""
    import shutil

    d = _table(
        tmp_path,
        [
            [{"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                           "readerFeatures": ["v2Checkpoint"],
                           "writerFeatures": ["v2Checkpoint"]}},
             {"metaData": META}, _add("f1"), _add("f2")],
            [_rm("f1"), _add("f3", stats='{"numRecords": 7}')],
        ],
    )
    full = D.replay_log(d)
    top = D.write_checkpoint_v2(d, 1, full, n_sidecars=2,
                                top_format="json")
    assert top.endswith(".json")
    assert D._CKPT_V2_JSON_RE.match(os.path.basename(top))
    D.write_commit(d, 2, [_add("f4"), _rm("f2")])
    # retention-truncate the pre-checkpoint commits: the JSON
    # checkpoint + tail must reconstruct the snapshot
    os.unlink(os.path.join(d, "_delta_log",
                           "00000000000000000000.json"))
    snap = D.replay_log(d)
    assert snap["from_checkpoint"] == 1
    assert snap["n_commits_replayed"] == 1
    assert {f["path"] for f in snap["files"]} == {"f3", "f4"}
    by_path = {f["path"]: f for f in snap["files"]}
    assert by_path["f3"]["stats"] == {"numRecords": 7}
    # a parquet v2 checkpoint at the same version takes precedence
    D.write_checkpoint_v2(d, 1, full, n_sidecars=1)
    snap2 = D.replay_log(d)
    assert {f["path"] for f in snap2["files"]} == {"f3", "f4"}
    # filename/metadata version mismatch rejects, same as parquet
    bad = os.path.join(
        os.path.dirname(top),
        "00000000000000000000" + os.path.basename(top)[20:],
    )
    shutil.copy(top, bad)
    with pytest.raises(ValueError, match="version mismatch"):
        D._load_checkpoint_v2(
            {"metadata": None, "protocol": None, "live": {}}, bad, 0
        )


def test_prune_partition_and_stats():
    files = [
        {"path": "a", "partitionValues": {"p": "x"}, "size": 1,
         "stats": {"minValues": {"k": 0}, "maxValues": {"k": 10}}},
        {"path": "b", "partitionValues": {"p": "y"}, "size": 1,
         "stats": {"minValues": {"k": 20}, "maxValues": {"k": 30}}},
        {"path": "c", "partitionValues": {"p": "x"}, "size": 1,
         "stats": None},
    ]
    assert [f["path"] for f in D.prune_files(files, {"p": {"x"}})] == ["a", "c"]
    # stats range [12, 18] is disjoint from both a and b; c has no
    # stats and MUST be kept
    assert [f["path"] for f in
            D.prune_files(files, None, {"k": (12, 18)})] == ["c"]
    assert [f["path"] for f in
            D.prune_files(files, None, {"k": (5, 25)})] == ["a", "b", "c"]


def test_read_snapshot_end_to_end(tmp_path, spark):
    import pyspark.sql.functions as F

    d = str(tmp_path / "tbl")
    df = spark.range(100).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).cast("string").alias("p"),
    )
    df.write.partitionBy("p").parquet(d)
    rel = []
    for root, _dirs, names in os.walk(d):
        for n in names:
            if n.endswith(".parquet"):
                rel.append(
                    os.path.relpath(os.path.join(root, n), d)
                )
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": dict(META, partitionColumns=["p"])},
    ] + [
        {
            "add": {
                "path": p,
                "partitionValues": {"p": p.split("p=")[1].split("/")[0]},
                "size": 1,
                "modificationTime": 1,
                "dataChange": True,
            }
        }
        for p in rel
    ]
    D.write_commit(d, 0, actions)
    out, snap, n = D.read_snapshot(spark, d)
    assert n == len(rel)
    assert out.count() == 100
    assert set(out.columns) == {"k", "p"}
    # partition-filtered read touches only the p=1 files
    out1, _snap, n1 = D.read_snapshot(
        spark, d, partition_filter={"p": {"1"}}
    )
    assert n1 < n
    assert out1.select("k").agg(F.sum("k")).first()[0] == sum(
        i for i in range(100) if i % 2 == 1
    )


def _dv_inline(rows):
    import base64

    from cam_etl_spark.sources.roaring import serialize_bitmap_array

    blob = serialize_bitmap_array(rows)
    return {
        "storageType": "i",
        "pathOrInlineDv": base64.b85encode(blob).decode("ascii"),
        "sizeInBytes": len(blob),
        "cardinality": len(rows),
    }


def test_deletion_vector_decode_and_boundaries(tmp_path):
    from cam_etl_spark.sources.roaring import serialize_bitmap_array

    rows = [0, 3, 4, 5, 900]
    # inline
    assert D.deletion_vector_rows(_dv_inline(rows)) == rows
    # on-disk "p" with two blobs sharing one file
    blob_a = serialize_bitmap_array(rows)
    blob_b = serialize_bitmap_array([7])
    p = str(tmp_path / "dv.bin")
    frags = D.write_deletion_vector_file(p, [blob_a, blob_b])
    assert frags[0]["offset"] == 1
    dv = {"storageType": "p", "pathOrInlineDv": p,
          "cardinality": len(rows), **frags[0]}
    assert D.deletion_vector_rows(dv) == rows
    dv_b = {"storageType": "p", "pathOrInlineDv": p,
            "cardinality": 1, **frags[1]}
    assert D.deletion_vector_rows(dv_b) == [7]
    # checksum mismatch is loud
    data = bytearray(open(p, "rb").read())
    data[frags[0]["offset"] + 5] ^= 0xFF
    bad = str(tmp_path / "dv_bad.bin")
    open(bad, "wb").write(bytes(data))
    with pytest.raises(ValueError, match="checksum"):
        D.deletion_vector_rows(dict(dv, pathOrInlineDv=bad))
    # cardinality mismatch is loud
    with pytest.raises(ValueError, match="cardinality"):
        D.deletion_vector_rows(dict(_dv_inline(rows), cardinality=2))
    # size mismatch is loud
    with pytest.raises(ValueError, match="size"):
        D.deletion_vector_rows(dict(dv, sizeInBytes=dv["sizeInBytes"] - 1))
    # "u" storage: path assembled from <prefix><base85 uuid> under
    # the table root (round-10 boundary removal)
    import base64
    import os as _os
    import uuid as _uuid

    u = _uuid.UUID(int=0x0123456789ABCDEF0123456789ABCDEF)
    tail = base64.b85encode(u.bytes).decode()
    assert len(tail) == 20
    _os.makedirs(tmp_path / "tbl" / "ab", exist_ok=True)
    up = str(tmp_path / "tbl" / "ab" / f"deletion_vector_{u}.bin")
    frags_u = D.write_deletion_vector_file(up, [blob_a])
    dv_u = {"storageType": "u", "pathOrInlineDv": "ab/" + tail,
            "cardinality": len(rows), **frags_u[0]}
    assert D.dv_relative_path(dv_u) == f"ab/deletion_vector_{u}.bin"
    assert D.deletion_vector_rows(
        dv_u, str(tmp_path / "tbl")
    ) == rows
    # ...but without the table root it cannot resolve
    with pytest.raises(ValueError, match="table root"):
        D.deletion_vector_rows(dv_u)
    with pytest.raises(ValueError, match="shorter than"):
        D.dv_relative_path(dict(dv_u, pathOrInlineDv="short"))


def test_read_snapshot_deletion_vectors_end_to_end(tmp_path, spark):
    """DV attach is remove+re-add with a descriptor; the scan drops
    exactly the flagged row ordinals; a later re-add without the
    descriptor restores the rows."""
    import pyspark.sql.functions as F

    d = str(tmp_path / "tbl")
    spark.range(50).select(F.col("id").alias("k")).coalesce(
        1
    ).sortWithinPartitions("k").write.parquet(d)
    rel = [
        os.path.relpath(os.path.join(root, n), d)
        for root, _dirs, names in os.walk(d)
        for n in names
        if n.endswith(".parquet")
    ]
    assert len(rel) == 1
    base = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        {"metaData": dict(META, partitionColumns=[])},
    ]

    def add(p, dv=None):
        a = {"path": p, "partitionValues": {}, "size": 1,
             "modificationTime": 1, "dataChange": True}
        if dv:
            a["deletionVector"] = dv
        return {"add": a}

    D.write_commit(d, 0, base + [add(rel[0])])
    doomed = [k for k in range(50) if k % 7 == 0]
    D.write_commit(
        d, 1, [_rm(rel[0]), add(rel[0], _dv_inline(doomed))]
    )
    D.write_commit(d, 2, [_rm(rel[0]), add(rel[0])])

    df0, _s, _n = D.read_snapshot(spark, d, version=0)
    assert df0.count() == 50
    df1, s1, _n = D.read_snapshot(spark, d, version=1)
    assert s1["files"][0]["deletionVector"]["cardinality"] == len(doomed)
    assert sorted(r["k"] for r in df1.collect()) == [
        k for k in range(50) if k % 7 != 0
    ]
    df2, _s, _n = D.read_snapshot(spark, d, version=2)
    assert df2.count() == 50


def test_column_mapping_parser():
    import json

    def meta(mode, fields):
        return {
            "configuration": {"delta.columnMapping.mode": mode},
            "schemaString": json.dumps(
                {"type": "struct", "fields": fields}
            ),
        }

    f_ok = {
        "name": "k",
        "type": "long",
        "nullable": True,
        "metadata": {
            "delta.columnMapping.id": 1,
            "delta.columnMapping.physicalName": "col-x1",
        },
    }
    assert D.column_mapping({"configuration": {}}) is None
    assert D.column_mapping(meta("name", [f_ok])) == [("k", "col-x1")]
    # id mode resolves through the read schema, not the rename map
    assert D.column_mapping(meta("id", [f_ok])) is None
    sch = D.column_mapping_id_schema(meta("id", [f_ok]))
    assert sch.fields[0].name == "k"
    assert sch.fields[0].metadata == {"parquet.field.id": 1}
    with pytest.raises(ValueError, match="no delta.columnMapping.id"):
        D.column_mapping_id_schema(meta("id", [dict(f_ok, metadata={})]))
    with pytest.raises(ValueError, match="unknown columnMapping"):
        D.column_mapping(meta("banana", [f_ok]))
    bare = dict(f_ok, metadata={})
    with pytest.raises(ValueError, match="no physicalName"):
        D.column_mapping(meta("name", [bare]))


def test_column_mapping_id_mode_field_id_resolution(tmp_path, spark):
    """columnMapping mode 'id': two data files carry DIFFERENT
    physical column names but the SAME parquet field ids (a rename
    happened between them, metadata-only); the scan resolves both by
    field id under the logical names."""
    import json

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    d = str(tmp_path / "tbl")
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")

    def write_file(sub, names):
        schema = StructType([
            StructField(names[0], LongType(), True,
                        metadata={"parquet.field.id": 1}),
            StructField(names[1], StringType(), True,
                        metadata={"parquet.field.id": 2}),
        ])
        rows = [(i, f"{sub}-{i}") for i in range(5)]
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            os.path.join(d, sub)
        )
        return [
            os.path.join(sub, n)
            for n in os.listdir(os.path.join(d, sub))
            if n.endswith(".parquet")
        ][0]

    fa = write_file("a", ["old_k", "old_v"])  # pre-rename names
    fb = write_file("b", ["k9", "v9"])        # post-rename names
    fields = [
        {"name": "k", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": 1,
                      "delta.columnMapping.physicalName": "k9"}},
        {"name": "v", "type": "string", "nullable": True,
         "metadata": {"delta.columnMapping.id": 2,
                      "delta.columnMapping.physicalName": "v9"}},
    ]
    md = {
        "id": "idmap-fixture",
        "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps({"type": "struct", "fields": fields}),
        "partitionColumns": [],
        "configuration": {"delta.columnMapping.mode": "id"},
    }
    D.write_commit(d, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["columnMapping"],
                      "writerFeatures": ["columnMapping"]}},
        {"metaData": md},
        {"add": {"path": fa, "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
        {"add": {"path": fb, "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ])
    df, _snap, n = D.read_snapshot(spark, d)
    assert n == 2
    assert df.columns == ["k", "v"]
    rows = sorted((r["k"], r["v"]) for r in df.collect())
    assert rows == sorted(
        [(i, f"a-{i}") for i in range(5)]
        + [(i, f"b-{i}") for i in range(5)]
    )
    # compaction still rejects mapped tables (either mode)
    with pytest.raises(NotImplementedError, match="column-mapped"):
        D.compact_files(spark, d, 2)


def test_column_mapping_rename_without_rewrite(tmp_path, spark):
    """Rename is a metadata-only commit: same data files, new
    logical names; reader version 2 passes the protocol gate."""
    import json

    import pyspark.sql.functions as F

    d = str(tmp_path / "tbl")
    spark.range(20).select(F.col("id").alias("col-a")).coalesce(
        1
    ).write.parquet(d)
    rel = [
        os.path.relpath(os.path.join(root, n), d)
        for root, _dirs, names in os.walk(d)
        for n in names
        if n.endswith(".parquet")
    ]

    def meta(logical):
        return {
            "id": "t-cm",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(
                {
                    "type": "struct",
                    "fields": [
                        {
                            "name": logical,
                            "type": "long",
                            "nullable": True,
                            "metadata": {
                                "delta.columnMapping.id": 1,
                                "delta.columnMapping.physicalName":
                                    "col-a",
                            },
                        }
                    ],
                }
            ),
            "partitionColumns": [],
            "configuration": {"delta.columnMapping.mode": "name"},
        }

    D.write_commit(
        d,
        0,
        [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {"metaData": meta("k")},
        ]
        + [
            {"add": {"path": p, "partitionValues": {}, "size": 1,
                     "modificationTime": 1, "dataChange": True}}
            for p in rel
        ],
    )
    D.write_commit(d, 1, [{"metaData": meta("k_renamed")}])
    df0, _s, _n = D.read_snapshot(spark, d, version=0)
    assert df0.columns == ["k"] and df0.count() == 20
    df1, _s, _n = D.read_snapshot(spark, d, version=1)
    assert df1.columns == ["k_renamed"]
    assert df1.agg(F.sum("k_renamed")).first()[0] == sum(range(20))


def test_change_data_feed(tmp_path, spark):
    """cdc actions take precedence for their commit; add/remove
    commits derive insert/delete rows; gates are loud."""
    import pyspark.sql.functions as F

    d = str(tmp_path / "tbl")
    os.makedirs(d, exist_ok=True)

    def write(df, rel):
        out = os.path.join(d, rel)
        df.write.parquet(out)
        return [
            os.path.join(rel, n)
            for n in sorted(os.listdir(out))
            if n.endswith(".parquet")
        ]

    ten = spark.range(10).select(F.col("id").alias("k"))
    v0 = write(ten.coalesce(1), "v0")
    meta_on = dict(
        META,
        partitionColumns=[],
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    D.write_commit(
        d, 0,
        [{"metaData": meta_on}]
        + [{"add": {"path": p, "partitionValues": {}, "size": 1,
                    "modificationTime": 1, "dataChange": True}}
           for p in v0],
    )
    # v1: cdc action present -> adds/removes ignored for CDF
    cdc = write(
        ten.filter("k = 3").withColumn("_change_type", F.lit("delete"))
        .coalesce(1),
        "_change_data/c1",
    )
    v1 = write(ten.filter("k <> 3").coalesce(1), "v1")
    D.write_commit(
        d, 1,
        [{"remove": {"path": p, "deletionTimestamp": 1,
                     "dataChange": True}} for p in v0]
        + [{"add": {"path": p, "partitionValues": {}, "size": 1,
                    "modificationTime": 1, "dataChange": True}}
           for p in v1]
        + [{"cdc": {"path": p, "partitionValues": {}, "size": 1,
                    "dataChange": False}} for p in cdc],
    )
    ch = D.read_changes(spark, d, 0)
    got = sorted(
        (r["_commit_version"], r["_change_type"], r["k"])
        for r in ch.collect()
    )
    expect = sorted(
        [(0, "insert", k) for k in range(10)] + [(1, "delete", 3)]
    )
    assert got == expect
    # version window
    only1 = D.read_changes(spark, d, 1, 1)
    assert only1.count() == 1
    # CDF off -> loud
    d2 = str(tmp_path / "off")
    os.makedirs(d2, exist_ok=True)
    v0b = write(ten.coalesce(1), "off_v0")
    # (write() writes under d; re-point paths relative to d2)
    os.makedirs(os.path.join(d2, "v0"), exist_ok=True)
    import shutil

    for p in v0b:
        shutil.copy(os.path.join(d, p),
                    os.path.join(d2, "v0", os.path.basename(p)))
    D.write_commit(
        d2, 0,
        [{"metaData": dict(META, partitionColumns=[])}]
        + [{"add": {"path": "v0/" + os.path.basename(p),
                    "partitionValues": {}, "size": 1,
                    "modificationTime": 1, "dataChange": True}}
           for p in v0b],
    )
    with pytest.raises(ValueError, match="change data feed not enabled"):
        D.read_changes(spark, d2, 0)


def test_compact_files(tmp_path, spark):
    """Bin-packing compaction: snapshot content unchanged, file count
    drops, all commit actions carry dataChange=false, and CDF skips
    the compaction version."""
    import json

    import pyspark.sql.functions as F

    d = str(tmp_path / "tbl")
    os.makedirs(d, exist_ok=True)
    df = spark.range(100).select(F.col("id").alias("k"))
    out = os.path.join(d, "v0")
    df.repartition(5).write.parquet(out)
    files = [
        os.path.join("v0", n)
        for n in sorted(os.listdir(out))
        if n.endswith(".parquet")
    ]
    assert len(files) == 5
    meta = dict(META, partitionColumns=[],
                configuration={"delta.enableChangeDataFeed": "true"})
    D.write_commit(
        d,
        0,
        [{"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
         {"metaData": meta}]
        + [{"add": {"path": p, "partitionValues": {},
                    "size": os.path.getsize(os.path.join(d, p)),
                    "modificationTime": 1, "dataChange": True}}
           for p in files],
    )
    res = D.compact_files(spark, d, group_size=2)
    assert res == {"version": 1, "n_before": 5, "n_after": 3}
    snap_df, snap, n = D.read_snapshot(spark, d)
    assert n == 3 and snap["version"] == 1
    assert snap_df.agg(F.sum("k")).first()[0] == sum(range(100))
    assert snap_df.count() == 100
    with open(os.path.join(d, "_delta_log", f"{1:020d}.json")) as fh:
        actions = [json.loads(line) for line in fh]
    assert all(
        not (a.get("add") or a.get("remove"))["dataChange"]
        for a in actions
    )
    changes = D.read_changes(spark, d, 0)
    assert changes.filter(F.col("_commit_version") == 1).count() == 0


def test_compact_files_boundaries(tmp_path):
    d = _table(
        tmp_path,
        [[{"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
          {"metaData": META}, _add("f1"), _add("f2")]],
    )
    with pytest.raises(NotImplementedError, match="partitioned"):
        D.compact_files(None, d, group_size=2)


def test_vacuum_candidates_and_readd_exemption(tmp_path):
    """Vacuum lists tombstoned-not-live files at or before the
    cutoff; a re-added path is exempt (latest action wins), and a
    tombstone younger than the cutoff is kept."""
    d = _table(
        tmp_path,
        [
            [{"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
             {"metaData": META}, _add("f1"), _add("f2"), _add("f3")],
            [{"remove": {"path": "f1", "deletionTimestamp": 5,
                         "dataChange": True}},
             {"remove": {"path": "f2", "deletionTimestamp": 50,
                         "dataChange": True}},
             {"remove": {"path": "f3", "deletionTimestamp": 5,
                         "dataChange": True}}],
            [_add("f3", p="b")],  # re-add exempts f3
        ],
    )
    # create f1/f2 on disk; f3 stays live so it must survive
    for f in ("f1", "f2"):
        open(os.path.join(d, f), "w").write("x")
    vac = D.vacuum(d, cutoff_ts=10, delete=True)
    assert vac["candidates"] == ["f1"]  # f2 too young, f3 re-added
    assert vac["n_live"] == 1 and vac["version"] == 2
    assert not os.path.exists(os.path.join(d, "f1"))
    assert os.path.exists(os.path.join(d, "f2"))
    vac2 = D.vacuum(d, cutoff_ts=100)
    assert vac2["candidates"] == ["f1", "f2"]  # listing only, f1 gone


def test_table_schema_drives_read_add_column(tmp_path, spark):
    """The metaData schemaString, not the file schema, defines the
    scan: files written before an ADD COLUMN surface the new column
    as null; time travel reads each version's own schema."""
    import json

    import pyspark.sql.functions as F

    d = str(tmp_path / "tbl")
    os.makedirs(d, exist_ok=True)

    def schema(names):
        return json.dumps(
            {
                "type": "struct",
                "fields": [
                    {"name": n, "type": "long", "nullable": True,
                     "metadata": {}}
                    for n in names
                ],
            }
        )

    old = spark.range(5).select(F.col("id").alias("k"))
    old.coalesce(1).write.parquet(os.path.join(d, "v0"))
    new = spark.range(5, 8).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("extra")
    )
    new.coalesce(1).write.parquet(os.path.join(d, "v1"))

    def files(rel):
        return [
            os.path.join(rel, n)
            for n in sorted(os.listdir(os.path.join(d, rel)))
            if n.endswith(".parquet")
        ]

    def adds(paths):
        return [
            {"add": {"path": p, "partitionValues": {},
                     "size": os.path.getsize(os.path.join(d, p)),
                     "modificationTime": 1, "dataChange": True}}
            for p in paths
        ]

    base_meta = dict(META, partitionColumns=[])
    D.write_commit(
        d, 0,
        [{"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
         {"metaData": dict(base_meta, schemaString=schema(["k"]))}]
        + adds(files("v0")),
    )
    D.write_commit(
        d, 1,
        [{"metaData": dict(base_meta,
                           schemaString=schema(["k", "extra"]))}]
        + adds(files("v1")),
    )

    df0, _s, _n = D.read_snapshot(spark, d, version=0)
    assert df0.columns == ["k"]
    df1, _s, _n = D.read_snapshot(spark, d)
    assert df1.columns == ["k", "extra"]
    rows = {r["k"]: r["extra"] for r in df1.collect()}
    assert all(rows[k] is None for k in range(5))
    assert rows[6] == 60 and len(rows) == 8


def test_merge_into_updates_inserts_and_selective_rewrite(tmp_path, spark):
    """MERGE: matched rows updated, unmatched source rows inserted,
    untouched files not rewritten, cdc actions emitted."""
    import json

    import pyspark.sql.functions as F

    d = str(tmp_path / "tbl")
    os.makedirs(d, exist_ok=True)
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    out = os.path.join(d, "v0")
    df.repartitionByRange(4, "k").sortWithinPartitions("k").write.parquet(
        out
    )
    files = [
        os.path.join("v0", n)
        for n in sorted(os.listdir(out))
        if n.endswith(".parquet")
    ]
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
    st = {os.path.relpath(r["f"], d): (r["lo"], r["hi"])
          for r in stats_rows}
    meta = dict(META, partitionColumns=[],
                configuration={"delta.enableChangeDataFeed": "true"})
    D.write_commit(
        d, 0,
        [{"protocol": {"minReaderVersion": 1, "minWriterVersion": 4}},
         {"metaData": meta}]
        + [{"add": {"path": p, "partitionValues": {},
                    "size": os.path.getsize(os.path.join(d, p)),
                    "modificationTime": 1, "dataChange": True,
                    "stats": {"minValues": {"k": st[p][0]},
                              "maxValues": {"k": st[p][1]}}}}
           for p in files],
    )
    # update keys 3, 7 (low range only); insert keys 200, 201
    source = spark.createDataFrame(
        [(3, 1000), (7, 1000), (200, 5), (201, 5)], "k long, v long"
    )
    res = D.merge_into(spark, d, source, key="k",
                       update_cols=["v"], rel_prefix="m")
    assert res["n_updated"] == 2 and res["n_inserted"] == 2
    assert res["n_touched"] == 1 and res["n_untouched"] == 3, res

    snap_df, snap, _ = D.read_snapshot(spark, d)
    rows = {r["k"]: r["v"] for r in snap_df.collect()}
    assert len(rows) == 102
    assert rows[3] == 1000 and rows[7] == 1000
    assert rows[4] == 8 and rows[200] == 5 and rows[201] == 5
    live = {f["path"] for f in snap["files"]}
    assert len(live & set(files)) == 3  # 3 files untouched
    ch = D.read_changes(spark, d, 1, 1)
    got = {
        (r["_change_type"], r["k"]): r["v"] for r in ch.collect()
    }
    assert got[("update_preimage", 3)] == 6
    assert got[("update_postimage", 3)] == 1000
    assert got[("insert", 200)] == 5
    assert len(got) == 6


def test_column_mapping_id_mode_partitioned_rejects(tmp_path, spark):
    """id-mode over a PARTITIONED table: partition columns live in
    directory names under physical names, which field-id resolution
    cannot see — reject loudly instead of a confusing scan error."""
    import json

    d = str(tmp_path / "tbl")
    os.makedirs(os.path.join(d, "p=a"))
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"k9": pa.array([1], pa.int64())}),
                   os.path.join(d, "p=a", "f0.parquet"))
    fields = [
        {"name": "k", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": 1,
                      "delta.columnMapping.physicalName": "k9"}},
    ]
    md = {
        "id": "x", "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps({"type": "struct", "fields": fields}),
        "partitionColumns": ["p"],
        "configuration": {"delta.columnMapping.mode": "id"},
    }
    D.write_commit(d, 0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": md},
        {"add": {"path": "p=a/f0.parquet",
                 "partitionValues": {"p": "a"}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ])
    with pytest.raises(NotImplementedError, match="PARTITIONED"):
        D.read_snapshot(spark, d)


def test_timestamp_ntz_reader_feature(tmp_path, spark):
    """readerFeatures=[timestampNtz] (round 11): the schemaString
    carries a timestamp_ntz column, data files store TIMESTAMP with
    isAdjustedToUTC=false, and read_snapshot returns the wall clocks
    unchanged under any session timezone — Spark's native NTZ type
    does the work; the gate just has to admit the feature. Unknown
    features still reject loudly."""
    import json

    d = str(tmp_path / "ntz")
    df = spark.createDataFrame(
        [("2021-07-01 12:34:56.789",), ("1999-12-31 23:59:59",)],
        "w string",
    ).selectExpr("cast(w as timestamp_ntz) AS w")
    df.coalesce(1).write.parquet(d)
    rel = [n for n in os.listdir(d) if n.endswith(".parquet")]
    schema = {
        "type": "struct",
        "fields": [{"name": "w", "type": "timestamp_ntz",
                    "nullable": True, "metadata": {}}],
    }
    meta = dict(META, schemaString=json.dumps(schema),
                partitionColumns=[])
    D.write_commit(d, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["timestampNtz"],
                      "writerFeatures": ["timestampNtz"]}},
        {"metaData": meta},
    ] + [{"add": {"path": p, "partitionValues": {}, "size": 1,
                  "modificationTime": 0, "dataChange": True}}
         for p in rel])
    out, _snap, n = D.read_snapshot(spark, d)
    assert n == 1
    got = sorted(str(r.w) for r in out.collect())
    assert got == ["1999-12-31 23:59:59", "2021-07-01 12:34:56.789000"]
    assert out.schema["w"].dataType.typeName() == "timestamp_ntz"
    # unknown reader features still gate loudly
    D.write_commit(d, 1, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["timestampNtz", "widgetsV9"],
                      "writerFeatures": []}},
    ])
    with pytest.raises(NotImplementedError, match="widgetsV9"):
        D.replay_log(d)


def test_type_widening_reader_feature(tmp_path, spark):
    """readerFeatures=[typeWidening] (round 11): file A was written
    while v was INT and d was DATE; the table then widened v -> long
    and d -> timestamp_ntz (metadata-only); file B carries the wide
    types. read_snapshot reads BOTH files under the current table
    schema — Spark's vectorized parquet reader performs the spec's
    promotions on A's narrow pages — and the values agree with the
    wide-file values exactly."""
    import json

    d = str(tmp_path / "widen")
    os.makedirs(d)

    def one_file(df, name):
        import glob
        import shutil

        tmp = os.path.join(d, "_tmp")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        shutil.move(glob.glob(tmp + "/*.parquet")[0],
                    os.path.join(d, name))
        shutil.rmtree(tmp)
        return name

    import pyspark.sql.functions as F

    fa = one_file(
        spark.range(5).select(
            F.col("id").alias("k"),
            (F.col("id") * 10).cast("int").alias("v"),
            F.date_add(F.lit("2024-01-01").cast("date"),
                       F.col("id").cast("int")).alias("d"),
        ),
        "narrow.parquet",
    )
    fb = one_file(
        spark.range(5, 8).select(
            F.col("id").alias("k"),
            (F.col("id") * 10).cast("long").alias("v"),
            F.date_add(F.lit("2024-01-01").cast("date"),
                       F.col("id").cast("int"))
            .cast("timestamp_ntz").alias("d"),
        ),
        "wide.parquet",
    )
    schema = {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True,
             "metadata": {}},
            {"name": "v", "type": "long", "nullable": True,
             "metadata": {"delta.typeChanges": [
                 {"fromType": "integer", "toType": "long"}]}},
            {"name": "d", "type": "timestamp_ntz", "nullable": True,
             "metadata": {"delta.typeChanges": [
                 {"fromType": "date", "toType": "timestamp_ntz"}]}},
        ],
    }
    meta = dict(META, schemaString=json.dumps(schema),
                partitionColumns=[])
    D.write_commit(d, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["typeWidening",
                                         "timestampNtz"],
                      "writerFeatures": ["typeWidening"]}},
        {"metaData": meta},
    ] + [{"add": {"path": p, "partitionValues": {}, "size": 1,
                  "modificationTime": 0, "dataChange": True}}
         for p in (fa, fb)])
    out, _snap, n = D.read_snapshot(spark, d)
    assert n == 2
    types = dict(out.dtypes)
    assert types["v"] == "bigint"
    assert types["d"] == "timestamp_ntz"
    rows = {r.k: (r.v, str(r.d)) for r in out.collect()}
    assert rows[0] == (0, "2024-01-01 00:00:00")    # narrow file
    assert rows[4] == (40, "2024-01-05 00:00:00")
    assert rows[7] == (70, "2024-01-08 00:00:00")   # wide file
    # the preview spelling (Delta 3.2 tables) is admitted too
    D.write_commit(d, 1, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["typeWidening-preview"],
                      "writerFeatures": []}},
    ])
    assert D.replay_log(d)["version"] == 1


def test_variant_type_reader_feature(tmp_path, spark):
    """readerFeatures=[variantType] (round 11): the schemaString
    carries a variant column; the data file stores Spark's own
    parquet variant physical layout (value + metadata binaries).
    read_snapshot returns queryable variants."""
    import json

    d = str(tmp_path / "vart")
    df = spark.sql(
        "SELECT id AS k, parse_json(to_json(named_struct("
        "'a', id, 'b', array(id, id * 2)))) AS v FROM range(4)"
    )
    df.coalesce(1).write.parquet(d)
    rel = [n for n in os.listdir(d) if n.endswith(".parquet")]
    schema = {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True,
             "metadata": {}},
            {"name": "v", "type": "variant", "nullable": True,
             "metadata": {}},
        ],
    }
    meta = dict(META, schemaString=json.dumps(schema),
                partitionColumns=[])
    D.write_commit(d, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["variantType"],
                      "writerFeatures": ["variantType"]}},
        {"metaData": meta},
    ] + [{"add": {"path": p, "partitionValues": {}, "size": 1,
                  "modificationTime": 0, "dataChange": True}}
         for p in rel])
    out, _snap, n = D.read_snapshot(spark, d)
    assert n == 1
    assert dict(out.dtypes)["v"] == "variant"
    got = {r.k: r.j for r in out.selectExpr(
        "k", "to_json(v) AS j").collect()}
    assert got[2] == '{"a":2,"b":[2,4]}'
    assert len(got) == 4
    # the variantShredding flag is admitted since round 12 (Spark 4.1
    # reads the shredded layout natively); the protocol replay accepts
    D.write_commit(d, 1, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["variantShredding-preview"],
                      "writerFeatures": []}},
    ])
    snap = D.replay_log(d)
    assert snap["protocol"]["readerFeatures"] == [
        "variantShredding-preview"]


def test_variant_shredding_reader_feature(tmp_path, spark):
    """readerFeatures=[variantShredding] (round 12): the table mixes
    a Spark-written variant file (Spark's writer shreds by default
    when rows are homogeneous) with a pyarrow-written PARTIALLY-
    shredded file authored via the engine's from-spec variant encoder
    (sources/variant_binary.py) — field `a` shredded to int64
    typed_value, field `b` left in the remainder `value` object, one
    row falling back to a full (unshredded) value, one null variant.
    read_snapshot reconstructs all of it through Spark's native
    shredded read (spark.sql.variant.allowReadingShredded)."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from cam_etl_spark.sources.variant_binary import (
        encode_metadata,
        encode_value,
        encode_variant,
    )

    d = str(tmp_path / "shred")
    os.makedirs(d)

    # file 1: Spark-written (auto-shredded: homogeneous objects)
    tmpdir = d + "_tmp"
    spark.sql(
        "SELECT id AS k, parse_json(to_json(named_struct("
        "'a', id, 'b', concat('s', id)))) AS v FROM range(3)"
    ).coalesce(1).write.parquet(tmpdir)
    import glob as _glob
    import shutil

    shutil.move(_glob.glob(tmpdir + "/*.parquet")[0],
                os.path.join(d, "spark.parquet"))
    shutil.rmtree(tmpdir)

    # file 2: pyarrow-written partial shred; keys k=10..13
    meta = encode_metadata(["b"])
    ids = {"b": 0}

    def rem(i):
        return encode_value({"b": f"s{i}"}, ids)

    full_m, full_v = encode_variant({"a": 99, "b": "full"})
    shred_t = pa.struct([
        pa.field("metadata", pa.binary(), nullable=False),
        pa.field("value", pa.binary()),
        pa.field("typed_value", pa.struct([
            pa.field("a", pa.struct([
                pa.field("value", pa.binary()),
                pa.field("typed_value", pa.int64()),
            ]), nullable=False),
        ])),
    ])
    rows = [
        # shredded a + remainder b
        {"metadata": meta, "value": rem(10),
         "typed_value": {"a": {"value": None, "typed_value": 10}}},
        {"metadata": meta, "value": rem(11),
         "typed_value": {"a": {"value": None, "typed_value": 11}}},
        # full fallback: typed_value null, value = whole variant
        {"metadata": full_m, "value": full_v, "typed_value": None},
        # null variant
        None,
    ]
    tab = pa.table({
        "k": pa.array([10, 11, 12, 13], pa.int64()),
        "v": pa.array(rows, shred_t),
    })
    pq.write_table(tab, os.path.join(d, "arrow.parquet"))

    schema = {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True,
             "metadata": {}},
            {"name": "v", "type": "variant", "nullable": True,
             "metadata": {}},
        ],
    }
    D.write_commit(d, 0, [
        {"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["variantType", "variantShredding"],
            "writerFeatures": ["variantType", "variantShredding"]}},
        {"metaData": dict(META, schemaString=json.dumps(schema),
                          partitionColumns=[])},
    ] + [{"add": {"path": p, "partitionValues": {}, "size": 1,
                  "modificationTime": 0, "dataChange": True}}
         for p in ("spark.parquet", "arrow.parquet")])
    out, _snap, n = D.read_snapshot(spark, d)
    assert n == 2
    assert dict(out.dtypes)["v"] == "variant"
    got = {r.k: (json.loads(r.j) if r.j is not None else None)
           for r in out.selectExpr("k", "to_json(v) AS j").collect()}
    assert got[1] == {"a": 1, "b": "s1"}           # spark file
    assert got[10] == {"a": 10, "b": "s10"}        # shred + remainder
    assert got[11] == {"a": 11, "b": "s11"}
    assert got[12] == {"a": 99, "b": "full"}       # fallback row
    assert got[13] is None                         # null variant
    assert len(got) == 7


def test_version_checksum_roundtrip_and_loud(tmp_path):
    """PROTOCOL.md version checksum files (round 12): replay
    validates %020d.crc when present (numFiles + tableSizeBytes must
    match the reconstructed state), returns the parsed doc, and a
    tampered checksum rejects loudly; logs without checksums read
    exactly as before."""
    import json

    d = str(tmp_path / "crc")
    os.makedirs(d)
    D.write_commit(d, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": META},
        {"add": {"path": "a.parquet", "partitionValues": {},
                 "size": 100, "modificationTime": 0,
                 "dataChange": True}},
        {"add": {"path": "b.parquet", "partitionValues": {},
                 "size": 50, "modificationTime": 0,
                 "dataChange": True}},
    ])
    assert D.replay_log(d)["version_checksum"] is None  # no crc yet
    p0 = D.write_version_checksum(d, 0)
    snap = D.replay_log(d)
    assert snap["version_checksum"]["numFiles"] == 2
    assert snap["version_checksum"]["tableSizeBytes"] == 150

    # version 1 removes b, adds c — its own checksum differs
    D.write_commit(d, 1, [
        {"remove": {"path": "b.parquet", "dataChange": True}},
        {"add": {"path": "c.parquet", "partitionValues": {},
                 "size": 70, "modificationTime": 0,
                 "dataChange": True}},
    ])
    D.write_version_checksum(d, 1)
    assert D.replay_log(d, 1)["version_checksum"]["tableSizeBytes"] \
        == 170
    # the v0 checksum still validates against the v0 snapshot
    assert D.replay_log(d, 0)["version_checksum"]["numFiles"] == 2

    # tamper: wrong numFiles / wrong tableSizeBytes reject loudly
    doc = json.load(open(p0))
    doc["numFiles"] = 3
    json.dump(doc, open(p0, "w"))
    with pytest.raises(ValueError, match="numFiles=3"):
        D.replay_log(d, 0)
    doc["numFiles"] = 2
    doc["tableSizeBytes"] = 999
    json.dump(doc, open(p0, "w"))
    with pytest.raises(ValueError, match="tableSizeBytes=999"):
        D.replay_log(d, 0)


def test_in_commit_timestamp_resolution(tmp_path):
    """Round 13 (spec "In-Commit Timestamps"): resolution trusts
    commitInfo.inCommitTimestamp once the table property enables it
    (mtimes deliberately reversed), falls back to mtime BEFORE
    enablement, and raises on missing ICT, non-monotonic ICTs, and
    before-first-commit probes."""
    import json as _json

    from cam_etl_spark.sources.delta_log import (
        resolve_timestamp,
        write_commit,
    )

    d = str(tmp_path / "ict")
    os.makedirs(d)
    t0 = 1_700_000_000_000
    # v0 has NO ICT config: its timestamp is the file mtime
    write_commit(d, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "x", "format": {"provider": "parquet"},
                      "schemaString": "", "partitionColumns": [],
                      "configuration": {}}},
        {"commitInfo": {"operation": "WRITE"}},
    ])
    # v1 ENABLES ICT and carries one
    write_commit(d, 1, [
        {"metaData": {"id": "x", "format": {"provider": "parquet"},
                      "schemaString": "", "partitionColumns": [],
                      "configuration": {
                          "delta.enableInCommitTimestamps": "true"}}},
        {"commitInfo": {"inCommitTimestamp": t0 + 1000}},
    ])
    write_commit(d, 2, [
        {"commitInfo": {"inCommitTimestamp": t0 + 2000}},
    ])
    log = os.path.join(d, "_delta_log")
    # v0's mtime must precede v1's ICT (spec enablement guarantee);
    # v1/v2 mtimes are reversed garbage that must be IGNORED
    os.utime(os.path.join(log, f"{0:020d}.json"),
             ((t0 - 5000) / 1000, (t0 - 5000) / 1000))
    for v, when in ((1, t0 + 999_000), (2, t0 + 500_000)):
        p = os.path.join(log, f"{v:020d}.json")
        os.utime(p, (when / 1000, when / 1000))

    assert resolve_timestamp(d, t0 - 5000) == 0
    assert resolve_timestamp(d, t0 + 1500) == 1
    assert resolve_timestamp(d, t0 + 2000) == 2
    with pytest.raises(ValueError, match="precedes the first"):
        resolve_timestamp(d, t0 - 6000)

    # ICT-enabled commit without an ICT is loud
    write_commit(d, 3, [{"commitInfo": {"operation": "WRITE"}}])
    with pytest.raises(ValueError, match="no inCommitTimestamp"):
        resolve_timestamp(d, t0 + 9000)
    # non-monotonic ICT is loud
    p3 = os.path.join(log, f"{3:020d}.json")
    with open(p3, "w") as fh:
        fh.write(_json.dumps(
            {"commitInfo": {"inCommitTimestamp": t0 + 1500}}) + "\n")
    with pytest.raises(ValueError, match="strictly increasing"):
        resolve_timestamp(d, t0 + 9000)


def test_mtime_timestamps_monotonized_not_raised(tmp_path):
    """Round 14 (advice): file mtimes carry NO monotonicity
    guarantee — same-millisecond commits and rsync/cp -p copied logs
    both produce ties or regressions. Delta's DeltaHistoryManager
    adjusts each commit upward (ts = max(prev+1, mtime)) rather than
    failing; resolve_timestamp must do the same for mtime-derived
    timestamps (ICT values keep the strictness — a regression THERE
    is table corruption)."""
    from cam_etl_spark.sources.delta_log import (
        resolve_timestamp,
        write_commit,
    )

    d = str(tmp_path / "ties")
    os.makedirs(d)
    t0 = 1_700_000_000_000
    base = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "x", "format": {"provider": "parquet"},
                      "schemaString": "", "partitionColumns": [],
                      "configuration": {}}},
        {"commitInfo": {"operation": "WRITE"}},
    ]
    for v in range(3):
        write_commit(d, v, base if v == 0
                     else [{"commitInfo": {"operation": "WRITE"}}])
    log = os.path.join(d, "_delta_log")
    # v0 and v1 tie to the millisecond; v2 REGRESSES (copied log)
    for v, when in ((0, t0), (1, t0), (2, t0 - 1000)):
        p = os.path.join(log, f"{v:020d}.json")
        os.utime(p, (when / 1000, when / 1000))
    # adjusted: v0=t0, v1=t0+1, v2=t0+2 (max(prev+1, mtime))
    assert resolve_timestamp(d, t0) == 0
    assert resolve_timestamp(d, t0 + 1) == 1
    assert resolve_timestamp(d, t0 + 2) == 2
    assert resolve_timestamp(d, t0 + 9_000_000) == 2


def test_ict_enablement_boundary_adjusts_not_raises(tmp_path):
    """Round 14 (review): the FIRST inCommitTimestamp after the
    mtime era carries no ordering guarantee against the previous
    version's mtime (a copied log reads as 'now' while the ICT is
    the historical commit time) — the boundary adjusts like the
    mtime rule; only a regression WITHIN the ICT domain is table
    corruption."""
    from cam_etl_spark.sources.delta_log import (
        resolve_timestamp,
        write_commit,
    )

    d = str(tmp_path / "boundary")
    os.makedirs(d)
    t_hist = 1_600_000_000_000  # historical ICT
    t_now = 1_700_000_000_000   # copied-log mtime, far in the future
    write_commit(d, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "x", "format": {"provider": "parquet"},
                      "schemaString": "", "partitionColumns": [],
                      "configuration": {}}},
        {"commitInfo": {"operation": "WRITE"}},
    ])
    write_commit(d, 1, [
        {"metaData": {"id": "x", "format": {"provider": "parquet"},
                      "schemaString": "", "partitionColumns": [],
                      "configuration": {
                          "delta.enableInCommitTimestamps": "true"}}},
        {"commitInfo": {"inCommitTimestamp": t_hist}},
    ])
    write_commit(d, 2, [
        {"commitInfo": {"inCommitTimestamp": t_hist + 1000}},
    ])
    log = os.path.join(d, "_delta_log")
    os.utime(os.path.join(log, f"{0:020d}.json"),
             (t_now / 1000, t_now / 1000))
    # healthy table: no raise; the boundary ICT adjusts to mtime+1
    assert resolve_timestamp(d, t_now) == 0
    assert resolve_timestamp(d, t_now + 1) == 1
    assert resolve_timestamp(d, t_now + 9000) == 2
