"""Delta Lake transaction-log reader FROM the published protocol
(delta.io PROTOCOL.md): replay `_delta_log/` to reconstruct a table
snapshot — JSON commit files, single-file parquet checkpoints with
`_last_checkpoint`, time travel to any version, last-metaData-wins,
add/remove/re-add file lifecycle, and log-level FILE SKIPPING from
partitionValues and per-file min/max stats.

Why it's in the engine: at 100 TB a Delta table is millions of data
files and thousands of commits — the scan plan must come from the
log (checkpoint + JSON tail, driver-side kilobytes), with partition
and stats pruning deciding which parquet files ever reach an
executor. Reconstruction here feeds `spark.read.parquet` on exactly
the live, pruned file list with `basePath` set, so Spark's native
vectorized parquet scan does the reading and Catalyst sees ordinary
relations.

DELETION VECTORS (readerFeature "deletionVectors") are supported in
ALL THREE storage forms: inline ("i", RFC-1924 base85), absolute
path ("p", version byte + big-endian size/CRC-32 framing), and
relative-UUID ("u", round 10 — the path assembled from the prefix +
20-char base85 UUID as <tableRoot>/<prefix>/deletion_vector_<uuid>
.bin, dv_relative_path). The Roaring row set (sources/roaring.py,
the published portable format) is applied merge-on-read as an
anti-join on (file, `_metadata.row_index`).

COLUMN MAPPING (reader version 2 or readerFeature "columnMapping")
is supported in BOTH modes: "name" — data files keep PHYSICAL column
names from the schemaString field metadata and the scan renames them
to logical names — and "id" (round 10) — the read schema carries
each field's delta.columnMapping.id as `parquet.field.id` metadata
and Spark's vectorized reader resolves columns BY FIELD ID
(spark.sql.parquet.fieldId.read.enabled), so files written under any
historical physical names read correctly. Either way renames/drops
are metadata-only commits — no data rewrite. partitionValues (and
therefore partition_filter) are keyed by PHYSICAL name, per the
protocol.

V2 CHECKPOINTS (readerFeature "v2Checkpoint") are supported in
BOTH protocol top-level formats: UUID-named PARQUET or JSON
(newline-delimited actions — round 11) files with
checkpointMetadata + sidecar actions whose add lists live in
parquet sidecars under `_delta_log/_sidecars/` (what modern writers
emit at scale — _load_checkpoint_v2 / write_checkpoint_v2, which
writes either form); version mismatches and missing sidecars reject
loudly. When parquet and JSON checkpoints coexist at one version the
parquet form wins.

CLASSIC MULTI-PART CHECKPOINTS (%020d.checkpoint.%010d.%010d.parquet,
part o of n) are supported: the snapshot state is the union of all n
parts (write_checkpoint_multipart / the list branch of
_load_checkpoint); an INCOMPLETE part set is ignored per PROTOCOL.md
(a crashed writer's partial checkpoint must not be read), while
inconsistent part counts or duplicate parts reject loudly.

Scope and loud boundaries: minReaderVersion 1/2 supported; version
>= 3 is accepted ONLY when every readerFeature is in the supported
set ({"deletionVectors", "columnMapping", "v2Checkpoint",
"timestampNtz", "typeWidening", "typeWidening-preview",
"variantType", "variantType-preview", "variantShredding",
"variantShredding-preview"}); a gap in commit versions raises
ValueError (log integrity); DV size, checksum and cardinality
mismatches raise ValueError; when a %020d.crc version-checksum file
exists, the replayed snapshot must match its numFiles/tableSizeBytes
(round 12, _validate_version_checksum — loud on mismatch).

There is no independent Delta reader in this environment (no
delta-spark jar, no duckdb delta extension offline), so verification
is protocol-semantics unit tests (tests/test_delta_log.py) plus the
catalog entry's DuckDB oracle replaying the snapshot's logical
content per version — the same bar the reference's own golden-count
reconciliations use (SURVEY.md §5).

Reference parity: the reference repo (cam-etl) has no lake-format
layer; this extends the engine's source surface (SURVEY.md §2.1)
alongside the from-spec parquet and Avro codecs.
"""

from __future__ import annotations

import json
import os
import re

_COMMIT_RE = re.compile(r"^(\d{20})\.json$")
_CKPT_RE = re.compile(r"^(\d{20})\.checkpoint\.parquet$")
#: classic multi-part checkpoints: %020d.checkpoint.%010d.%010d.parquet
#: (part o of n; the snapshot is the union of all n parts)
_CKPT_MULTI_RE = re.compile(
    r"^(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet$"
)
#: v2 checkpoints are UUID-named: %020d.checkpoint.<uuid>.parquet
_CKPT_V2_RE = re.compile(
    r"^(\d{20})\.checkpoint\."
    r"[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-"
    r"[0-9a-fA-F]{4}-[0-9a-fA-F]{12}\.parquet$"
)
#: JSON-format v2 checkpoints (%020d.checkpoint.<uuid>.json):
#: newline-delimited actions, the protocol's other top-level form
_CKPT_V2_JSON_RE = re.compile(
    r"^(\d{20})\.checkpoint\."
    r"[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-"
    r"[0-9a-fA-F]{4}-[0-9a-fA-F]{12}\.json$"
)

#: readerFeatures this replayer actually implements; anything else
#: in a table's protocol keeps the gate below loud.
#: deletionVectors: PROTOCOL.md "Deletion Vectors" — add actions may
#: carry a deletionVector descriptor whose Roaring row set is applied
#: merge-on-read (see read_snapshot / sources/roaring.py).
#: timestampNtz: the schemaString may carry timestamp_ntz columns;
#: Spark 4's StructType/parquet reader handles the type natively
#: (TIMESTAMP with isAdjustedToUTC=false), so the gate admits it —
#: pinned by tests/test_delta_log.py round-tripping wall clocks
#: through a readerFeatures=[timestampNtz] table.
#: variantType (and its preview spelling): the schemaString may carry
#: variant columns; Spark 4 owns the type end-to-end (parse_json /
#: VariantType / the parquet value+metadata physical layout its own
#: writer produces), so the gate admits it — pinned by a
#: wire-a-real-log test in tests/test_delta_log.py.
#: variantShredding (and its preview spelling), round 12: the
#: shredded physical layout (VariantShredding.md: per-field
#: typed_value/value groups beside the metadata/value binaries) is
#: read natively by Spark 4.1's parquet reader
#: (spark.sql.variant.allowReadingShredded defaults true — in fact
#: Spark's OWN writer shreds variant columns by default, so the
#: layout was already on this replayer's read path); the gate admits
#: the flag, and tests pin reconstruction over files Spark did NOT
#: write — a pyarrow-authored PARTIALLY-shredded file whose
#: remainder ``value`` binaries come from the engine's own from-spec
#: variant encoder (sources/variant_binary.py), covering
#: typed_value-null fallback rows, null variants, and remainder
#: fields merged with shredded ones.
#: typeWidening (and its 3.2-preview spelling): data files may store
#: types NARROWER than the current table schema (a column widened
#: int->long/float->double/int->double/date->timestamp_ntz/
#: decimal-precision-up after those files were written; PROTOCOL.md
#: "Type Widening"). read_snapshot already reads under the TABLE
#: schemaString, and Spark 4's vectorized parquet reader performs
#: exactly these promotions (verified empirically for every
#: spec-allowed widening — tests/test_delta_log.py) — a file type
#: the promotion matrix does not cover fails the scan loudly, never
#: silently mis-reads.
SUPPORTED_READER_FEATURES: frozenset[str] = frozenset(
    {"deletionVectors", "columnMapping", "v2Checkpoint",
     "timestampNtz", "typeWidening", "typeWidening-preview",
     "variantType", "variantType-preview",
     "variantShredding", "variantShredding-preview"}
)


def write_commit(table_dir: str, version: int, actions: list[dict]) -> str:
    """Write one commit file (`%020d.json`, one JSON action per
    line). Fixture synthesis AND a minimal single-writer commit path."""
    log_dir = os.path.join(table_dir, "_delta_log")
    os.makedirs(log_dir, exist_ok=True)
    path = os.path.join(log_dir, f"{version:020d}.json")
    with open(path, "w", encoding="utf-8") as fh:
        for a in actions:
            fh.write(json.dumps(a, separators=(",", ":")) + "\n")
    return path


def add_action(
    table_dir: str,
    path: str,
    partition_values: dict | None = None,
    *,
    size: int | None = None,
    mtime: int = 0,
    data_change: bool = True,
    **fields,
) -> dict:
    """An ``add`` action for data file ``path`` (relative to
    ``table_dir``); ``size`` defaults to the file's size on disk and
    ``fields`` (``stats``, ``deletionVector``) follow the required ones."""
    if size is None:
        size = os.path.getsize(os.path.join(table_dir, path))
    return {
        "add": {
            "path": path,
            "partitionValues": partition_values or {},
            "size": size,
            "modificationTime": mtime,
            "dataChange": data_change,
            **fields,
        }
    }


def remove_action(
    path: str, deletion_timestamp: int | None = None, *, data_change: bool = True
) -> dict:
    """A ``remove`` action for ``path``; the optional deletion
    timestamp is omitted when None."""
    r = {"path": path}
    if deletion_timestamp is not None:
        r["deletionTimestamp"] = deletion_timestamp
    r["dataChange"] = data_change
    return {"remove": r}


def table_files(table_dir: str) -> list[str]:
    """Sorted paths, relative to ``table_dir``, of every parquet file
    under it outside ``_delta_log``."""
    rel = []
    for root, _dirs, names in os.walk(table_dir):
        if "_delta_log" in root:
            continue
        rel.extend(
            os.path.relpath(os.path.join(root, n), table_dir)
            for n in names
            if n.endswith(".parquet")
        )
    return sorted(rel)


def write_files(table_dir: str, df, rel: str) -> list[str]:
    """Write ``df`` as parquet into ``table_dir/rel`` (overwriting) and
    return its part files' sorted paths relative to ``table_dir``."""
    out = os.path.join(table_dir, rel)
    df.write.parquet(out, mode="overwrite")
    return [
        os.path.join(rel, n) for n in sorted(os.listdir(out)) if n.endswith(".parquet")
    ]


def one_file(df, path: str) -> str:
    """Write ``df`` as exactly one parquet file at ``path`` (a
    ``coalesce(1)`` write into ``path.tmp``, whose single part is moved
    into place); returns ``path``."""
    import glob
    import shutil

    tmp = path + ".tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(os.path.join(tmp, "*.parquet"))
    assert len(part) == 1, part
    shutil.move(part[0], path)
    shutil.rmtree(tmp)
    return path


def write_checkpoint(table_dir: str, version: int, state: dict) -> str:
    """Write a single-file parquet checkpoint of a replayed ``state``
    (as returned by replay_log) plus `_last_checkpoint`. Uses pyarrow
    — checkpoint columns are PROTOCOL.md's "Checkpoint Schema"
    STRUCTS: add (with partitionValues as MAP<string,string> — an
    explicit Arrow map type, since struct inference would fail on
    unpartitioned tables — and deletionVector as the descriptor
    struct), metaData (id/name/description/format/schemaString/
    partitionColumns/configuration/createdTime) and protocol
    (minReaderVersion/minWriterVersion/readerFeatures/
    writerFeatures). add.stats stays a JSON string — that IS the
    protocol's type for it. Remove tombstones are not carried:
    replay_log tracks live state only, so a checkpoint written here
    is the protocol's "after tombstone retention has elapsed" form
    (PROTOCOL.md allows expired tombstones to be absent); concurrent
    external VACUUM against such a checkpoint would need the JSON
    tail for in-retention tombstones."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    log_dir = os.path.join(table_dir, "_delta_log")
    os.makedirs(log_dir, exist_ok=True)
    rows = [
        {"add": _ckpt_add_row(f), "metaData": None, "protocol": None}
        for f in state["files"]
    ] + [
        {"add": None, "metaData": _ckpt_md_row(state["metadata"]),
         "protocol": None},
        {"add": None, "metaData": None,
         "protocol": _ckpt_pr_row(state["protocol"])},
    ]
    add_type, metadata_type, protocol_type = _ckpt_types(pa)
    schema = pa.schema(
        [
            ("add", add_type),
            ("metaData", metadata_type),
            ("protocol", protocol_type),
        ]
    )
    table = pa.Table.from_pylist(rows, schema=schema)
    path = os.path.join(log_dir, f"{version:020d}.checkpoint.parquet")
    pq.write_table(table, path)
    with open(os.path.join(log_dir, "_last_checkpoint"), "w") as fh:
        json.dump({"version": version, "size": len(rows)}, fh)
    return path


def write_checkpoint_multipart(
    table_dir: str, version: int, state: dict, n_parts: int = 2
) -> list[str]:
    """Write a CLASSIC multi-part checkpoint of a replayed ``state``
    (PROTOCOL.md: `%020d.checkpoint.%010d.%010d.parquet`, part o of
    n, 1-based) — what pre-v2Checkpoint writers emit for tables whose
    file list outgrows a single parquet. The add actions are spread
    round-robin over the parts; metaData/protocol ride in part 1 (the
    protocol allows any part). Also writes `_last_checkpoint` with
    the protocol's `parts` field. Same tombstone policy as
    write_checkpoint."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    log_dir = os.path.join(table_dir, "_delta_log")
    os.makedirs(log_dir, exist_ok=True)
    add_type, metadata_type, protocol_type = _ckpt_types(pa)
    schema = pa.schema(
        [
            ("add", add_type),
            ("metaData", metadata_type),
            ("protocol", protocol_type),
        ]
    )
    files = state["files"]
    n_parts = max(1, n_parts)
    paths = []
    total = 0
    for o in range(1, n_parts + 1):
        rows = [
            {"add": _ckpt_add_row(f), "metaData": None,
             "protocol": None}
            for f in files[o - 1 :: n_parts]
        ]
        if o == 1:
            rows += [
                {"add": None,
                 "metaData": _ckpt_md_row(state["metadata"]),
                 "protocol": None},
                {"add": None, "metaData": None,
                 "protocol": _ckpt_pr_row(state["protocol"])},
            ]
        total += len(rows)
        path = os.path.join(
            log_dir,
            f"{version:020d}.checkpoint.{o:010d}.{n_parts:010d}"
            ".parquet",
        )
        pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)
        paths.append(path)
    with open(os.path.join(log_dir, "_last_checkpoint"), "w") as fh:
        json.dump(
            {"version": version, "size": total, "parts": n_parts}, fh
        )
    return paths


def _ckpt_add_row(f: dict) -> dict:
    dv = f.get("deletionVector")
    return {
        "path": f["path"],
        "partitionValues": sorted(f["partitionValues"].items()),
        "size": f["size"],
        "modificationTime": f.get("modificationTime", 0),
        "dataChange": False,
        "stats": json.dumps(f["stats"]) if f.get("stats") else None,
        "deletionVector": (
            {
                "storageType": dv.get("storageType"),
                "pathOrInlineDv": dv.get("pathOrInlineDv"),
                "offset": dv.get("offset"),
                "sizeInBytes": dv.get("sizeInBytes"),
                "cardinality": dv.get("cardinality"),
            }
            if dv
            else None
        ),
    }


def _ckpt_md_row(md: dict) -> dict:
    return {
        "id": md.get("id"),
        "name": md.get("name"),
        "description": md.get("description"),
        "format": {
            "provider": (md.get("format") or {}).get("provider", "parquet"),
            "options": sorted(
                ((md.get("format") or {}).get("options") or {}).items()
            ),
        },
        "schemaString": md.get("schemaString"),
        "partitionColumns": md.get("partitionColumns") or [],
        "configuration": sorted((md.get("configuration") or {}).items()),
        "createdTime": md.get("createdTime"),
    }


def _ckpt_pr_row(pr: dict) -> dict:
    return {
        "minReaderVersion": pr.get("minReaderVersion", 1),
        "minWriterVersion": pr.get("minWriterVersion", 2),
        "readerFeatures": pr.get("readerFeatures"),
        "writerFeatures": pr.get("writerFeatures"),
    }


def _ckpt_types(pa):
    dv_type = pa.struct(
        [
            ("storageType", pa.string()),
            ("pathOrInlineDv", pa.string()),
            ("offset", pa.int32()),
            ("sizeInBytes", pa.int32()),
            ("cardinality", pa.int64()),
        ]
    )
    add_type = pa.struct(
        [
            ("path", pa.string()),
            ("partitionValues", pa.map_(pa.string(), pa.string())),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
            ("stats", pa.string()),
            ("deletionVector", dv_type),
        ]
    )
    metadata_type = pa.struct(
        [
            ("id", pa.string()),
            ("name", pa.string()),
            ("description", pa.string()),
            (
                "format",
                pa.struct(
                    [
                        ("provider", pa.string()),
                        ("options", pa.map_(pa.string(), pa.string())),
                    ]
                ),
            ),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", pa.map_(pa.string(), pa.string())),
            ("createdTime", pa.int64()),
        ]
    )
    protocol_type = pa.struct(
        [
            ("minReaderVersion", pa.int32()),
            ("minWriterVersion", pa.int32()),
            ("readerFeatures", pa.list_(pa.string())),
            ("writerFeatures", pa.list_(pa.string())),
        ]
    )
    return add_type, metadata_type, protocol_type


def write_checkpoint_v2(
    table_dir: str, version: int, state: dict, n_sidecars: int = 2,
    top_format: str = "parquet",
) -> str:
    """Write a V2 (sidecar-based) checkpoint of a replayed ``state``
    (PROTOCOL.md "V2 Spec Checkpoints") — the form modern Delta
    writers emit at scale: the UUID-named top-level file carries
    checkpointMetadata + metaData/protocol + one `sidecar` action per
    sidecar parquet under _delta_log/_sidecars/, and the add actions
    are SPREAD over the sidecars so a reader can fan out the file
    listing. The "UUID" is derived deterministically from
    (version, n_files) — reproducible fixtures, valid naming. Also
    writes `_last_checkpoint`. Same tombstone policy as
    write_checkpoint."""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    log_dir = os.path.join(table_dir, "_delta_log")
    sc_dir = os.path.join(log_dir, "_sidecars")
    os.makedirs(sc_dir, exist_ok=True)
    add_type, metadata_type, protocol_type = _ckpt_types(pa)

    files = state["files"]
    n_sidecars = max(1, min(n_sidecars, max(1, len(files))))
    chunks = [files[i::n_sidecars] for i in range(n_sidecars)]
    sidecar_rows = []
    for i, chunk in enumerate(chunks):
        seed = f"{version}:{i}:{len(files)}".encode()
        h = hashlib.md5(seed).hexdigest()
        uid = f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}"
        rel = f"{uid}.parquet"
        sp = os.path.join(sc_dir, rel)
        table = pa.Table.from_pylist(
            [{"add": _ckpt_add_row(f)} for f in chunk],
            schema=pa.schema([("add", add_type)]),
        )
        pq.write_table(table, sp)
        sidecar_rows.append(
            {
                "path": rel,
                "sizeInBytes": os.path.getsize(sp),
                "modificationTime": 0,
            }
        )

    cm_type = pa.struct([("version", pa.int64())])
    sc_type = pa.struct(
        [
            ("path", pa.string()),
            ("sizeInBytes", pa.int64()),
            ("modificationTime", pa.int64()),
        ]
    )
    rows = (
        [{"checkpointMetadata": {"version": version}}]
        + [{"sidecar": sc} for sc in sidecar_rows]
        + [{"metaData": _ckpt_md_row(state["metadata"])}]
        + [{"protocol": _ckpt_pr_row(state["protocol"])}]
    )
    schema = pa.schema(
        [
            ("checkpointMetadata", cm_type),
            ("sidecar", sc_type),
            ("metaData", metadata_type),
            ("protocol", protocol_type),
            ("add", add_type),
        ]
    )
    h = hashlib.md5(f"top:{version}:{len(files)}".encode()).hexdigest()
    uid = f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}"
    if top_format == "json":
        # the protocol's OTHER top-level form: newline-delimited JSON
        # actions, the same shapes as commit files (sidecars stay
        # parquet either way)
        path = os.path.join(
            log_dir, f"{version:020d}.checkpoint.{uid}.json"
        )
        with open(path, "w", encoding="utf-8") as fh:
            for row in rows:
                fh.write(json.dumps(row, separators=(",", ":"))
                         + "\n")
    elif top_format == "parquet":
        table = pa.Table.from_pylist(rows, schema=schema)
        path = os.path.join(
            log_dir, f"{version:020d}.checkpoint.{uid}.parquet"
        )
        pq.write_table(table, path)
    else:
        raise ValueError(f"delta: top_format {top_format!r}")
    with open(os.path.join(log_dir, "_last_checkpoint"), "w") as fh:
        json.dump({"version": version, "size": len(rows)}, fh)
    return path


def compact_files(spark, table_dir: str, group_size: int) -> dict:
    """OPTIMIZE-style bin-packing compaction: group the current
    snapshot's live files (path-sorted, ``group_size`` per group),
    rewrite each group as ONE parquet file via a Spark job, and
    commit remove(old)+add(new) with dataChange=FALSE on every
    action — the protocol's marker that the commit rearranges bytes
    without changing table content, which is exactly why CDF readers
    skip it (read_changes filters on dataChange). Boundaries loud:
    partitioned, deletion-vector or column-mapped tables need
    per-partition packing / DV materialization this single-writer
    path does not implement. Returns {"version", "n_before",
    "n_after"}. At 100 TB compaction is the maintenance pass that
    keeps scan task counts bounded; each group rewrite is one
    distributed job and the log commit is kilobytes."""
    snap = replay_log(table_dir)
    if column_mapping_mode(snap["metadata"]) != "none":
        raise NotImplementedError(
            "delta: compaction over column-mapped tables unsupported"
        )
    files = sorted(snap["files"], key=lambda f: f["path"])
    if any(f.get("partitionValues") for f in files):
        raise NotImplementedError(
            "delta: compaction over partitioned tables unsupported"
        )
    if any(f.get("deletionVector") for f in files):
        raise NotImplementedError(
            "delta: compaction over deletion-vector files unsupported "
            "(materialize DVs first)"
        )
    version = snap["version"] + 1
    groups = [
        files[i: i + group_size] for i in range(0, len(files), group_size)
    ]
    adds = []
    for gi, grp in enumerate(groups):
        rel = f"compacted-{version}-{gi}.parquet"
        one_file(
            spark.read.parquet(
                *[os.path.join(table_dir, f["path"]) for f in grp]
            ).repartition(1),
            os.path.join(table_dir, rel),
        )
        adds.append(add_action(table_dir, rel, data_change=False))
    removes = [remove_action(f["path"], 0, data_change=False) for f in files]
    write_commit(table_dir, version, removes + adds)
    return {
        "version": version,
        "n_before": len(files),
        "n_after": len(adds),
    }


def merge_into(
    spark,
    table_dir: str,
    source_df,
    key: str,
    update_cols: list[str],
    rel_prefix: str,
):
    """COPY-ON-WRITE MERGE (the lakehouse upsert): WHEN MATCHED
    update ``update_cols``, WHEN NOT MATCHED insert. The write-side
    discipline that matters at 100 TB: candidate files come from
    per-file min/max STATS against the source key range (metadata
    pruning), the exact touched set from a distributed semi-join on
    `_metadata.file_path`, and ONLY touched files are rewritten —
    untouched files' add entries survive byte-identical. The commit
    carries remove(touched) + add(rewritten + inserts) with
    dataChange=true AND explicit cdc actions (update_preimage /
    update_postimage / insert), so CDF readers see row-level truth
    instead of derived whole-file noise. Returns {"version",
    "n_touched", "n_untouched", "n_updated", "n_inserted"}.
    Boundaries loud: partitioned / DV / column-mapped tables
    unsupported in this single-writer path."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    snap = replay_log(table_dir)
    if column_mapping_mode(snap["metadata"]) != "none":
        raise NotImplementedError(
            "delta: merge over column-mapped tables unsupported"
        )
    files = snap["files"]
    if any(f.get("partitionValues") for f in files):
        raise NotImplementedError(
            "delta: merge over partitioned tables unsupported"
        )
    if any(f.get("deletionVector") for f in files):
        raise NotImplementedError(
            "delta: merge over deletion-vector files unsupported"
        )
    version = snap["version"] + 1
    source_df = source_df.cache()
    bounds = source_df.agg(
        F.min(key).alias("lo"), F.max(key).alias("hi")
    ).first()
    candidates = prune_files(
        files, stats_ranges={key: (bounds["lo"], bounds["hi"])}
    )
    cand_paths = [os.path.join(table_dir, f["path"]) for f in candidates]
    scan = spark.read.parquet(*cand_paths).withColumn(
        "_f",
        F.regexp_replace(F.col("_metadata.file_path"), "^file:/+", "/"),
    )
    touched_abs = {
        r["_f"]
        for r in scan.join(
            source_df.select(key), key, "left_semi"
        ).select("_f").distinct().collect()
    }  # bounded by the candidate file count
    abs_to_rel = {
        os.path.join(table_dir, f["path"]): f["path"] for f in candidates
    }
    touched = sorted(
        abs_to_rel[p] for p in touched_abs if p in abs_to_rel
    )
    assert len(touched) == len(touched_abs), (touched_abs, abs_to_rel)
    # rewrite ONLY the touched files: matched rows take the source's
    # update columns (null-safe via the _m match indicator), the rest
    # pass through. An inserts-only merge touches nothing.
    full_scan = spark.read.parquet(
        *[os.path.join(table_dir, f["path"]) for f in files]
    )
    tgt = (
        spark.read.parquet(
            *[os.path.join(table_dir, p) for p in touched]
        )
        if touched
        else full_scan.limit(0)
    )
    src = source_df.select(
        F.col(key),
        F.lit(True).alias("_m"),
        *[F.col(c).alias(f"_src_{c}") for c in update_cols],
    )
    joined = tgt.join(src, key, "left")
    matched = joined.filter(F.col("_m"))

    def resolve(c):
        if c in update_cols:
            return F.when(
                F.col("_m"), F.col(f"_src_{c}")
            ).otherwise(F.col(c)).alias(c)
        return F.col(c)

    rewritten = joined.select(*[resolve(c) for c in tgt.columns])
    # inserts: source keys matching NO target row anywhere
    inserts = source_df.join(full_scan.select(key), key, "left_anti")

    def land(df, rel):
        tmp = os.path.join(table_dir, f"_merge_tmp_{version}_{rel}")
        df.write.parquet(tmp, mode="overwrite")
        out = []
        for i, p in enumerate(sorted(glob.glob(tmp + "/*.parquet"))):
            dst = f"{rel_prefix}-{rel}-{i}.parquet"
            shutil.move(p, os.path.join(table_dir, dst))
            out.append(dst)
        shutil.rmtree(tmp)
        return out

    n_updated = matched.count()
    n_inserted = inserts.count()
    new_data = (
        land(rewritten.repartition(len(touched)), "rw")
        if touched
        else []
    ) + land(inserts.select(*tgt.columns).repartition(1), "ins")
    pre = matched.select(*tgt.columns).withColumn(
        "_change_type", F.lit("update_preimage")
    )
    post = matched.select(
        *[
            F.col(f"_src_{c}").alias(c) if c in update_cols else F.col(c)
            for c in tgt.columns
        ]
    ).withColumn("_change_type", F.lit("update_postimage"))
    ins_cdc = inserts.select(*tgt.columns).withColumn(
        "_change_type", F.lit("insert")
    )
    cdc_files = land(
        pre.unionByName(post).unionByName(ins_cdc).repartition(1),
        "cdc",
    )

    actions = (
        [remove_action(p, 0) for p in touched]
        + [add_action(table_dir, p) for p in new_data]
        + [
            {"cdc": {"path": p, "partitionValues": {},
                     "size": os.path.getsize(os.path.join(table_dir, p)),
                     "dataChange": False}}
            for p in cdc_files
        ]
    )
    write_commit(table_dir, version, actions)
    source_df.unpersist()
    return {
        "version": version,
        "n_touched": len(touched),
        "n_untouched": len(files) - len(touched),
        "n_updated": n_updated,
        "n_inserted": n_inserted,
    }


def vacuum(
    table_dir: str, cutoff_ts: int, delete: bool = False
) -> dict:
    """VACUUM (PROTOCOL.md "remove" tombstones): list — and with
    ``delete`` remove — data files that are (a) tombstoned by a
    remove action whose deletionTimestamp <= cutoff_ts and (b) NOT
    live in the current snapshot (a path removed then re-added is
    live; the LATEST action wins, so its earlier tombstone is moot).
    Returns {"candidates": [paths], "n_live", "version"}. Vacuuming
    breaks time travel to versions that needed the dead files —
    exactly the real system's retention trade-off; the log itself is
    untouched, so metadata replay still works. At 100 TB vacuum is
    what reclaims the storage that compaction/rewrite churn strands;
    the candidate scan is a driver-side walk over kilobytes of log."""
    log_dir = os.path.join(table_dir, "_delta_log")
    if not os.path.isdir(log_dir):
        raise ValueError(f"delta: no _delta_log under {table_dir}")
    snap = replay_log(table_dir)
    live = {f["path"] for f in snap["files"]}
    tombstones: dict[str, int] = {}
    for name in sorted(os.listdir(log_dir)):
        m = _COMMIT_RE.match(name)
        if not m:
            continue
        with open(os.path.join(log_dir, name), encoding="utf-8") as fh:
            for line in fh:
                if not line.strip():
                    continue
                a = json.loads(line)
                if "remove" in a:
                    r = a["remove"]
                    tombstones[r["path"]] = r.get(
                        "deletionTimestamp", 0
                    )
                elif "add" in a:
                    # re-add supersedes any earlier tombstone
                    tombstones.pop(a["add"]["path"], None)
    candidates = sorted(
        p
        for p, ts in tombstones.items()
        if ts <= cutoff_ts and p not in live
    )
    if delete:
        for p in candidates:
            full = os.path.join(table_dir, p)
            if os.path.exists(full):
                os.unlink(full)
    return {
        "candidates": candidates,
        "n_live": len(live),
        "version": snap["version"],
    }


def _check_protocol(proto: dict):
    v = proto.get("minReaderVersion", 1)
    if v <= 1:
        return
    if v == 2:
        # reader version 2 == column mapping (PROTOCOL.md), which
        # this replayer implements in "name" mode; the mode gate in
        # column_mapping() keeps "id" loud.
        return
    feats = set(proto.get("readerFeatures") or [])
    unsupported = feats - SUPPORTED_READER_FEATURES
    if unsupported or not feats:
        raise NotImplementedError(
            f"delta: minReaderVersion {v} with readerFeatures "
            f"{sorted(feats) or '(none declared)'} unsupported "
            f"(implemented: {sorted(SUPPORTED_READER_FEATURES)})"
        )


def _apply_commit(state: dict, actions: list[dict]):
    for a in actions:
        if "metaData" in a:
            state["metadata"] = a["metaData"]  # last metaData wins
        elif "protocol" in a:
            _check_protocol(a["protocol"])
            state["protocol"] = a["protocol"]
        elif "add" in a:
            add = a["add"]
            stats = add.get("stats")
            if isinstance(stats, str) and stats:
                stats = json.loads(stats)
            state["live"][add["path"]] = {
                "path": add["path"],
                "partitionValues": add.get("partitionValues") or {},
                "size": add.get("size", 0),
                "modificationTime": add.get("modificationTime", 0),
                "stats": stats if isinstance(stats, dict) else None,
                "deletionVector": add.get("deletionVector"),
            }
        elif "remove" in a:
            state["live"].pop(a["remove"]["path"], None)
        # commitInfo / txn / cdc are informational for a reader


def resolve_timestamp(table_dir: str, ts_millis: int) -> int:
    """Timestamp time travel (round 13, Delta spec "In-Commit
    Timestamps"): map a query timestamp to the LATEST version whose
    commit timestamp is <= it. Per-version timestamp source: once
    the ``delta.enableInCommitTimestamps`` table property turns on,
    the version's commitInfo MUST carry ``inCommitTimestamp`` (loud
    when missing) and that value wins; versions before enablement
    use the commit file's mtime — the clock-skew-prone source ICT
    exists to replace. The combined sequence must be strictly
    monotonically increasing (the spec's guarantee; a violation
    means a corrupt log and raises rather than resolving
    ambiguously). A timestamp before the first commit raises."""
    log_dir = os.path.join(table_dir, "_delta_log")
    if not os.path.isdir(log_dir):
        raise ValueError(f"delta: no _delta_log under {table_dir}")
    commits = {}
    for name in os.listdir(log_dir):
        m = _COMMIT_RE.match(name)
        if m:
            commits[int(m.group(1))] = os.path.join(log_dir, name)
    if not commits:
        raise ValueError("delta: no commit files to time-travel")
    ict_on = False
    prev_ts = None
    prev_raw_ict: int | None = None  # the last RAW ICT value
    best = None
    for v in sorted(commits):
        ict = None
        with open(commits[v], "r", encoding="utf-8") as fh:
            for line in fh:
                if not line.strip():
                    continue
                a = json.loads(line)
                if "metaData" in a:
                    conf = a["metaData"].get("configuration") or {}
                    ict_on = (conf.get(
                        "delta.enableInCommitTimestamps", "false"
                    ).lower() == "true")
                if "commitInfo" in a:
                    ict = a["commitInfo"].get("inCommitTimestamp")
        if ict_on:
            if ict is None:
                raise ValueError(
                    f"delta: version {v} has "
                    "delta.enableInCommitTimestamps but its "
                    "commitInfo carries no inCommitTimestamp"
                )
            ts = int(ict)
            # WITHIN the ICT domain the protocol writes monotone
            # timestamps — a RAW regression is table corruption. The
            # corruption check compares raw ICTs (never values
            # adjusted at the enablement boundary below).
            if prev_raw_ict is not None and ts <= prev_raw_ict:
                raise ValueError(
                    f"delta: inCommitTimestamps not strictly "
                    f"increasing at version {v} ({ts} after "
                    f"{prev_raw_ict})"
                )
            prev_raw_ict = ts
            if prev_ts is not None and ts <= prev_ts:
                # the ICT-ENABLEMENT boundary: the previous value is
                # an mtime (possibly from a copied log reading as
                # "now") with no guarantee against the first
                # historical ICT — monotonize the RESOLVED sequence
                # like the mtime rule rather than mis-flagging a
                # healthy table
                ts = prev_ts + 1
        else:
            ts = int(os.path.getmtime(commits[v]) * 1000)
            if prev_ts is not None and ts <= prev_ts:
                # file mtimes carry NO monotonicity guarantee
                # (same-millisecond commits, rsync/cp -p copied
                # logs) — adjust upward exactly like Delta's
                # DeltaHistoryManager instead of failing
                ts = prev_ts + 1
        prev_ts = ts
        if ts <= ts_millis:
            best = v
    if best is None:
        raise ValueError(
            f"delta: timestamp {ts_millis} precedes the first commit"
        )
    return best


def replay_log(table_dir: str, version: int | None = None) -> dict:
    """Reconstruct the snapshot at ``version`` (default: latest).
    Returns {"version", "metadata", "protocol", "files": [...],
    "n_commits_replayed", "from_checkpoint"}. Files are sorted by
    path for determinism."""
    log_dir = os.path.join(table_dir, "_delta_log")
    if not os.path.isdir(log_dir):
        raise ValueError(f"delta: no _delta_log under {table_dir}")
    commits = {}
    checkpoints = {}
    v2_at: set[int] = set()
    single_at: set[int] = set()
    v2_json_at: set[int] = set()
    multi: dict[int, dict[int, str]] = {}
    multi_n: dict[int, int] = {}
    for name in os.listdir(log_dir):
        m = _COMMIT_RE.match(name)
        if m:
            commits[int(m.group(1))] = os.path.join(log_dir, name)
            continue
        m = _CKPT_MULTI_RE.match(name)
        if m:
            # classic multi-part checkpoint:
            # %020d.checkpoint.%010d.%010d.parquet (part o of n);
            # valid only when ALL n parts exist — collected here,
            # completeness-checked after the listing
            v, o, n = (int(m.group(i)) for i in (1, 2, 3))
            if not 1 <= o <= n:
                raise ValueError(
                    f"delta: multi-part checkpoint part {name!r} "
                    f"out of range (part {o} of {n})"
                )
            if multi_n.setdefault(v, n) != n:
                raise ValueError(
                    f"delta: multi-part checkpoint at version {v} "
                    f"has inconsistent part counts "
                    f"({multi_n[v]} vs {n})"
                )
            if o in multi.setdefault(v, {}):
                raise ValueError(
                    f"delta: duplicate multi-part checkpoint part "
                    f"{name!r}"
                )
            multi[v][o] = os.path.join(log_dir, name)
            continue
        m = _CKPT_V2_RE.match(name)
        if m:
            # v2 (sidecar-based) checkpoint; preferred over a classic
            # one at the same version (the protocol allows either)
            checkpoints[int(m.group(1))] = os.path.join(log_dir, name)
            v2_at.add(int(m.group(1)))
            continue
        m = _CKPT_RE.match(name)
        if m:
            v = int(m.group(1))
            single_at.add(v)
            if v not in v2_at and v not in v2_json_at:
                checkpoints[v] = os.path.join(log_dir, name)
            continue
        if name.startswith("_last_checkpoint") or name == "_sidecars":
            continue
        m = _CKPT_V2_JSON_RE.match(name)
        if m:
            # JSON-format v2 checkpoint (round 11): same action
            # stream as commits; the parquet form wins when both
            # exist at one version
            v = int(m.group(1))
            v2_json_at.add(v)
            if v not in v2_at:
                checkpoints[v] = os.path.join(log_dir, name)
            continue
        if ".checkpoint." in name and name.endswith(".parquet"):
            raise NotImplementedError(
                f"delta: unrecognized checkpoint naming {name!r}"
            )
    for v, parts in multi.items():
        if v in v2_at or v in single_at or v in v2_json_at:
            continue  # a same-version single-file/v2 checkpoint wins
        missing = [o for o in range(1, multi_n[v] + 1) if o not in parts]
        if missing:
            # PROTOCOL.md: an incomplete multi-part checkpoint (a
            # writer crashed mid-write) MUST be ignored by readers;
            # replay falls back to commits / an older checkpoint
            continue
        checkpoints[v] = [parts[o] for o in range(1, multi_n[v] + 1)]
    if not commits and not checkpoints:
        raise ValueError(f"delta: empty log at {log_dir}")
    latest = max(list(commits) + list(checkpoints))
    if version is None:
        version = latest
    if version not in commits and version not in checkpoints:
        raise ValueError(f"delta: no version {version} in log (max {latest})")

    state = {"metadata": None, "protocol": None, "live": {}}
    start = 0
    from_checkpoint = None
    usable = [v for v in checkpoints if v <= version]
    if usable:
        cv = max(usable)
        _load_checkpoint(state, checkpoints[cv])
        start = cv + 1
        from_checkpoint = cv

    n = 0
    for v in range(start, version + 1):
        if v not in commits:
            if v == from_checkpoint:
                continue
            raise ValueError(f"delta: missing commit version {v} (log gap)")
        with open(commits[v], encoding="utf-8") as fh:
            actions = [json.loads(line) for line in fh if line.strip()]
        _apply_commit(state, actions)
        n += 1
    if state["metadata"] is None:
        raise ValueError("delta: snapshot has no metaData action")
    if state["protocol"] is not None:
        _check_protocol(state["protocol"])
    files = sorted(state["live"].values(), key=lambda f: f["path"])
    return {
        "version": version,
        "metadata": state["metadata"],
        "protocol": state["protocol"] or {"minReaderVersion": 1},
        "files": files,
        "n_commits_replayed": n,
        "from_checkpoint": from_checkpoint,
        # PROTOCOL.md "Version Checksum File": when <version>.crc
        # exists, the recomputed state MUST match it (loud) — the
        # log's own end-to-end integrity cross-check
        "version_checksum": _validate_version_checksum(
            log_dir, version, files),
    }


def _validate_version_checksum(log_dir: str, version: int,
                               files: list[dict]):
    """Validate the optional per-version checksum file
    (%020d.crc — PROTOCOL.md "Version Checksum File": a JSON summary
    delta-spark writes beside each commit). When present, numFiles
    and tableSizeBytes must equal the REPLAYED state — a mismatch
    means the log and the reconstructed snapshot disagree, which is
    never silently ignorable. Returns the parsed document, or None
    when the writer emitted no checksum (older writers)."""
    path = os.path.join(log_dir, f"{version:020d}.crc")
    if not os.path.exists(path):
        return None
    with open(path, encoding="utf-8") as fh:
        doc = json.load(fh)
    actual_n = len(files)
    actual_size = sum(int(f.get("size", 0)) for f in files)
    if "numFiles" in doc and int(doc["numFiles"]) != actual_n:
        raise ValueError(
            f"delta: version {version} checksum says numFiles="
            f"{doc['numFiles']}, replay computed {actual_n}"
        )
    if "tableSizeBytes" in doc and             int(doc["tableSizeBytes"]) != actual_size:
        raise ValueError(
            f"delta: version {version} checksum says tableSizeBytes="
            f"{doc['tableSizeBytes']}, replay computed {actual_size}"
        )
    return doc


def write_version_checksum(table_dir: str, version: int) -> str:
    """Writer-side half: recompute the snapshot at ``version`` and
    write its %020d.crc beside the commit (numFiles, tableSizeBytes,
    numMetadata/numProtocol, and copies of metadata/protocol — the
    fields delta-spark's own checksum carries)."""
    snap = replay_log(table_dir, version)
    doc = {
        "tableSizeBytes": sum(int(f.get("size", 0))
                              for f in snap["files"]),
        "numFiles": len(snap["files"]),
        "numMetadata": 1,
        "numProtocol": 1,
        "metadata": snap["metadata"],
        "protocol": snap["protocol"],
    }
    path = os.path.join(table_dir, "_delta_log", f"{version:020d}.crc")
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(doc, fh)
    return path


def _load_checkpoint(state: dict, path):
    """Dispatch: classic single-file checkpoint, a v2 (sidecar-based)
    checkpoint when the file carries the protocol's UUID naming, or —
    given a LIST of part paths — a classic multi-part checkpoint
    (the snapshot is the union of the parts; action order across
    parts is immaterial because checkpoint rows are disjoint)."""
    import pyarrow.parquet as pq

    if isinstance(path, list):
        for part in path:
            for row in pq.read_table(part).to_pylist():
                _apply_checkpoint_row(state, row)
        return
    name = os.path.basename(path)
    m = _CKPT_V2_RE.match(name) or _CKPT_V2_JSON_RE.match(name)
    if m:
        _load_checkpoint_v2(state, path, int(m.group(1)))
        return
    table = pq.read_table(path)
    for row in table.to_pylist():
        _apply_checkpoint_row(state, row)


def _load_checkpoint_v2(state: dict, path: str, version: int):
    """V2 checkpoint (PROTOCOL.md "V2 Spec Checkpoints"): the
    UUID-named top-level file carries checkpointMetadata (whose
    version MUST match the filename), protocol/metaData, optional
    inline add rows, and `sidecar` actions naming parquet files
    under _delta_log/_sidecars/ that hold the add (and tombstone
    remove) actions. Modern writers emit this form at scale — the
    file list is spread over sidecars so a reader can fan them out.
    The top-level file comes in BOTH protocol formats: parquet
    (checkpoint-schema struct columns) and JSON (newline-delimited
    actions, the same shapes as commit files — round 11); sidecars
    are always parquet."""
    import pyarrow.parquet as pq

    if path.endswith(".json"):
        with open(path, encoding="utf-8") as fh:
            rows = [json.loads(line) for line in fh if line.strip()]
    else:
        table = pq.read_table(path)
        if "checkpointMetadata" not in set(table.column_names):
            raise ValueError(
                f"delta: v2 checkpoint {os.path.basename(path)!r} "
                "has no checkpointMetadata action"
            )
        rows = table.to_pylist()

    log_dir = os.path.dirname(path)
    sidecars = []
    seen_meta = False
    for row in rows:
        cm = row.get("checkpointMetadata")
        if cm:
            if cm.get("version") != version:
                raise ValueError(
                    f"delta: v2 checkpoint version mismatch — "
                    f"checkpointMetadata says {cm.get('version')}, "
                    f"filename says {version}"
                )
            seen_meta = True
            continue
        sc = row.get("sidecar")
        if sc:
            sidecars.append(sc["path"])
            continue
        _apply_checkpoint_row(state, row)
    if not seen_meta:
        raise ValueError("delta: v2 checkpoint missing "
                         "checkpointMetadata row")
    for rel in sidecars:
        sp = os.path.join(log_dir, "_sidecars", rel)
        if not os.path.exists(sp):
            raise ValueError(
                f"delta: v2 checkpoint sidecar {rel!r} missing from "
                f"{log_dir}/_sidecars"
            )
        for row in pq.read_table(sp).to_pylist():
            if row.get("remove"):
                continue  # tombstone: not live state
            _apply_checkpoint_row(state, row)


def _apply_checkpoint_row(state: dict, row: dict):
    if row.get("metaData"):
        md = row["metaData"]
        if isinstance(md, str):
            md = json.loads(md)
        else:
            # struct checkpoint column: Arrow maps surface as
            # (k, v) pair lists; normalize back to the JSON-commit
            # shape and drop absent optional fields
            md = dict(md)
            if isinstance(md.get("configuration"), list):
                md["configuration"] = dict(md["configuration"])
            fmt = md.get("format")
            if isinstance(fmt, dict) and isinstance(
                fmt.get("options"), list
            ):
                fmt = dict(fmt)
                fmt["options"] = dict(fmt["options"])
                md["format"] = fmt
            md = {k: v for k, v in md.items() if v is not None}
        state["metadata"] = md
    elif row.get("protocol"):
        pr = row["protocol"]
        if isinstance(pr, str):
            pr = json.loads(pr)
        else:
            pr = {k: v for k, v in dict(pr).items() if v is not None}
        _check_protocol(pr)
        state["protocol"] = pr
    elif row.get("add"):
        add = row["add"]
        stats = add.get("stats")
        if isinstance(stats, str) and stats:
            stats = json.loads(stats)
        dv = add.get("deletionVector")
        if isinstance(dv, str) and dv:
            dv = json.loads(dv)
        elif isinstance(dv, dict):
            # struct DV descriptor: drop nulls so optional fields
            # (offset for inline DVs) fall back to their defaults
            dv = {k: v for k, v in dv.items() if v is not None}
        pv = add.get("partitionValues") or {}
        if isinstance(pv, list):  # Arrow map type -> (k, v) pairs
            pv = dict(pv)
        state["live"][add["path"]] = {
            "path": add["path"],
            "partitionValues": pv,
            "size": add.get("size", 0),
            "modificationTime": add.get("modificationTime", 0),
            "stats": stats if isinstance(stats, dict) else None,
            "deletionVector": dv if isinstance(dv, dict) else None,
        }


# ---------------------------------------------------------------------------
# Deletion vectors (PROTOCOL.md "Deletion Vectors"): an add action may
# carry {"storageType", "pathOrInlineDv", "offset", "sizeInBytes",
# "cardinality"}.  storageType "i" inlines the serialized
# RoaringBitmapArray as RFC-1924 base85 (stdlib b85); "p" names an
# absolute DV file: 1-byte format version 1, then at `offset` an
# int32 BIG-endian blob size, the blob, and an int32 BIG-endian
# CRC-32 of the blob.  storageType "u" assembles the same "p" file
# layout from <prefix><20-char base85 UUID> as
# <tableRoot>/<prefix>/deletion_vector_<uuid>.bin (dv_relative_path).
# Decoded row indexes are parquet row ordinals, the same quantity as
# `_metadata.row_index`.
# ---------------------------------------------------------------------------


def write_deletion_vector_file(path: str, blobs: list[bytes]) -> list[dict]:
    """Write a DV file holding ``blobs`` (each a serialized
    RoaringBitmapArray); returns per-blob descriptor fragments
    {"offset", "sizeInBytes"} in order."""
    import struct
    import zlib

    out = bytearray(b"\x01")
    frags = []
    for blob in blobs:
        frags.append({"offset": len(out), "sizeInBytes": len(blob)})
        out += struct.pack(">i", len(blob))
        out += blob
        out += struct.pack(">I", zlib.crc32(blob) & 0xFFFFFFFF)
    with open(path, "wb") as fh:
        fh.write(bytes(out))
    return frags


def dv_relative_path(dv: dict) -> str:
    """storageType "u" path assembly (PROTOCOL.md "Deletion Vector
    Descriptor Schema"): pathOrInlineDv is <random prefix (may be
    empty)><20-char base85 UUID>; the file lives at
    <tableRoot>/<prefix>/deletion_vector_<canonical uuid>.bin."""
    import base64
    import uuid as _uuid

    enc = dv["pathOrInlineDv"]
    if len(enc) < 20:
        raise ValueError(
            "delta: storageType 'u' pathOrInlineDv shorter than the "
            "20-char base85 UUID"
        )
    prefix, tail = enc[:-20], enc[-20:]
    u = _uuid.UUID(bytes=base64.b85decode(tail))
    name = f"deletion_vector_{u}.bin"
    return os.path.join(prefix, name) if prefix else name


def deletion_vector_rows(dv: dict, table_dir: str | None = None) -> list[int]:
    """Descriptor -> sorted deleted row indexes, every declared
    invariant checked loudly (size, CRC, cardinality). storageType
    "p" names an absolute file; "u" assembles the path from the
    base85 UUID relative to ``table_dir`` (required for "u")."""
    import base64
    import zlib

    from cam_etl_spark.sources.roaring import deserialize_bitmap_array

    st = dv.get("storageType")
    size = dv["sizeInBytes"]
    if st == "u":
        if table_dir is None:
            raise ValueError(
                "delta: storageType 'u' needs the table root to "
                "assemble the deletion-vector path"
            )
        dv = dict(
            dv,
            storageType="p",
            pathOrInlineDv=os.path.join(
                table_dir, dv_relative_path(dv)
            ),
        )
        st = "p"
    if st == "i":
        blob = base64.b85decode(dv["pathOrInlineDv"])
    elif st == "p":
        data = open(dv["pathOrInlineDv"], "rb").read()
        if not data or data[0] != 1:
            raise ValueError(
                "delta: deletion-vector file version != 1"
            )
        off = dv.get("offset", 1)
        if off + 8 + size > len(data):
            raise ValueError("delta: truncated deletion-vector file")
        declared = int.from_bytes(data[off : off + 4], "big", signed=True)
        if declared != size:
            raise ValueError(
                f"delta: deletion-vector size {declared} != descriptor "
                f"{size}"
            )
        blob = data[off + 4 : off + 4 + size]
        crc = int.from_bytes(
            data[off + 4 + size : off + 8 + size], "big"
        )
        if zlib.crc32(blob) & 0xFFFFFFFF != crc:
            raise ValueError("delta: deletion-vector checksum mismatch")
    else:
        raise NotImplementedError(
            f"delta: deletion-vector storageType {st!r} unsupported"
        )
    if len(blob) != size:
        raise ValueError(
            f"delta: deletion-vector blob {len(blob)} bytes != "
            f"descriptor sizeInBytes {size}"
        )
    rows = deserialize_bitmap_array(blob)
    if len(rows) != dv["cardinality"]:
        raise ValueError(
            f"delta: deletion-vector cardinality {len(rows)} != "
            f"descriptor {dv['cardinality']}"
        )
    return rows


def _apply_deletion_vectors(spark, df, table_dir: str, files: list[dict]):
    """Merge-on-read: decode each file's DV executor-side (one task
    per DV) and anti-join the parquet scan on
    (file, `_metadata.row_index`) — deletes never transit the
    driver; AQE broadcasts the delete side when it is small."""
    from pyspark.sql import functions as F

    rows = [
        (
            os.path.join(table_dir, f["path"]),
            json.dumps(f["deletionVector"]),
        )
        for f in files
        if f.get("deletionVector")
    ]
    src = spark.createDataFrame(
        rows, "file_path string, dv string"
    ).repartition(len(rows))

    def run(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for fp, dvj in zip(pdf["file_path"], pdf["dv"]):
                for pos in deletion_vector_rows(json.loads(dvj),
                                                 table_dir):
                    out.append({"file_path": fp, "pos": int(pos)})
            yield pd.DataFrame(
                {
                    "file_path": pd.Series(
                        [r["file_path"] for r in out], dtype=object
                    ),
                    "pos": pd.Series(
                        [r["pos"] for r in out], dtype="int64"
                    ),
                }
            )

    dels = src.mapInPandas(run, "file_path string, pos long")
    data = df.withColumn(
        "_fp",
        F.regexp_replace(F.col("_metadata.file_path"), "^file:/+", "/"),
    ).withColumn("_pos", F.col("_metadata.row_index"))
    return data.join(
        dels,
        (data["_fp"] == dels["file_path"]) & (data["_pos"] == dels["pos"]),
        "left_anti",
    ).drop("_fp", "_pos")


# ---------------------------------------------------------------------------
# Column mapping (PROTOCOL.md "Column Mapping"): with
# delta.columnMapping.mode = "name", data files store PHYSICAL column
# names (delta.columnMapping.physicalName in the schemaString field
# metadata) and partitionValues are keyed by physical name — so a
# column RENAME or DROP is a metadata-only commit; no data file is
# rewritten.  This replayer implements "name" mode; "id" mode
# (resolution by parquet field id) raises loudly.
# ---------------------------------------------------------------------------


def column_mapping_mode(metadata: dict) -> str:
    """The table's delta.columnMapping.mode: "none", "name" or "id"
    (anything else rejects loudly)."""
    mode = (metadata.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none"
    )
    if mode not in ("none", "name", "id"):
        raise ValueError(f"delta: unknown columnMapping mode {mode!r}")
    return mode


def column_mapping_id_schema(metadata: dict):
    """columnMapping mode "id": a Spark read StructType whose fields
    carry LOGICAL names plus `parquet.field.id` metadata
    (delta.columnMapping.id from the schemaString) — Spark's
    vectorized parquet reader then resolves columns BY FIELD ID, so
    files written under any historical physical names read correctly
    (requires spark.sql.parquet.fieldId.read.enabled, which
    read_snapshot sets)."""
    from pyspark.sql.types import StructField, StructType

    schema = json.loads(metadata["schemaString"])
    fields = []
    for f in schema.get("fields", []):
        meta = f.get("metadata") or {}
        fid = meta.get("delta.columnMapping.id")
        if fid is None:
            raise ValueError(
                f"delta: columnMapping=id but field {f['name']!r} "
                "has no delta.columnMapping.id"
            )
        sf = StructField.fromJson(
            {
                "name": f["name"],
                "type": f["type"],
                "nullable": f.get("nullable", True),
                "metadata": {"parquet.field.id": int(fid)},
            }
        )
        fields.append(sf)
    return StructType(fields)


def column_mapping(metadata: dict) -> list[tuple[str, str]] | None:
    """[(logical, physical)] per top-level schema field for mode
    "name", or None otherwise ("id" resolution happens through the
    read schema — column_mapping_id_schema)."""
    mode = column_mapping_mode(metadata)
    if mode != "name":
        return None
    schema = json.loads(metadata["schemaString"])
    out = []
    for f in schema.get("fields", []):
        meta = f.get("metadata") or {}
        phys = meta.get("delta.columnMapping.physicalName")
        if not phys:
            raise ValueError(
                f"delta: columnMapping=name but field "
                f"{f['name']!r} has no physicalName"
            )
        out.append((f["name"], phys))
    return out


def prune_files(
    files: list[dict],
    partition_filter: dict | None = None,
    stats_ranges: dict | None = None,
) -> list[dict]:
    """Log-level file skipping. ``partition_filter`` maps partition
    column -> allowed set of string values (Delta stores partition
    values as strings). ``stats_ranges`` maps data column ->
    (lo, hi) inclusive; a file is kept unless its [min, max] stat
    range is provably disjoint — files without stats are KEPT
    (pruning must never drop a possibly-matching file)."""
    out = []
    for f in files:
        keep = True
        for col, allowed in (partition_filter or {}).items():
            if f["partitionValues"].get(col) not in allowed:
                keep = False
                break
        if keep and stats_ranges:
            st = f.get("stats") or {}
            mins = st.get("minValues") or {}
            maxs = st.get("maxValues") or {}
            for col, (lo, hi) in stats_ranges.items():
                if col in mins and mins[col] > hi:
                    keep = False
                    break
                if col in maxs and maxs[col] < lo:
                    keep = False
                    break
        if keep:
            out.append(f)
    return out


# ---------------------------------------------------------------------------
# Change Data Feed (PROTOCOL.md "Add CDC File" / "Change Data Files"):
# with delta.enableChangeDataFeed=true, a commit's change set is
# EITHER its cdc actions (files under _change_data/ whose rows carry
# _change_type ∈ {insert, delete, update_preimage, update_postimage})
# — when any cdc action is present, add/remove actions are ignored for
# CDF — OR, for plain add/remove commits, derived per the protocol:
# rows of dataChange adds are inserts, rows of dataChange removes are
# deletes (the removed parquet is still on disk until vacuum).
# ---------------------------------------------------------------------------


def read_changes(
    spark,
    table_dir: str,
    start_version: int,
    end_version: int | None = None,
):
    """CDF read: every row change in commits [start, end], as a
    DataFrame of the table columns + _change_type +
    _commit_version. Scale shape: the driver touches only the log
    (kilobytes per commit); each change set is one batched parquet
    scan per (version, change type). Boundaries loud: CDF not
    enabled, column-mapped or DV-carrying tables, log gaps."""
    from functools import reduce

    from pyspark.sql import functions as F

    log_dir = os.path.join(table_dir, "_delta_log")
    if not os.path.isdir(log_dir):
        raise ValueError(f"delta: no _delta_log under {table_dir}")
    commits = {}
    for name in os.listdir(log_dir):
        m = _COMMIT_RE.match(name)
        if m:
            commits[int(m.group(1))] = os.path.join(log_dir, name)
    if not commits:
        raise ValueError(f"delta: empty log at {log_dir}")
    if end_version is None:
        end_version = max(commits)
    snap = replay_log(table_dir, end_version)
    conf = snap["metadata"].get("configuration") or {}
    if conf.get("delta.enableChangeDataFeed") != "true":
        raise ValueError(
            "delta: change data feed not enabled "
            "(delta.enableChangeDataFeed)"
        )
    if column_mapping_mode(snap["metadata"]) != "none":
        raise NotImplementedError(
            "delta: CDF over column-mapped tables unsupported"
        )

    def scan(frags, version, change_type=None):
        """One batched read when partitionValues are empty (the
        at-scale path); per-file literal injection otherwise."""
        plain = [
            f["path"] for f in frags if not f.get("partitionValues")
        ]
        dfs = []
        if plain:
            dfs.append(
                spark.read.parquet(
                    *[os.path.join(table_dir, p) for p in plain]
                )
            )
        for f in frags:
            if f.get("partitionValues"):
                df = spark.read.parquet(
                    os.path.join(table_dir, f["path"])
                )
                for col, val in f["partitionValues"].items():
                    df = df.withColumn(col, F.lit(val))
                dfs.append(df)
        out = reduce(lambda a, b: a.unionByName(b), dfs)
        if change_type is not None:
            if "_change_type" in out.columns:
                raise ValueError(
                    "delta: derived change set already carries "
                    "_change_type"
                )
            out = out.withColumn("_change_type", F.lit(change_type))
        elif "_change_type" not in out.columns:
            raise ValueError(
                "delta: cdc file missing _change_type column"
            )
        return out.withColumn(
            "_commit_version", F.lit(version).cast("long")
        )

    parts = []
    for v in range(start_version, end_version + 1):
        if v not in commits:
            raise ValueError(f"delta: missing commit version {v} (log gap)")
        with open(commits[v], encoding="utf-8") as fh:
            actions = [json.loads(line) for line in fh if line.strip()]
        cdc = [a["cdc"] for a in actions if "cdc" in a]
        if cdc:
            parts.append(scan(cdc, v))
            continue
        adds = [
            a["add"]
            for a in actions
            if "add" in a and a["add"].get("dataChange")
        ]
        if any(a.get("deletionVector") for a in adds):
            raise NotImplementedError(
                "delta: CDF derive over deletion-vector adds "
                "unsupported (writers must emit cdc actions)"
            )
        removes = [
            a["remove"]
            for a in actions
            if "remove" in a and a["remove"].get("dataChange", True)
        ]
        if adds:
            parts.append(scan(adds, v, "insert"))
        if removes:
            parts.append(scan(removes, v, "delete"))
    if not parts:
        raise ValueError(
            f"delta: no changes in versions "
            f"[{start_version}, {end_version}]"
        )
    return reduce(lambda a, b: a.unionByName(b), parts)


def read_snapshot(
    spark,
    table_dir: str,
    version: int | None = None,
    partition_filter: dict | None = None,
    stats_ranges: dict | None = None,
):
    """Snapshot -> DataFrame: replay the log, prune at the log level,
    then hand spark.read.parquet exactly the live file list with
    basePath so Hive-style partition columns materialize. When the
    snapshot's metaData carries a real schemaString, the scan reads
    under THAT schema (PROTOCOL.md: the table schema, not the file
    schemas, defines the read — files written before an ADD COLUMN
    surface the new column as null), except under column mapping,
    where physical->logical projection governs instead. Returns
    (DataFrame, snapshot_dict, pruned_file_count)."""
    snap = replay_log(table_dir, version)
    files = prune_files(snap["files"], partition_filter, stats_ranges)
    if not files:
        raise ValueError("delta: snapshot has no files after pruning")
    paths = [os.path.join(table_dir, f["path"]) for f in files]
    reader = spark.read
    schema_str = (snap["metadata"] or {}).get("schemaString")
    mode = column_mapping_mode(snap["metadata"] or {})
    if mode == "id":
        if (snap["metadata"] or {}).get("partitionColumns"):
            raise NotImplementedError(
                "delta: columnMapping mode 'id' over PARTITIONED "
                "tables unsupported (partition columns live in "
                "directory names under physical names, not in the "
                "files' field ids)"
            )
        # field-id resolution: renames are metadata-only; files keep
        # any historical physical names and Spark matches by the ids
        # the read schema carries. The conf below stays set for the
        # session DELIBERATELY: restoring it after .parquet() would
        # race the lazy scan execution, and with it enabled Spark's
        # behavior only changes for read schemas that CARRY
        # parquet.field.id metadata — ordinary reads are unaffected.
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        reader = reader.schema(
            column_mapping_id_schema(snap["metadata"])
        )
    elif schema_str and schema_str != "{}" and mode == "none":
        from pyspark.sql.types import StructType

        reader = reader.schema(
            StructType.fromJson(json.loads(schema_str))
        )
    df = reader.option("basePath", table_dir).parquet(*paths)
    if any(f.get("deletionVector") for f in files):
        df = _apply_deletion_vectors(spark, df, table_dir, files)
    mapping = column_mapping(snap["metadata"])
    if mapping is not None:
        from pyspark.sql import functions as F

        df = df.select(
            *[F.col(phys).alias(logical) for logical, phys in mapping]
        )
    return df, snap, len(files)
