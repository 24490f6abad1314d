"""Iceberg table-metadata reader following the published Apache
Iceberg table spec (iceberg.apache.org/spec): the metadata chain
`vN.metadata.json` -> snapshot -> manifest list (Avro) -> manifests
(Avro) -> data files, with snapshot time travel and partition
pruning at the metadata level.

The Avro layer is the engine's own from-spec codec
(sources/avro_io.py — itself cross-checked both directions against
the Apache Avro Java library), reading real Avro object container
files with the spec's manifest-list and manifest-entry record
shapes: `manifest_file(manifest_path, manifest_length,
partition_spec_id, added_snapshot_id)` and `manifest_entry(status,
snapshot_id, data_file(content, file_path, file_format, partition,
record_count, file_size_in_bytes))`, field-id annotations included
in the schema text. Status semantics per spec: 0=EXISTING, 1=ADDED
both live; 2=DELETED drops the file from the snapshot.

V2 row-level deletes: POSITION deletes are supported end-to-end —
delete manifests (manifest-list content=1) carry Avro files of the
spec's (file_path, pos) rows (reserved field-ids 2147483546/5),
gated by the sequence-number rule (a position delete applies to a
data file iff delete.sequence >= data.sequence, so a file re-added
by a later compaction sheds older deletes) and applied
merge-on-read as an anti-join on (file, `_metadata.row_index`).
EQUALITY deletes (data_file content=2) are also supported: delete
files carry rows projected onto the `equality_ids` columns
(data_file field 135), their sequence gate is STRICTLY greater
(spec "Scan Planning": an equality delete applies iff
delete.sequence > data.sequence — it hits files written BEFORE the
delete, never concurrent or later ones), and they apply
merge-on-read as an anti-join on the equality columns.

SCOPE, stated plainly: this implements the metadata PROTOCOL SHAPE
(resolution via version-hint.text or max vN, snapshot selection by
id, manifest-chain replay, metadata-level pruning) over the subset
of manifest fields a scan plan needs. There is no Iceberg reference
implementation in this environment to prove byte-compatibility with
Java-written tables (the Murmur3 bucket hash is the exception: our
from-scratch implementation reproduces the spec's own Appendix B
test vectors); unsupported constructs are LOUD — format version
> 3, v3 encryption keys, ORC delete files, mixed equality_ids
across delete files, non-scalar Avro equality-delete columns, and
metastore-pointer tables all raise rather than mis-read.
PARQUET-stored delete files (position AND equality — the format
Spark itself writes for v2 merge-on-read) are supported since
round 14: one vectorized scan per delete file with its manifest
sequence attached as a literal (no path-representation matching
that could silently drop deletes on URI/percent-encoding
differences), mixable with Avro delete files in one snapshot. Manifest-list SEQUENCE-NUMBER INHERITANCE (spec fields
515/516) is implemented since round 11: ADDED entries with a null
sequence_number inherit the manifest's; a null on EXISTING/DELETED
entries under a sequenced manifest list is a protocol violation and
raises.

FORMAT-VERSION 3 (round 11): v3 metadata is accepted; the
row-lineage bookkeeping (next-row-id / first-row-id) is ignored —
correct for user-column reads since this reader does not expose
_row_id — v3 DEFAULT VALUES are honored on read (``initial-default``
fills rows from files written before the column existed, decided per
file from parquet footers, driver-side metadata-scale, while files
that HAVE the column keep their written values including real
nulls), and v3 DELETION VECTORS are applied merge-on-read: manifest
entries carrying referenced_data_file/content_offset/
content_size_in_bytes (spec fields 143-145) address
``deletion-vector-v1`` blobs inside Puffin files — the blob framing
(4-byte BE length, the RoaringBitmapArray serialization with its
shared Delta-interop magic 1681511377, 4-byte BE CRC-32) reuses the
same portable Roaring codec as the Delta DV path
(sources/roaring.py), decoded executor-side and anti-joined on
(file, `_metadata.row_index`) exactly like position deletes; at most
one DV per data file per snapshot is enforced. v3 types land
round 12: decimal/uuid/binary/fixed carry typed initial-defaults
(spec JSON single-value deserialization), timestamp_ns reads as
bigint nanoseconds, unknown as the always-null void type, variant
as Spark's native VariantType, geometry/geography as WKB binary —
the v3 TYPE MAP is complete. Round 13 closes the default-value
surface too: variant initial-defaults (physical metadata/value
binaries, decoded through the engine's variant codec) and
geometry/geography initial-defaults (hex WKB, header-gated).
Encryption-keys is the remaining v3 boundary (no key infrastructure
in-container).

Why it's in the engine: same as the Delta replayer (delta_log.py) —
at 100 TB the scan plan must come from kilobytes of metadata, with
file skipping decided before any executor touches parquet. Between
them the engine covers both dominant open-table formats' read
planning paths.

Reference parity: reference repo (cam-etl) has no lake layer;
SURVEY.md §2.1 source-surface extension.
"""

from __future__ import annotations

import json
import os
import re

from cam_etl_spark.sources.avro_io import read_container, write_container

_V_RE = re.compile(r"^v(\d+)\.metadata\.json$")

MANIFEST_LIST_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "manifest_file",
        "fields": [
            {"name": "manifest_path", "type": "string", "field-id": 500},
            {"name": "manifest_length", "type": "long", "field-id": 501},
            {"name": "partition_spec_id", "type": "int", "field-id": 502},
            {"name": "content", "type": "int", "field-id": 517},
            # spec fields 515/516: the data sequence number assigned
            # when the manifest was written — ADDED entries with a
            # null sequence_number INHERIT field 515 (spec "Sequence
            # Number Inheritance")
            {"name": "sequence_number", "type": ["null", "long"],
             "field-id": 515},
            {"name": "min_sequence_number", "type": ["null", "long"],
             "field-id": 516},
            {"name": "added_snapshot_id", "type": "long", "field-id": 503},
            # spec field 507: per-partition-field summaries, in
            # partition-spec field order — the MANIFEST-level prune
            # key (skip whole manifests before reading them)
            {
                "name": "partitions",
                "field-id": 507,
                "type": [
                    "null",
                    {
                        "type": "array",
                        "items": {
                            "type": "record",
                            "name": "field_summary",
                            "fields": [
                                {"name": "contains_null", "type": "boolean",
                                 "field-id": 509},
                                {"name": "lower_bound",
                                 "type": ["null", "bytes"],
                                 "field-id": 510},
                                {"name": "upper_bound",
                                 "type": ["null", "bytes"],
                                 "field-id": 511},
                            ],
                        },
                    },
                ],
            },
        ],
    }
)

#: Position-delete file content (spec "Position Delete Files"): rows
#: of (file_path, pos) with the spec's reserved field ids, sorted by
#: (file_path, pos). Stored as Avro through the engine's own codec.
POSITION_DELETE_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "position_delete",
        "fields": [
            {"name": "file_path", "type": "string",
             "field-id": 2147483546},
            {"name": "pos", "type": "long", "field-id": 2147483545},
        ],
    }
)

MANIFEST_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": ["null", "long"], "field-id": 1},
            {
                "name": "sequence_number",
                "type": ["null", "long"],
                "field-id": 3,
            },
            {
                "name": "data_file",
                "field-id": 2,
                "type": {
                    "type": "record",
                    "name": "r2",
                    "fields": [
                        {"name": "content", "type": "int", "field-id": 134},
                        {"name": "file_path", "type": "string", "field-id": 100},
                        {"name": "file_format", "type": "string", "field-id": 101},
                        {
                            "name": "partition",
                            "field-id": 102,
                            "type": {
                                "type": "map",
                                "values": ["null", "string"],
                            },
                        },
                        {"name": "record_count", "type": "long", "field-id": 103},
                        {
                            "name": "file_size_in_bytes",
                            "type": "long",
                            "field-id": 104,
                        },
                        # per-column metrics (spec fields 125/128):
                        # field_id -> single-value-serialized bytes,
                        # modeled as the spec's k/v record arrays
                        {
                            "name": "lower_bounds",
                            "field-id": 125,
                            "type": [
                                "null",
                                {
                                    "type": "array",
                                    "items": {
                                        "type": "record",
                                        "name": "k126_v127",
                                        "fields": [
                                            {"name": "key", "type": "int",
                                             "field-id": 126},
                                            {"name": "value",
                                             "type": "bytes",
                                             "field-id": 127},
                                        ],
                                    },
                                },
                            ],
                        },
                        {
                            "name": "upper_bounds",
                            "field-id": 128,
                            "type": [
                                "null",
                                {
                                    "type": "array",
                                    "items": {
                                        "type": "record",
                                        "name": "k129_v130",
                                        "fields": [
                                            {"name": "key", "type": "int",
                                             "field-id": 129},
                                            {"name": "value",
                                             "type": "bytes",
                                             "field-id": 130},
                                        ],
                                    },
                                },
                            ],
                        },
                        # equality-delete column ids (spec field 135;
                        # required for content=2, null otherwise)
                        {
                            "name": "equality_ids",
                            "field-id": 135,
                            "type": [
                                "null",
                                {
                                    "type": "array",
                                    "items": "int",
                                    "element-id": 136,
                                },
                            ],
                        },
                        # v3 deletion-vector addressing (spec fields
                        # 143/144/145): the referenced data file and
                        # the blob's [offset, offset+size) within the
                        # puffin file
                        {
                            "name": "referenced_data_file",
                            "field-id": 143,
                            "type": ["null", "string"],
                        },
                        {
                            "name": "content_offset",
                            "field-id": 144,
                            "type": ["null", "long"],
                        },
                        {
                            "name": "content_size_in_bytes",
                            "field-id": 145,
                            "type": ["null", "long"],
                        },
                    ],
                },
            },
        ],
    }
)


def murmur3_x86_32(data: bytes, seed: int = 0) -> int:
    """32-bit Murmur3 (x86 variant) from Austin Appleby's public
    algorithm — the hash the Iceberg spec's `bucket[N]` transform
    requires (Appendix B). Returns a SIGNED int32 (Java semantics).
    Cross-checked in tests against Spark's JVM Murmur3 on
    word-aligned inputs (Spark's byte-tail mixing is nonstandard, so
    the cross-check uses len % 4 == 0 inputs where both follow the
    reference algorithm) and against the spec's own Appendix B test
    value for bucket hashing of longs."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    n = len(data)
    for i in range(0, n - n % 4, 4):
        k = int.from_bytes(data[i: i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    tail = data[n - n % 4:]
    if tail:
        k = int.from_bytes(tail, "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h - 0x100000000 if h >= 0x80000000 else h


def bucket_transform(value, n_buckets: int) -> int | None:
    """Spec `bucket[N]`: (murmur3_x86_32(serialized) & Int.MAX) % N.
    Serialization per Appendix B: int/long as 8-byte little-endian
    two's complement (ints hash as longs so the transform is stable
    across widening promotions), strings as UTF-8 bytes. None maps
    to None (null partition)."""
    if value is None:
        return None
    if isinstance(value, bool):
        raise NotImplementedError("iceberg: bucket over boolean undefined")
    if isinstance(value, int):
        data = value.to_bytes(8, "little", signed=True)
    elif isinstance(value, str):
        data = value.encode("utf-8")
    elif isinstance(value, bytes):
        data = value
    else:
        raise NotImplementedError(
            f"iceberg: bucket over {type(value).__name__} unsupported"
        )
    return (murmur3_x86_32(data) & 0x7FFFFFFF) % n_buckets


def bucket_long_numpy(values, n_buckets: int):
    """Vectorized bucket[N] over an int64 numpy array — the at-scale
    write path (Arrow batches through a pandas UDF, no per-row
    Python). An 8-byte little-endian long is exactly two Murmur3
    words and no tail, so the whole hash is a fixed sequence of
    uint32 vector ops; property-tested element-for-element against
    the scalar murmur3_x86_32."""
    import numpy as np

    c1 = np.uint32(0xCC9E2D51)
    c2 = np.uint32(0x1B873593)
    u = values.astype(np.int64).view(np.uint64)
    h = np.zeros(len(values), dtype=np.uint32)
    for word in (
        (u & np.uint64(0xFFFFFFFF)).astype(np.uint32),
        (u >> np.uint64(32)).astype(np.uint32),
    ):
        k = word * c1
        k = (k << np.uint32(15)) | (k >> np.uint32(17))
        k = k * c2
        h ^= k
        h = (h << np.uint32(13)) | (h >> np.uint32(19))
        h = h * np.uint32(5) + np.uint32(0xE6546B64)
    h ^= np.uint32(8)
    h ^= h >> np.uint32(16)
    h = h * np.uint32(0x85EBCA6B)
    h ^= h >> np.uint32(13)
    h = h * np.uint32(0xC2B2AE35)
    h ^= h >> np.uint32(16)
    return (h & np.uint32(0x7FFFFFFF)) % np.uint32(n_buckets)


_EPOCH = None


def _days_from_epoch(value) -> int:
    import datetime

    global _EPOCH
    if _EPOCH is None:
        _EPOCH = datetime.date(1970, 1, 1)
    if isinstance(value, str):
        value = datetime.date.fromisoformat(value)
    if isinstance(value, datetime.datetime):
        value = value.date()
    return (value - _EPOCH).days


_TRANSFORM_RE = re.compile(r"^(bucket|truncate)\[(\d+)\]$")


def apply_transform(transform: str, value):
    """Apply one spec partition transform to a SOURCE value; the
    result is the partition value (spec "Partition Transforms").
    identity passes through; bucket[N] per bucket_transform;
    truncate[W] is v - (((v % W) + W) % W) for integers (floors
    toward -inf, spec example truncate(10, -1) = -10) and the
    W-codepoint prefix for strings; year/month/day are ordinals from
    epoch (day = days, month = 12*y+m diff, year = y diff). Nulls
    pass through every transform. void maps everything to None."""
    if value is None and transform != "void":
        return None
    if transform == "identity":
        return value
    if transform == "void":
        return None
    m = _TRANSFORM_RE.match(transform)
    if m and m.group(1) == "bucket":
        return bucket_transform(value, int(m.group(2)))
    if m and m.group(1) == "truncate":
        w = int(m.group(2))
        if w <= 0:
            raise ValueError("iceberg: truncate width must be positive")
        if isinstance(value, bool):
            raise NotImplementedError(
                "iceberg: truncate over boolean undefined"
            )
        if isinstance(value, int):
            return value - (((value % w) + w) % w)
        if isinstance(value, str):
            return value[:w]
        raise NotImplementedError(
            f"iceberg: truncate over {type(value).__name__} unsupported"
        )
    if transform == "day":
        return _days_from_epoch(value)
    if transform in ("year", "month"):
        import datetime

        if isinstance(value, str):
            value = datetime.date.fromisoformat(value)
        if isinstance(value, datetime.datetime):
            value = value.date()
        dy = value.year - 1970
        return dy if transform == "year" else dy * 12 + (value.month - 1)
    if transform == "hour":
        import datetime

        if isinstance(value, str):
            value = datetime.datetime.fromisoformat(value)
        if not isinstance(value, datetime.datetime):
            raise NotImplementedError(
                "iceberg: hour transform needs a timestamp"
            )
        if value.tzinfo is not None:
            value = value.astimezone(datetime.timezone.utc).replace(
                tzinfo=None
            )
        epoch = datetime.datetime(1970, 1, 1)
        return int((value - epoch).total_seconds() // 3600)
    raise NotImplementedError(f"iceberg: transform {transform!r} unsupported")


def long_bound(v: int) -> bytes:
    """Spec Appendix D single-value serialization of a long:
    8-byte little-endian two's complement."""
    return int(v).to_bytes(8, "little", signed=True)


def decode_long_bound(raw: bytes) -> int:
    if len(raw) != 8:
        raise ValueError(f"iceberg: long bound needs 8 bytes, got {len(raw)}")
    return int.from_bytes(raw, "little", signed=True)


# ---------------------------------------------------------------------------
# Fixture-synthesis / single-writer helpers
# ---------------------------------------------------------------------------


def manifest_entry(
    path: str,
    partition: dict | None = None,
    *,
    status: int = 1,
    snapshot_id: int | None = None,
    sequence_number: int | None = None,
    content: int = 0,
    file_format: str | None = None,
    record_count: int = 0,
    **fields,
) -> dict:
    """One manifest entry for the file at ``path``: data (content 0,
    parquet) or deletes (content 1/2, avro unless ``file_format`` says
    otherwise). ``fields`` are further ``data_file`` fields (bounds,
    ``equality_ids``); null sequence numbers and ids inherit, per spec."""
    return {
        "status": status,
        "snapshot_id": snapshot_id,
        "sequence_number": sequence_number,
        "data_file": {
            "content": content,
            "file_path": path,
            "file_format": file_format or ("avro" if content else "parquet"),
            "partition": partition or {},
            "record_count": record_count,
            "file_size_in_bytes": os.path.getsize(path),
            **fields,
        },
    }


def write_manifest(path: str, entries: list[dict]) -> int:
    """Write one manifest Avro file; returns its byte length.
    Optional fields (sequence_number, bounds) default to null."""
    entries = [
        {
            **e,
            "sequence_number": e.get("sequence_number"),
            "data_file": {
                "lower_bounds": None,
                "upper_bounds": None,
                "equality_ids": None,
                "referenced_data_file": None,
                "content_offset": None,
                "content_size_in_bytes": None,
                **e["data_file"],
            },
        }
        for e in entries
    ]
    buf = write_container(MANIFEST_SCHEMA, entries, codec="deflate")
    with open(path, "wb") as fh:
        fh.write(buf)
    return len(buf)


def write_position_deletes(path: str, rows: list[dict]) -> int:
    """Write one position-delete Avro file; rows are
    {"file_path", "pos"}, written spec-sorted by (file_path, pos).
    Returns its byte length."""
    rows = sorted(rows, key=lambda r: (r["file_path"], r["pos"]))
    buf = write_container(POSITION_DELETE_SCHEMA, rows, codec="deflate")
    with open(path, "wb") as fh:
        fh.write(buf)
    return len(buf)


def write_equality_deletes(
    path: str, fields: list[dict], rows: list[dict]
) -> int:
    """Write one equality-delete Avro file (spec "Equality Delete
    Files"): rows are the table schema projected onto the
    equality_ids columns, so the file schema is built from
    ``fields`` — [{"name", "type", "field-id"}] in equality_ids
    order. Returns its byte length."""
    schema = json.dumps(
        {"type": "record", "name": "equality_delete", "fields": fields}
    )
    buf = write_container(schema, rows, codec="deflate")
    with open(path, "wb") as fh:
        fh.write(buf)
    return len(buf)


def write_snapshot(
    table_dir: str,
    snapshot_id: int,
    manifests: list[str],
    parent_id: int | None = None,
) -> dict:
    """Write the manifest list for a snapshot; returns the snapshot
    JSON object to embed in table metadata. Each entry in
    ``manifests`` is a path (data manifest), a (path, content)
    pair, a (path, content, summaries) triple where summaries is
    the spec's per-partition-field field_summary list
    ([{"contains_null", "lower_bound", "upper_bound"}] in
    partition-spec field order, bounds single-value-serialized), or a
    (path, content, summaries, sequence_number) quadruple carrying
    the manifest's data sequence number (spec field 515) for
    sequence-number INHERITANCE by ADDED entries with null
    sequence_number."""
    meta_dir = os.path.join(table_dir, "metadata")
    os.makedirs(meta_dir, exist_ok=True)
    list_path = os.path.join(meta_dir, f"snap-{snapshot_id}.avro")
    rows = [
        {
            "manifest_path": m if isinstance(m, str) else m[0],
            "manifest_length": os.path.getsize(
                m if isinstance(m, str) else m[0]
            ),
            "partition_spec_id": 0,
            # content 0 = data manifest, 1 = delete manifest; plain
            # string entries are data manifests
            "content": 0 if isinstance(m, str) else m[1],
            "sequence_number": (
                None if isinstance(m, str) or len(m) < 4 else m[3]
            ),
            "min_sequence_number": (
                None if isinstance(m, str) or len(m) < 4 else m[3]
            ),
            "added_snapshot_id": snapshot_id,
            "partitions": (
                None if isinstance(m, str) or len(m) < 3 else m[2]
            ),
        }
        for m in manifests
    ]
    with open(list_path, "wb") as fh:
        fh.write(write_container(MANIFEST_LIST_SCHEMA, rows, codec="deflate"))
    snap = {
        "snapshot-id": snapshot_id,
        "manifest-list": list_path,
        "timestamp-ms": 0,
    }
    if parent_id is not None:
        snap["parent-snapshot-id"] = parent_id
    return snap


def write_table_metadata(
    table_dir: str,
    version: int,
    snapshots: list[dict],
    current_snapshot_id: int,
    partition_fields: list[str],
    schema_fields: list[dict] | None = None,
    properties: dict | None = None,
    format_version: int = 2,
    statistics: list[dict] | None = None,
    refs: dict | None = None,
) -> str:
    """``schema_fields`` (optional): the CURRENT schema as the spec's
    field list [{"id", "name", "type", "required"?}] — what
    add-column / rename evolution mutates. ``properties`` (optional):
    table properties, notably ``schema.name-mapping.default`` (spec
    "Name Mapping Serialization") for resolving data files written
    without field ids under historical column names.
    ``format_version`` 3 adds the spec's required ``next-row-id``
    (row-lineage bookkeeping; this reader does not expose _row_id,
    so any monotonic value is fixture-valid)."""
    meta_dir = os.path.join(table_dir, "metadata")
    os.makedirs(meta_dir, exist_ok=True)
    doc = {
        "format-version": format_version,
        "table-uuid": "00000000-0000-0000-0000-000000000000",
        "location": table_dir,
        "current-snapshot-id": current_snapshot_id,
        "snapshots": snapshots,
        "partition-specs": [
            {
                "spec-id": 0,
                "fields": [
                    {"name": f, "transform": "identity",
                     "source-id": i + 1, "field-id": 1000 + i}
                    if isinstance(f, str)
                    else {"field-id": 1000 + i, "source-id": i + 1, **f}
                    for i, f in enumerate(partition_fields)
                ],
            }
        ],
    }
    if format_version >= 3:
        doc["next-row-id"] = 1
    if schema_fields is not None:
        doc["current-schema-id"] = 0
        doc["schemas"] = [
            {"type": "struct", "schema-id": 0, "fields": schema_fields}
        ]
    if properties:
        doc["properties"] = properties
    if statistics is not None:
        # spec "Table statistics": StatisticsFile list — per
        # snapshot, a Puffin file of blobs (ndv theta sketches, ...)
        doc["statistics"] = statistics
    if refs is not None:
        # spec "Snapshot References": {name: {"snapshot-id",
        # "type" ("branch"/"tag"), optional retention fields}}
        doc["refs"] = refs
    path = os.path.join(meta_dir, f"v{version}.metadata.json")
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(doc, fh)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as fh:
        fh.write(str(version))
    return path


# ---------------------------------------------------------------------------
# Reading
# ---------------------------------------------------------------------------


def load_table_metadata(table_dir: str) -> dict:
    """Resolve the current vN.metadata.json — via version-hint.text
    when present, else the highest vN on disk."""
    meta_dir = os.path.join(table_dir, "metadata")
    if not os.path.isdir(meta_dir):
        raise ValueError(f"iceberg: no metadata dir under {table_dir}")
    version = None
    hint = os.path.join(meta_dir, "version-hint.text")
    if os.path.exists(hint):
        version = int(open(hint).read().strip())
    else:
        found = [
            int(m.group(1))
            for m in (_V_RE.match(n) for n in os.listdir(meta_dir))
            if m
        ]
        if not found:
            raise ValueError(f"iceberg: no vN.metadata.json in {meta_dir}")
        version = max(found)
    path = os.path.join(meta_dir, f"v{version}.metadata.json")
    if not os.path.exists(path):
        raise ValueError(f"iceberg: version-hint names missing {path}")
    doc = json.load(open(path, encoding="utf-8"))
    fv = doc.get("format-version", 1)
    if fv > 3:
        raise NotImplementedError(
            f"iceberg: format-version {fv} unsupported"
        )
    if fv == 3 and doc.get("encryption-keys"):
        # v3 table encryption: reading would need the key-management
        # integration — loud, never a silent garbage read
        raise NotImplementedError(
            "iceberg: format-version 3 encryption-keys unsupported"
        )
    # v3 row-lineage fields (next-row-id; first-row-id on snapshots/
    # data files) are bookkeeping for the _row_id metadata column,
    # which this reader does not expose — ignoring them is a correct
    # read of user columns. v3 deletion vectors are decoded from
    # puffin files (snapshot_files -> _apply_dv_deletes); the v3
    # type map is complete as of round 12 (_spark_type).
    doc["_metadata_version"] = version
    return doc


def _manifest_disjoint(summaries, manifest_ranges: dict) -> bool:
    """True iff the manifest's field_summary bounds prove it cannot
    contain a partition matching ``manifest_ranges`` ({partition-spec
    field POSITION -> (lo, hi) inclusive, on long partition values}).
    Manifests without summaries (or without the bound) are never
    skipped — pruning must never drop a possibly-matching manifest.
    contains_null does not help a range predicate (NULL never
    matches), so it is carried but not consulted here."""
    if not summaries:
        return False
    for pos, (lo, hi) in manifest_ranges.items():
        if pos >= len(summaries):
            continue
        s = summaries[pos]
        if s["lower_bound"] is not None \
                and decode_long_bound(s["lower_bound"]) > hi:
            return True
        if s["upper_bound"] is not None \
                and decode_long_bound(s["upper_bound"]) < lo:
            return True
    return False


def resolve_ref(table_dir: str, ref: str) -> int:
    """Resolve a snapshot REFERENCE (spec "Snapshot References":
    the table metadata's ``refs`` map of named branches and tags) to
    its snapshot id — the read half of branch/tag time travel:
    ``snapshot_files(d, snapshot_id=resolve_ref(d, "v1.0"))``.

    Spec rules enforced loudly: a ref's ``type`` must be ``branch``
    or ``tag``; the ``main`` branch, when present in refs, MUST match
    ``current-snapshot-id`` (writers keep them in sync — a mismatch
    means a corrupt commit); ``main`` without a refs entry falls back
    to ``current-snapshot-id`` (pre-refs tables); an unknown name or
    a ref pointing at a snapshot absent from the log raises.
    Retention fields (max-ref-age-ms, min-snapshots-to-keep,
    max-snapshot-age-ms) are expiry-time policy, not read-time —
    passed through untouched by the writer and ignored here."""
    meta = load_table_metadata(table_dir)
    refs = meta.get("refs") or {}
    if ref not in refs:
        if ref == "main" and meta.get("current-snapshot-id") is not None:
            return meta["current-snapshot-id"]
        raise ValueError(
            f"iceberg: unknown ref {ref!r} (table has "
            f"{sorted(refs) or 'no refs'})"
        )
    r = refs[ref]
    rtype = r.get("type")
    if rtype not in ("branch", "tag"):
        raise ValueError(
            f"iceberg: ref {ref!r} has invalid type {rtype!r} "
            "(branch/tag only)"
        )
    sid = r.get("snapshot-id")
    known = {s["snapshot-id"] for s in meta.get("snapshots", [])}
    if sid not in known:
        raise ValueError(
            f"iceberg: ref {ref!r} points at snapshot {sid} which is "
            "not in the snapshot log"
        )
    if ref == "main" and sid != meta.get("current-snapshot-id"):
        raise ValueError(
            f"iceberg: main branch ref ({sid}) diverges from "
            f"current-snapshot-id ({meta.get('current-snapshot-id')})"
        )
    return sid


def snapshot_files(
    table_dir: str,
    snapshot_id: int | None = None,
    manifest_ranges: dict | None = None,
) -> dict:
    """Replay the manifest chain of one snapshot. Returns
    {"snapshot_id", "files": [{path, partition, record_count, size,
    sequence}], "delete_files": [{path, file_format, sequence}],
    "n_manifests", "n_manifests_skipped"} — both lists sorted by
    path. With ``manifest_ranges`` ({spec field position ->
    (lo, hi)}), DATA manifests whose manifest-list field_summary
    bounds (spec field 507) are provably disjoint are skipped
    WITHOUT being read — the manifest-level prune that keeps scan
    planning at kilobytes when a table has thousands of manifests.
    Delete manifests are never summary-skipped (a delete can apply
    to any file).

    Delete manifests (manifest-list content=1) contribute
    POSITION-delete files (data_file content=1, the spec's
    (file_path, pos) rows) and EQUALITY-delete files (content=2,
    rows projected onto the equality_ids columns). Sequence numbers
    come from the explicit manifest-entry field; a null INHERITS the
    manifest list's sequence_number (spec field 515) for ADDED
    entries, raises for EXISTING/DELETED entries under a sequenced
    list, and means 0 only for v1-era lists without the field. The
    gating rules are applied by
    read_snapshot: a position delete applies to a data file iff
    delete.sequence >= data.sequence, an equality delete iff
    delete.sequence > data.sequence — STRICT, so it hits only files
    written strictly before it (spec "Scan Planning")."""
    meta = load_table_metadata(table_dir)
    snaps = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    if snapshot_id is None:
        snapshot_id = meta.get("current-snapshot-id")
    if snapshot_id not in snaps:
        raise ValueError(
            f"iceberg: snapshot {snapshot_id} not in table metadata "
            f"(has {sorted(snaps)})"
        )
    snap = snaps[snapshot_id]
    mlist = read_container(open(snap["manifest-list"], "rb").read())
    live: dict[str, dict] = {}
    deletes: dict[str, dict] = {}
    n_manifests = 0
    n_skipped = 0
    for mf in mlist["values"]:
        is_delete_manifest = mf.get("content", 0) == 1
        if (
            manifest_ranges
            and not is_delete_manifest
            and _manifest_disjoint(mf.get("partitions"), manifest_ranges)
        ):
            n_skipped += 1
            continue
        entries = read_container(
            open(mf["manifest_path"], "rb").read()
        )["values"]
        n_manifests += 1
        mf_seq = mf.get("sequence_number")
        for e in entries:
            df = e["data_file"]
            content = df.get("content", 0)
            seq = e.get("sequence_number")
            if seq is None:
                if mf_seq is not None:
                    # spec "Sequence Number Inheritance": only ADDED
                    # entries inherit the manifest's data sequence
                    # number; EXISTING/DELETED entries were written
                    # by an OLDER snapshot, so a null there is a
                    # protocol violation, never a silent guess
                    if e["status"] == 1:
                        seq = mf_seq
                    else:
                        raise ValueError(
                            "iceberg: EXISTING/DELETED manifest "
                            "entry with null sequence_number cannot "
                            "inherit the manifest's (status "
                            f"{e['status']}, manifest seq {mf_seq})"
                        )
                else:
                    seq = 0  # v1-era lists without field 515
            if content in (1, 2) or is_delete_manifest:
                if content not in (1, 2) or not is_delete_manifest:
                    raise ValueError(
                        "iceberg: delete files and delete manifests "
                        "must pair (manifest content=1 <-> file "
                        "content in {1, 2})"
                    )
                is_dv = df.get("referenced_data_file") is not None
                if is_dv or df["file_format"].upper() == "PUFFIN":
                    # format-version 3 DELETION VECTORS: one puffin
                    # blob per data file, addressed by
                    # referenced_data_file + content_offset/size
                    if not is_dv:
                        raise ValueError(
                            "iceberg: puffin delete file without "
                            "referenced_data_file"
                        )
                    if df["file_format"].upper() != "PUFFIN":
                        raise ValueError(
                            "iceberg: referenced_data_file on a "
                            f"{df['file_format']!r} delete file "
                            "(deletion vectors are puffin)"
                        )
                    if content != 1:
                        raise ValueError(
                            "iceberg: deletion vector with content "
                            f"{content} (must be 1)"
                        )
                    if (
                        df.get("content_offset") is None
                        or df.get("content_size_in_bytes") is None
                    ):
                        raise ValueError(
                            "iceberg: deletion vector without "
                            "content_offset/content_size_in_bytes"
                        )
                    # a puffin file holds many blobs: key by
                    # (path, offset) so the status lifecycle works
                    # per vector
                    key = f"{df['file_path']}@{df['content_offset']}"
                    if e["status"] == 2:
                        deletes.pop(key, None)
                    elif e["status"] in (0, 1):
                        deletes[key] = {
                            "path": df["file_path"],
                            "file_format": df["file_format"],
                            "sequence": seq,
                            "content": 1,
                            "equality_ids": None,
                            "dv": {
                                "referenced_data_file":
                                    df["referenced_data_file"],
                                "content_offset": df["content_offset"],
                                "content_size_in_bytes":
                                    df["content_size_in_bytes"],
                                "cardinality": df.get("record_count"),
                            },
                        }
                    else:
                        raise ValueError(
                            f"iceberg: unknown manifest entry status "
                            f"{e['status']}"
                        )
                    continue
                if df["file_format"].upper() not in ("AVRO",
                                                     "PARQUET"):
                    raise NotImplementedError(
                        f"iceberg: {df['file_format']} delete files "
                        "unsupported (avro/parquet)"
                    )
                if content == 2 and not df.get("equality_ids"):
                    raise ValueError(
                        "iceberg: equality delete file without "
                        "equality_ids"
                    )
                if e["status"] == 2:
                    deletes.pop(df["file_path"], None)
                elif e["status"] in (0, 1):
                    deletes[df["file_path"]] = {
                        "path": df["file_path"],
                        "file_format": df["file_format"],
                        "sequence": seq,
                        "content": content,
                        "equality_ids": list(df.get("equality_ids") or [])
                        or None,
                    }
                else:
                    raise ValueError(
                        f"iceberg: unknown manifest entry status "
                        f"{e['status']}"
                    )
                continue
            if df["file_format"].upper() != "PARQUET":
                raise NotImplementedError(
                    f"iceberg: file format {df['file_format']} unsupported"
                )
            if e["status"] == 2:  # DELETED
                live.pop(df["file_path"], None)
            elif e["status"] in (0, 1):  # EXISTING / ADDED
                live[df["file_path"]] = {
                    "path": df["file_path"],
                    "partition": dict(df["partition"]),
                    "record_count": df["record_count"],
                    "size": df["file_size_in_bytes"],
                    "sequence": seq,
                    "lower_bounds": {
                        kv["key"]: kv["value"]
                        for kv in (df.get("lower_bounds") or [])
                    },
                    "upper_bounds": {
                        kv["key"]: kv["value"]
                        for kv in (df.get("upper_bounds") or [])
                    },
                }
            else:
                raise ValueError(
                    f"iceberg: unknown manifest entry status {e['status']}"
                )
    return {
        "snapshot_id": snapshot_id,
        "files": sorted(live.values(), key=lambda f: f["path"]),
        "delete_files": sorted(deletes.values(), key=lambda f: f["path"]),
        "n_manifests": n_manifests,
        "n_manifests_skipped": n_skipped,
    }


def transform_partition_filter(
    spec_fields: list[dict], source_filter: dict
) -> dict:
    """Turn a filter on SOURCE column values into a partition filter
    on TRANSFORMED values: for each partition field whose source
    column has a filter, the allowed partition values are the
    transforms of the allowed source values (bucket/truncate/day are
    all value-preserving maps, so `source IN (...)` implies
    `transform(source) IN (transform(...))` — the pruning direction
    that can never drop a matching file). Source columns are named
    by `source-name` on the spec field (this writer's convention —
    the real spec resolves source-id against the table schema, which
    this metadata subset does not carry). Partition values are
    compared as the manifest stores them: nullable strings."""
    out = {}
    for f in spec_fields:
        src = f.get("source-name", f["name"])
        if src not in source_filter:
            continue
        vals = set()
        for v in source_filter[src]:
            pv = apply_transform(f["transform"], v)
            vals.add(None if pv is None else str(pv))
        out[f["name"]] = vals
    return out


def prune_files(
    files: list[dict],
    partition_filter: dict | None,
    bounds_ranges: dict | None = None,
) -> list[dict]:
    """Metadata-level file skipping: identity-transform partition
    values (stored as strings; None stays None) and per-column
    long bounds. ``bounds_ranges`` maps Iceberg field id ->
    (lo, hi) inclusive; a file is dropped only when its
    [lower, upper] bound range is provably disjoint — files
    without the bound are KEPT (pruning must never drop a
    possibly-matching file)."""
    out = []
    for f in files:
        keep = True
        for col, allowed in (partition_filter or {}).items():
            if f["partition"].get(col) not in allowed:
                keep = False
                break
        if keep and bounds_ranges:
            lo_b = f.get("lower_bounds") or {}
            hi_b = f.get("upper_bounds") or {}
            for fid, (lo, hi) in bounds_ranges.items():
                if fid in lo_b and decode_long_bound(lo_b[fid]) > hi:
                    keep = False
                    break
                if fid in hi_b and decode_long_bound(hi_b[fid]) < lo:
                    keep = False
                    break
        if keep:
            out.append(f)
    return out


#: Puffin container magic (Puffin spec: file leads with it, and the
#: footer is Magic | payload | payload-size (4 LE) | flags (4) |
#: Magic).
PUFFIN_MAGIC = b"PFA1"


def write_puffin_dvs(path: str, dvs: list[tuple[str, list[int]]]):
    """Write a spec-shaped Puffin file holding one
    ``deletion-vector-v1`` blob per (referenced data file, deleted
    row positions) pair. Each blob is the Iceberg v3 (= Delta
    interop) framing: 4-byte BE length of the vector, the
    RoaringBitmapArray serialization (which leads with the shared
    magic 1681511377 LE), and a 4-byte BE CRC-32 of the vector.
    Returns per-entry {"offset", "length", "cardinality"} matching
    the manifest fields content_offset/content_size_in_bytes."""
    import json as _json
    import struct
    import zlib

    from cam_etl_spark.sources.roaring import serialize_bitmap_array

    out = bytearray(PUFFIN_MAGIC)
    metas = []
    frags = []
    for ref, positions in dvs:
        positions = sorted(set(int(p) for p in positions))
        vec = serialize_bitmap_array(positions)
        blob = (
            struct.pack(">i", len(vec))
            + vec
            + struct.pack(">I", zlib.crc32(vec) & 0xFFFFFFFF)
        )
        metas.append({
            "type": "deletion-vector-v1",
            "fields": [],
            "offset": len(out),
            "length": len(blob),
            "properties": {
                "referenced-data-file": ref,
                "cardinality": str(len(positions)),
            },
        })
        frags.append({
            "offset": len(out),
            "length": len(blob),
            "cardinality": len(positions),
        })
        out += blob
    payload = _json.dumps({"blobs": metas}).encode("utf-8")
    out += PUFFIN_MAGIC
    out += payload
    out += struct.pack("<i", len(payload))
    out += b"\x00\x00\x00\x00"  # flags: footer payload uncompressed
    out += PUFFIN_MAGIC
    with open(path, "wb") as fh:
        fh.write(bytes(out))
    return frags


def write_puffin_blobs(path: str, blobs: list[dict]) -> list[dict]:
    """Write a spec-shaped Puffin file from generic blob dicts
    ({"type", "payload" (bytes), "fields" (list of field ids),
    "snapshot-id", "sequence-number", "properties"}). Returns the
    spec's blob-metadata list (offsets/lengths filled in) ready to
    embed in a StatisticsFile entry."""
    import json as _json
    import struct

    out = bytearray(PUFFIN_MAGIC)
    metas = []
    for b in blobs:
        payload = b["payload"]
        metas.append({
            "type": b["type"],
            "fields": b.get("fields", []),
            "snapshot-id": b.get("snapshot-id", -1),
            "sequence-number": b.get("sequence-number", -1),
            "offset": len(out),
            "length": len(payload),
            "properties": b.get("properties", {}),
        })
        out += payload
    payload = _json.dumps({"blobs": metas}).encode("utf-8")
    out += PUFFIN_MAGIC
    out += payload
    out += struct.pack("<i", len(payload))
    out += b"\x00\x00\x00\x00"
    out += PUFFIN_MAGIC
    with open(path, "wb") as fh:
        fh.write(bytes(out))
    return metas


def table_ndv_stats(table_dir: str,
                    snapshot_id: int | None = None) -> dict:
    """Per-column NDV estimates from the table's registered
    statistics files (spec "Table statistics" +
    ``apache-datasketches-theta-v1`` Puffin blobs, decoded by the
    engine's own theta reader — sources/theta_sketch.py). Returns
    {field_id: {"ndv": float, "retained": int, "exact": bool}};
    multiple blobs for one field (per-file sketches) roll up through
    the theta union. Loud: statistics registered for the snapshot
    but the file missing/corrupt, or a blob type this reader knows
    is a sketch but cannot decode."""
    from cam_etl_spark.sources.theta_sketch import (
        parse_theta,
        theta_union_estimate,
    )

    meta = load_table_metadata(table_dir)
    if snapshot_id is None:
        snapshot_id = meta["current-snapshot-id"]
    stats = [s for s in meta.get("statistics", [])
             if s.get("snapshot-id") == snapshot_id]
    per_field: dict[int, list[bytes]] = {}
    for sf in stats:
        raw = open(sf["statistics-path"], "rb").read()
        foot = read_puffin_footer(raw)
        for blob in foot["blobs"]:
            if blob["type"] != "apache-datasketches-theta-v1":
                continue
            fields = blob.get("fields", [])
            if len(fields) != 1:
                raise ValueError(
                    "iceberg: theta ndv blob must reference exactly "
                    f"one field, got {fields}"
                )
            payload = raw[blob["offset"]:
                          blob["offset"] + blob["length"]]
            per_field.setdefault(fields[0], []).append(payload)
    out = {}
    for fid, payloads in per_field.items():
        parsed = [parse_theta(b) for b in payloads]
        exact = all(p["theta"] == 1.0 for p in parsed)
        ndv = (theta_union_estimate(payloads) if len(payloads) > 1
               else parsed[0]["estimate"])
        out[fid] = {
            "ndv": ndv,
            "retained": sum(p["retained"] for p in parsed),
            "exact": exact,
        }
    return out


def read_puffin_footer(buf: bytes) -> dict:
    """Parse a Puffin file's footer payload (JSON). Loud on bad
    magic, reserved flag bits, and the compressed-payload flag (no
    blob this engine reads needs it)."""
    import json as _json
    import struct

    if len(buf) < 20 or buf[:4] != PUFFIN_MAGIC or buf[-4:] != PUFFIN_MAGIC:
        raise ValueError("puffin: bad magic")
    flags = buf[-8:-4]
    if flags[0] & 1:
        raise NotImplementedError(
            "puffin: compressed footer payload unsupported"
        )
    if flags[0] & ~1 or any(flags[1:]):
        raise ValueError("puffin: reserved footer flag bits set")
    size = struct.unpack("<i", buf[-12:-8])[0]
    start = len(buf) - 12 - size
    if size < 0 or start < 8:
        raise ValueError("puffin: footer payload size out of range")
    if buf[start - 4:start] != PUFFIN_MAGIC:
        raise ValueError("puffin: footer leading magic missing")
    return _json.loads(buf[start:len(buf) - 12].decode("utf-8"))


def read_deletion_vector(buf: bytes, offset: int, length: int,
                         cardinality: int | None = None) -> list[int]:
    """Decode one ``deletion-vector-v1`` blob at [offset, offset +
    length) -> sorted deleted row positions, every declared invariant
    checked loudly (length header, CRC-32, the RoaringBitmapArray
    magic inside, declared cardinality)."""
    import struct
    import zlib

    from cam_etl_spark.sources.roaring import deserialize_bitmap_array

    blob = buf[offset:offset + length]
    if len(blob) != length or length < 8:
        raise ValueError("puffin: deletion-vector blob truncated")
    vlen = struct.unpack(">i", blob[:4])[0]
    if vlen != length - 8:
        raise ValueError(
            f"puffin: deletion-vector length header {vlen} != "
            f"blob length {length} - 8"
        )
    vec = blob[4:4 + vlen]
    want = struct.unpack(">I", blob[4 + vlen:8 + vlen])[0]
    if zlib.crc32(vec) & 0xFFFFFFFF != want:
        raise ValueError("puffin: deletion-vector CRC mismatch")
    rows = deserialize_bitmap_array(vec)
    if cardinality is not None and len(rows) != cardinality:
        raise ValueError(
            f"puffin: deletion-vector cardinality {len(rows)} != "
            f"declared {cardinality}"
        )
    return rows


def _dv_delete_rows(spark, dv_files: list[dict]):
    """Deletion-vector rows as a DataFrame with the same shape as
    _position_delete_rows — one task per DV, the puffin blob decoded
    EXECUTOR-side (at 100 TB the vectors are row-level data; only
    the kilobyte descriptors transit the driver)."""
    rows = [
        (
            f["path"],
            f["dv"]["content_offset"],
            f["dv"]["content_size_in_bytes"],
            f["dv"]["referenced_data_file"],
            f["dv"].get("cardinality"),
            f["sequence"],
        )
        for f in dv_files
    ]
    src = spark.createDataFrame(
        rows,
        "path string, off long, size long, ref string, card long, "
        "dseq long",
    ).repartition(len(rows))

    def run(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for path, off, size, ref, card, dseq in zip(
                pdf["path"], pdf["off"], pdf["size"], pdf["ref"],
                pdf["card"], pdf["dseq"],
            ):
                # read ONLY the blob's byte range — a puffin file
                # holds many vectors and the manifest gives the
                # exact [offset, offset + size) window
                with open(path, "rb") as fh:
                    fh.seek(int(off))
                    blob = fh.read(int(size))
                # card arrives as NaN when the manifest omitted
                # record_count (nullable long -> pandas float)
                card_ok = (card is not None and not pd.isna(card)
                           and card >= 0)
                for p in read_deletion_vector(
                    blob, 0, int(size),
                    int(card) if card_ok else None,
                ):
                    out.append({
                        "file_path": ref,
                        "pos": p,
                        "delete_seq": int(dseq),
                    })
            yield pd.DataFrame(
                out, columns=["file_path", "pos", "delete_seq"]
            )

    return src.mapInPandas(
        run, "file_path string, pos long, delete_seq long"
    )


def _position_delete_rows(spark, delete_files: list[dict]):
    """Delete-file rows as a DataFrame. Avro delete files decode
    executor-side through the engine's own Avro codec (one task per
    file); PARQUET delete files (round 14 — what Spark itself writes
    for v2 position deletes) go straight through the vectorized
    parquet scan, with each row's sequence attached by a broadcast
    join on ``_metadata.file_path``. Either way the delete set is
    row-level data and at 100 TB it never transits the driver."""
    from pyspark.sql import functions as F

    avro = [f for f in delete_files
            if (f.get("file_format") or "avro").upper() == "AVRO"]
    pq = [f for f in delete_files
          if (f.get("file_format") or "").upper() == "PARQUET"]
    parts = []
    if avro:
        rows = [(f["path"], f["sequence"]) for f in avro]
        src = spark.createDataFrame(
            rows, "path string, dseq long"
        ).repartition(len(rows))

        def run(batches):
            import pandas as pd

            from cam_etl_spark.sources.avro_io import read_container

            for pdf in batches:
                out = []
                for path, dseq in zip(pdf["path"], pdf["dseq"]):
                    vals = read_container(
                        open(path, "rb").read())["values"]
                    for r in vals:
                        out.append(
                            {
                                "file_path": r["file_path"],
                                "pos": r["pos"],
                                "delete_seq": int(dseq),
                            }
                        )
                yield pd.DataFrame(
                    out, columns=["file_path", "pos", "delete_seq"]
                )

        parts.append(src.mapInPandas(
            run, "file_path string, pos long, delete_seq long"
        ))
    for f in pq:
        # per-file scan with the sequence attached as a literal: no
        # path-representation matching (URI vs plain vs
        # percent-encoded _metadata paths) can silently drop deletes,
        # and a bad manifest path fails loudly in the reader. Delete
        # manifests list a bounded file set per snapshot, so one scan
        # per file is the honest shape.
        parts.append(
            spark.read.parquet(f["path"]).select(
                "file_path", "pos",
                F.lit(int(f["sequence"])).alias("delete_seq"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.union(p)
    return out


def _anti_join_position_rows(spark, df, files: list[dict], del_rows):
    """Merge-on-read core shared by position deletes and deletion
    vectors: anti-join the scan against (file_path, pos, delete_seq)
    rows. Row ordinals come from Spark's parquet
    `_metadata.row_index` (per-file row position, the exact quantity
    the spec's `pos` names); the delete side is pre-gated by the
    sequence rule (delete applies iff its sequence >= the data
    file's). The file-sequence map is metadata-sized and broadcast;
    the anti-join itself shuffles on (file_path, pos) — or
    broadcasts the delete side when AQE sees it is small."""
    from pyspark.sql import functions as F

    seq_map = spark.createDataFrame(
        [(f["path"], f["sequence"]) for f in files],
        "file_path string, data_seq long",
    )
    dels = (
        del_rows
        .join(F.broadcast(seq_map), "file_path")
        .filter(F.col("delete_seq") >= F.col("data_seq"))
        .select("file_path", "pos")
    )
    data = df.withColumn(
        "_fp",
        F.regexp_replace(F.col("_metadata.file_path"), "^file:/+", "/"),
    ).withColumn("_pos", F.col("_metadata.row_index"))
    return data.join(
        dels,
        (data["_fp"] == dels["file_path"]) & (data["_pos"] == dels["pos"]),
        "left_anti",
    ).drop("_fp", "_pos")


def _apply_position_deletes(spark, df, files: list[dict],
                            delete_files: list[dict]):
    return _anti_join_position_rows(
        spark, df, files, _position_delete_rows(spark, delete_files)
    )


def _apply_dv_deletes(spark, df, files: list[dict],
                      dv_files: list[dict]):
    """v3 deletion vectors, merge-on-read: same (file, pos)
    anti-join as position deletes, the positions decoded from puffin
    blobs executor-side. The spec allows at most ONE DV per data
    file in a snapshot — enforced here loudly."""
    refs = [f["dv"]["referenced_data_file"] for f in dv_files]
    dup = {r for r in refs if refs.count(r) > 1}
    if dup:
        raise ValueError(
            f"iceberg: multiple deletion vectors reference "
            f"{sorted(dup)[0]!r} in one snapshot"
        )
    return _anti_join_position_rows(
        spark, df, files, _dv_delete_rows(spark, dv_files)
    )


def metadata_table(spark, table_dir: str, kind: str):
    """Iceberg METADATA TABLES — the `SELECT * FROM tbl.history`
    ops surface: "history" (snapshot lineage + is_current),
    "snapshots" (per-snapshot manifest counts), "manifests" (the
    current snapshot's manifest list with content + length), and
    "files" (the current snapshot's live data files with partition,
    record_count and size). Rows are built DRIVER-side because they
    ARE the metadata — kilobytes by construction (the data they
    describe stays untouched); at 100 TB these tables are how
    operators audit snapshot churn, file-size health, and
    partition skew without scanning a byte of parquet."""
    meta = load_table_metadata(table_dir)
    cur = meta.get("current-snapshot-id")
    if kind == "history":
        rows = [
            (
                s["snapshot-id"],
                s.get("parent-snapshot-id"),
                s["snapshot-id"] == cur,
            )
            for s in meta.get("snapshots", [])
        ]
        return spark.createDataFrame(
            rows,
            "snapshot_id long, parent_id long, is_current boolean",
        )
    if kind == "snapshots":
        rows = []
        for s in meta.get("snapshots", []):
            mlist = read_container(
                open(s["manifest-list"], "rb").read()
            )["values"]
            rows.append(
                (
                    s["snapshot-id"],
                    s.get("parent-snapshot-id"),
                    sum(1 for m in mlist if m.get("content", 0) == 0),
                    sum(1 for m in mlist if m.get("content", 0) == 1),
                )
            )
        return spark.createDataFrame(
            rows,
            "snapshot_id long, parent_id long, n_data_manifests long, "
            "n_delete_manifests long",
        )
    if kind == "manifests":
        snap = {s["snapshot-id"]: s for s in meta["snapshots"]}[cur]
        mlist = read_container(
            open(snap["manifest-list"], "rb").read()
        )["values"]
        rows = [
            (
                m["manifest_path"],
                m.get("content", 0),
                m["manifest_length"],
                m["added_snapshot_id"],
            )
            for m in mlist
        ]
        return spark.createDataFrame(
            rows,
            "path string, content int, length long, "
            "added_snapshot_id long",
        )
    if kind == "files":
        snap = snapshot_files(table_dir)
        rows = [
            (
                f["path"],
                json.dumps(f["partition"], sort_keys=True),
                f["record_count"],
                f["size"],
                f["sequence"],
            )
            for f in snap["files"]
        ]
        return spark.createDataFrame(
            rows,
            "path string, partition string, record_count long, "
            "size long, sequence long",
        )
    raise ValueError(
        f"iceberg: unknown metadata table {kind!r} "
        "(history | snapshots | manifests | files)"
    )


def rollback_to_snapshot(table_dir: str, snapshot_id: int) -> str:
    """ROLLBACK (spec: setting current-snapshot-id to an existing
    snapshot in a new metadata version — history is kept, nothing is
    deleted; the abandoned snapshots remain time-travelable until
    expiry). Returns the new metadata path."""
    meta = load_table_metadata(table_dir)
    ids = {s["snapshot-id"] for s in meta.get("snapshots", [])}
    if snapshot_id not in ids:
        raise ValueError(
            f"iceberg: cannot roll back to unknown snapshot "
            f"{snapshot_id} (has {sorted(ids)})"
        )
    doc = {k: v for k, v in meta.items() if not k.startswith("_")}
    doc["current-snapshot-id"] = snapshot_id
    version = meta["_metadata_version"] + 1
    meta_dir = os.path.join(table_dir, "metadata")
    path = os.path.join(meta_dir, f"v{version}.metadata.json")
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(doc, fh)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as fh:
        fh.write(str(version))
    return path


def incremental_files(
    table_dir: str, from_snapshot_id: int, to_snapshot_id: int
) -> list[dict]:
    """APPEND-path incremental scan: the data files live in
    ``to_snapshot_id`` but not in ``from_snapshot_id`` — for
    append-only history this is exactly Iceberg's incremental append
    scan (every row committed after `from`); files REWRITTEN in
    between also appear (their rows are re-delivered), which is the
    documented at-least-once behavior a set-diff gives without
    per-snapshot operation summaries."""
    before = {
        f["path"] for f in snapshot_files(table_dir, from_snapshot_id)["files"]
    }
    after = snapshot_files(table_dir, to_snapshot_id)["files"]
    return [f for f in after if f["path"] not in before]


def read_incremental(
    spark, table_dir: str, from_snapshot_id: int, to_snapshot_id: int
):
    """Incremental append scan -> DataFrame: one parquet scan over
    exactly the new files. At 100 TB this is the downstream-consumer
    path — read kilobytes of metadata, then only the data that
    arrived since the last checkpoint. Returns (df, n_new_files)."""
    new = incremental_files(table_dir, from_snapshot_id, to_snapshot_id)
    if not new:
        raise ValueError(
            f"iceberg: no files added between snapshots "
            f"{from_snapshot_id} and {to_snapshot_id}"
        )
    df = spark.read.option(
        "basePath", os.path.join(table_dir, "data")
    ).parquet(*[f["path"] for f in new])
    return df, len(new)


def merge_upsert_mor(
    spark,
    table_dir: str,
    source_df,
    key: str,
    key_field_id: int,
    new_snapshot_id: int,
):
    """MERGE-ON-READ UPSERT — the equality-delete write path
    (Flink/CDC shape): one new snapshot that (a) equality-DELETES
    every source key at sequence N+1 and (b) APPENDS every source
    row at the same sequence. ZERO existing files are rewritten —
    the strict gate (delete.seq > data.seq) retracts old versions of
    the keys from every older file while leaving the new file
    untouched, and the read pays an anti-join instead. This is the
    write-cost mirror of delta_log.merge_into's copy-on-write: COW
    pays at write (rewrite touched files), MOR pays at read (the
    merge join), and which wins at 100 TB depends on the
    update:read ratio. The source rows land via a distributed Spark
    write; the delete-key Avro file is built from the upsert batch
    (bounded — it IS the CDC batch). Returns {"snapshot_id",
    "sequence", "n_source_rows"}."""
    import glob
    import shutil

    meta = load_table_metadata(table_dir)
    snap = snapshot_files(table_dir)
    seq = (
        max(
            [f["sequence"] for f in snap["files"]]
            + [f["sequence"] for f in snap["delete_files"]],
            default=0,
        )
        + 1
    )
    # distributed landing of the source rows
    data_dir = os.path.join(table_dir, "data")
    tmp = os.path.join(table_dir, f"_mor_tmp_{new_snapshot_id}")
    source_df.write.parquet(tmp, mode="overwrite")
    new_files = []
    for i, p in enumerate(sorted(glob.glob(tmp + "/*.parquet"))):
        dst = os.path.join(data_dir, f"mor-{new_snapshot_id}-{i}.parquet")
        shutil.move(p, dst)
        new_files.append(dst)
    shutil.rmtree(tmp)
    # the upsert batch's keys become one equality-delete file
    keys = sorted(
        r[key] for r in source_df.select(key).distinct().collect()
    )  # bounded by the CDC batch size
    n_source = source_df.count()
    md = os.path.join(table_dir, "metadata")
    eqd = os.path.join(md, f"eqd-{new_snapshot_id}.avro")
    write_equality_deletes(
        eqd,
        [{"name": key, "type": "long", "field-id": key_field_id}],
        [{key: k} for k in keys],
    )

    m_data = os.path.join(md, f"m-mor-{new_snapshot_id}.avro")
    write_manifest(
        m_data, [manifest_entry(p, sequence_number=seq) for p in new_files]
    )
    m_del = os.path.join(md, f"m-mordel-{new_snapshot_id}.avro")
    write_manifest(
        m_del,
        [manifest_entry(eqd, sequence_number=seq, content=2,
                        equality_ids=[key_field_id])],
    )
    # carry every existing manifest forward, add the new pair
    cur = {s["snapshot-id"]: s for s in meta["snapshots"]}[
        meta["current-snapshot-id"]
    ]
    mlist = read_container(open(cur["manifest-list"], "rb").read())
    carried = [
        (mf["manifest_path"], mf.get("content", 0),
         mf.get("partitions"))
        for mf in mlist["values"]
    ]
    new_snap = write_snapshot(
        table_dir,
        new_snapshot_id,
        carried + [(m_data, 0), (m_del, 1)],
        parent_id=meta["current-snapshot-id"],
    )
    doc = {k: v for k, v in meta.items() if not k.startswith("_")}
    doc["snapshots"] = meta["snapshots"] + [new_snap]
    doc["current-snapshot-id"] = new_snapshot_id
    version = meta["_metadata_version"] + 1
    path = os.path.join(md, f"v{version}.metadata.json")
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(doc, fh)
    with open(os.path.join(md, "version-hint.text"), "w") as fh:
        fh.write(str(version))
    return {
        "snapshot_id": new_snapshot_id,
        "sequence": seq,
        "n_source_rows": n_source,
    }


def _snapshot_reachable(table_dir: str, snapshot_id: int) -> dict:
    """All paths one snapshot reaches: its manifest list, manifests,
    and every data/delete file they name (regardless of entry
    status — a DELETED-status entry still references the path)."""
    meta = load_table_metadata(table_dir)
    snap = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}[
        snapshot_id
    ]
    manifests: set[str] = set()
    files: set[str] = set()
    mlist = read_container(open(snap["manifest-list"], "rb").read())
    for mf in mlist["values"]:
        manifests.add(mf["manifest_path"])
        for e in read_container(
            open(mf["manifest_path"], "rb").read()
        )["values"]:
            files.add(e["data_file"]["file_path"])
    return {
        "manifest_list": snap["manifest-list"],
        "manifests": manifests,
        "files": files,
    }


def expire_snapshots(
    table_dir: str, keep_ids: set[int], delete_orphans: bool = False
) -> dict:
    """Snapshot EXPIRATION (spec "Table Maintenance"): write a new
    metadata version whose snapshot list keeps only ``keep_ids``,
    then garbage-collect — a manifest list / manifest / data file is
    ORPHANED iff it is reachable from an expired snapshot and from
    no surviving one (reachability protects files shared across
    snapshots, e.g. EXISTING-status carry-over entries). With
    ``delete_orphans`` the orphaned paths are removed from disk.
    Returns {"expired", "kept", "orphan_manifests", "orphan_files",
    "orphan_manifest_lists"}. The current snapshot must survive. At
    100 TB expiry is the ONLY thing that bounds metadata + storage
    growth under compaction/rewrite churn; reachability, not age,
    decides what dies."""
    meta = load_table_metadata(table_dir)
    all_ids = {s["snapshot-id"] for s in meta.get("snapshots", [])}
    missing = keep_ids - all_ids
    if missing:
        raise ValueError(f"iceberg: unknown snapshot ids {sorted(missing)}")
    if meta["current-snapshot-id"] not in keep_ids:
        raise ValueError(
            "iceberg: refusing to expire the current snapshot"
        )
    expired = all_ids - keep_ids
    keep_reach = [_snapshot_reachable(table_dir, s) for s in keep_ids]
    gone_reach = [_snapshot_reachable(table_dir, s) for s in expired]
    kept_manifests = set().union(*[r["manifests"] for r in keep_reach])
    kept_files = set().union(*[r["files"] for r in keep_reach])
    orphan_lists = {r["manifest_list"] for r in gone_reach}
    orphan_manifests = (
        set().union(*[r["manifests"] for r in gone_reach])
        - kept_manifests
        if gone_reach
        else set()
    )
    orphan_files = (
        set().union(*[r["files"] for r in gone_reach]) - kept_files
        if gone_reach
        else set()
    )
    snapshots = [
        s for s in meta["snapshots"] if s["snapshot-id"] in keep_ids
    ]
    write_table_metadata_doc = {
        k: v for k, v in meta.items() if not k.startswith("_")
    }
    write_table_metadata_doc["snapshots"] = snapshots
    version = meta["_metadata_version"] + 1
    meta_dir = os.path.join(table_dir, "metadata")
    path = os.path.join(meta_dir, f"v{version}.metadata.json")
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(write_table_metadata_doc, fh)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as fh:
        fh.write(str(version))
    if delete_orphans:
        for p in orphan_lists | orphan_manifests | orphan_files:
            os.unlink(p)
    return {
        "expired": sorted(expired),
        "kept": sorted(keep_ids),
        "orphan_manifest_lists": sorted(orphan_lists),
        "orphan_manifests": sorted(orphan_manifests),
        "orphan_files": sorted(orphan_files),
    }


_AVRO_TO_SPARK = {"long": "long", "int": "int", "string": "string"}


def _equality_delete_rows(spark, delete_files: list[dict]):
    """Equality-delete rows as a DataFrame of the equality columns +
    delete_seq. All files must share one equality_ids set (raise
    otherwise — a mixed-schema union would need per-file projection).
    Avro files: column NAMES/TYPES from the first file's Avro header
    (driver-side, kilobytes), row decode executor-side, one task per
    file. PARQUET files (round 14): the vectorized scan, sequences
    attached via ``_metadata.file_path``. Mixed formats union on the
    shared column set."""
    from pyspark.sql import functions as F

    ids = {tuple(f["equality_ids"]) for f in delete_files}
    if len(ids) != 1:
        raise NotImplementedError(
            f"iceberg: mixed equality_ids across delete files "
            f"unsupported (saw {sorted(ids)})"
        )
    avro = [f for f in delete_files
            if (f.get("file_format") or "avro").upper() == "AVRO"]
    pq = [f for f in delete_files
          if (f.get("file_format") or "").upper() == "PARQUET"]
    parts = []
    names: list[str] | None = None
    if avro:
        head = read_container(open(avro[0]["path"], "rb").read())
        fields = json.loads(head["schema"])["fields"]
        cols = []
        for fld in fields:
            typ = fld["type"]
            if not isinstance(typ, str) or typ not in _AVRO_TO_SPARK:
                raise NotImplementedError(
                    f"iceberg: equality-delete column type {typ!r} "
                    f"unsupported"
                )
            cols.append((fld["name"], _AVRO_TO_SPARK[typ]))
        out_schema = ", ".join(
            [f"`{n}` {t}" for n, t in cols] + ["delete_seq long"]
        )
        names = [n for n, _ in cols]
        anames = list(names)
        rows = [(f["path"], f["sequence"]) for f in avro]
        src = spark.createDataFrame(
            rows, "path string, dseq long"
        ).repartition(len(rows))

        def run(batches):
            import pandas as pd

            from cam_etl_spark.sources.avro_io import read_container

            for pdf in batches:
                out = []
                for path, dseq in zip(pdf["path"], pdf["dseq"]):
                    vals = read_container(
                        open(path, "rb").read())["values"]
                    for r in vals:
                        rec = {n: r[n] for n in anames}
                        rec["delete_seq"] = int(dseq)
                        out.append(rec)
                yield pd.DataFrame(out,
                                   columns=anames + ["delete_seq"])

        parts.append(src.mapInPandas(run, out_schema))
    for f in pq:
        # per-file scan + literal sequence, for the same
        # no-silent-path-mismatch reason as the position path
        scan = spark.read.parquet(f["path"])
        pq_names = [c for c in scan.columns]
        if names is None:
            names = pq_names
        elif set(pq_names) != set(names):
            raise ValueError(
                "iceberg: equality-delete column sets differ across "
                f"formats ({sorted(names)} vs {sorted(pq_names)})"
            )
        parts.append(scan.select(
            *names,
            F.lit(int(f["sequence"])).alias("delete_seq"),
        ))
    out = parts[0]
    for p in parts[1:]:
        out = out.union(p)
    return out, names


def _apply_equality_deletes(spark, df, files: list[dict],
                            delete_files: list[dict]):
    """Merge-on-read equality deletes: anti-join the scan against the
    delete rows on the equality columns, gated per data file by the
    STRICT rule delete.sequence > data.sequence (spec "Scan
    Planning" — an equality delete never hits a file written at or
    after its own sequence, which is what lets a compaction rewrite
    shed it). The file→sequence map is metadata-sized and broadcast;
    the anti-join shuffles on the equality columns — or broadcasts
    the delete side when AQE sees it is small."""
    from pyspark.sql import functions as F

    dels, names = _equality_delete_rows(spark, delete_files)
    dels = dels.select(
        *[F.col(n).alias(f"_del_{n}") for n in names], "delete_seq"
    )
    seq_map = spark.createDataFrame(
        [(f["path"], f["sequence"]) for f in files],
        "_seq_fp string, data_seq long",
    )
    data = df.withColumn(
        "_fp",
        F.regexp_replace(F.col("_metadata.file_path"), "^file:/+", "/"),
    ).join(F.broadcast(seq_map), F.col("_fp") == F.col("_seq_fp"))
    cond = F.col("delete_seq") > F.col("data_seq")
    for n in names:
        cond = cond & (F.col(n) == F.col(f"_del_{n}"))
    return data.join(dels, cond, "left_anti").drop(
        "_fp", "_seq_fp", "data_seq"
    )


def read_snapshot(
    spark,
    table_dir: str,
    snapshot_id: int | None = None,
    partition_filter: dict | None = None,
    bounds_ranges: dict | None = None,
    manifest_ranges: dict | None = None,
):
    """Snapshot -> DataFrame via Spark's vectorized parquet scan on
    exactly the live, pruned file list (basePath partition
    materialization), with v2 position AND equality deletes applied
    merge-on-read when the snapshot carries delete manifests.
    ``manifest_ranges`` prunes whole DATA manifests by their
    manifest-list field_summary bounds before reading them; pair it
    with a consistent file-level filter (partition_filter /
    bounds_ranges) so files a skipped manifest would have
    status-2-deleted are excluded by range at the file level too.
    When the table metadata declares a current schema AND a
    ``schema.name-mapping.default`` property, the scan is
    SCHEMA-EVOLVED: files are read with mergeSchema and every
    current-schema field is resolved by name mapping (rename =
    coalesce over the field's historical names; added column absent
    from old files = typed null) — the spec's read path for data
    files written without parquet field ids.

    Returns (DataFrame, snapshot_dict, n_files)."""
    snap = snapshot_files(table_dir, snapshot_id, manifest_ranges)
    files = prune_files(snap["files"], partition_filter, bounds_ranges)
    if not files:
        raise ValueError("iceberg: snapshot has no files after pruning")
    meta = load_table_metadata(table_dir)
    fields, mapping = _evolution_config(meta)
    default_lacking = None
    if fields is not None and any("initial-default" in f for f in fields):
        default_lacking = _default_field_presence(
            [f["path"] for f in files], fields, mapping
        )
    reader = spark.read.option("basePath", os.path.join(table_dir, "data"))
    if fields is not None:
        reader = reader.option("mergeSchema", "true")
        if any(f.get("type") in ("timestamp_ns", "timestamptz_ns")
               for f in fields):
            # v3 nanosecond timestamps: Spark has no nanosecond
            # timestamp type and by default REFUSES INT64
            # TIMESTAMP(NANOS) parquet columns; the legacy conf
            # surfaces them as bigint nanoseconds, which is what
            # _spark_type maps timestamp_ns to. The conf is a
            # SESSION setting and stays set (the returned DataFrame
            # is lazy — restoring it here would break the later
            # action). Flipping it changes behavior for UNRELATED
            # nanos parquet reads in this session (bigint instead of
            # a loud refusal), so the flip itself is made loud: a
            # warning fires at the point the setting leaks.
            if (spark.conf.get("spark.sql.legacy.parquet.nanosAsLong",
                               "false") != "true"):
                import warnings

                warnings.warn(
                    "iceberg: enabling spark.sql.legacy.parquet."
                    "nanosAsLong session-wide for a timestamp_ns "
                    "table — later INT64 TIMESTAMP(NANOS) parquet "
                    "reads in this session return bigint instead of "
                    "raising",
                    stacklevel=2,
                )
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong",
                           "true")
    df = reader.parquet(*[f["path"] for f in files])
    if default_lacking is not None:
        # bind the file identity BEFORE any delete joins (the hidden
        # _metadata column only resolves against the scan relation),
        # normalized the same way the delete anti-joins normalize it
        from pyspark.sql import functions as F

        df = df.withColumn(
            "__cam_file_uri",
            F.regexp_replace(F.col("_metadata.file_path"),
                             "^file:/+", "/"),
        )
    pos = [f for f in snap["delete_files"]
           if f["content"] == 1 and not f.get("dv")]
    dvs = [f for f in snap["delete_files"] if f.get("dv")]
    eq = [f for f in snap["delete_files"] if f["content"] == 2]
    if pos:
        df = _apply_position_deletes(spark, df, files, pos)
    if dvs:
        df = _apply_dv_deletes(spark, df, files, dvs)
    if eq:
        df = _apply_equality_deletes(spark, df, files, eq)
    if fields is not None:
        df = _resolve_evolved_schema(df, fields, mapping, default_lacking)
    return df, snap, len(files)


#: Iceberg primitive type -> Spark SQL type for typed-null backfill of
#: added columns. Loud boundary for anything not listed.
_ICEBERG_SPARK_TYPES = {
    "boolean": "boolean", "int": "int", "long": "bigint",
    "float": "float", "double": "double", "date": "date",
    "string": "string", "binary": "binary",
    "timestamp": "timestamp", "timestamptz": "timestamp",
}


def _evolution_config(meta: dict):
    """(current schema fields, name-mapping list) when the table
    declares a schema AND either a ``schema.name-mapping.default``
    property or (v3) a field carrying ``initial-default``, else
    (None, None) — legacy fixtures without a schema read exactly as
    before."""
    schemas = meta.get("schemas")
    prop = (meta.get("properties") or {}).get(
        "schema.name-mapping.default"
    )
    if not schemas:
        return None, None
    cur = meta.get("current-schema-id", 0)
    matching = [s for s in schemas if s.get("schema-id") == cur]
    if not matching:
        raise ValueError(
            f"iceberg: current-schema-id {cur} matches no schema "
            f"(have {sorted(s.get('schema-id') for s in schemas)})"
        )
    fields = matching[0]["fields"]
    if prop is None and not any("initial-default" in f for f in fields):
        return None, None
    return fields, (json.loads(prop) if prop is not None else [])


def _resolve_evolved_schema(df, fields: list[dict], mapping: list[dict],
                            default_lacking: dict | None = None):
    """Project a merged-schema scan onto the CURRENT schema: each
    field resolves by field id through the name mapping (spec "Column
    Projection": coalesce over the mapped historical names present in
    the files; absent everywhere -> typed null — or, v3, the field's
    ``initial-default``, applied per file via ``default_lacking``
    from _default_field_presence and the scan's ``__cam_file_uri``
    column)."""
    from pyspark.sql import functions as F

    by_id = {m["field-id"]: m.get("names", []) for m in (mapping or [])}
    cols = []
    have = set(df.columns)
    for f in fields:
        names = list(dict.fromkeys(
            by_id.get(f["id"], []) + [f["name"]]
        ))
        present = [n for n in names if n in have]
        t = f.get("type")
        dv = f.get("initial-default")
        if dv is not None:
            default_expr = _default_expr(t, dv)
        if present:
            expr = (
                F.coalesce(*[F.col(n) for n in present])
                if len(present) > 1
                else F.col(present[0])
            )
            lack = (default_lacking or {}).get(f["id"])
            if dv is not None and lack:
                # v3 default values: rows from files written BEFORE
                # the column existed take initial-default; rows from
                # files that HAVE the column keep their written
                # values (including real nulls — null != default, so
                # a blanket coalesce would be WRONG).
                # __cam_file_uri is pre-normalized ("file:/+..." ->
                # "/...", the same normalization the delete
                # anti-joins use), so compare against the bare paths
                expr = F.when(
                    F.col("__cam_file_uri").isin(list(lack)),
                    default_expr,
                ).otherwise(expr)
        elif dv is not None:
            # column absent from every scanned file: every row
            # predates it
            expr = default_expr
        else:
            expr = F.lit(None).cast(_spark_type(t))
        cols.append(expr.alias(f["name"]))
    return df.select(*cols)


#: types whose spec JSON single-value default serialization a Spark
#: ``lit(json_value).cast(type)`` reproduces exactly (boolean/number
#: literals; date/timestamp as ISO-8601 strings). decimal/uuid/
#: binary/fixed/timestamp_ns defaults deserialize through their own
#: branches in _default_expr (round 12).
_DEFAULTABLE_TYPES = {
    "boolean", "int", "long", "float", "double", "string", "date",
    "timestamp", "timestamptz",
}


def _spark_type(t) -> str:
    """Iceberg primitive type (possibly parameterized) -> Spark SQL
    type. v3 completions (round 12): decimal(P, S) passes through,
    fixed[N] and uuid read as binary (their parquet physical form —
    verified against Spark's own read of pyarrow fixed_len_byte_array
    columns), timestamp_ns / timestamptz_ns read as bigint
    nanoseconds (Spark has no nanosecond timestamp type; the scan
    sets spark.sql.legacy.parquet.nanosAsLong so INT64
    TIMESTAMP(NANOS) columns surface as long), unknown is the
    spec's always-null type (void), variant maps to Spark's native
    VariantType (Spark reads both the plain value+metadata layout
    and the shredded typed_value layout — the same machinery the
    Delta variantShredding path verifies), and geometry /
    geography read as binary (their physical form is WKB per the
    spec; the engine's spatial functions consume coordinates, so
    interpretation stays with the caller). The v3 type map is
    COMPLETE; nested types stay loud."""
    if isinstance(t, str):
        if t in _ICEBERG_SPARK_TYPES:
            return _ICEBERG_SPARK_TYPES[t]
        if t.startswith("decimal(") and t.endswith(")"):
            return t
        if t.startswith("fixed[") and t.endswith("]"):
            return "binary"
        if t == "uuid":
            return "binary"
        if t in ("timestamp_ns", "timestamptz_ns"):
            return "bigint"
        if t == "unknown":
            return "void"
        if t == "variant":
            return "variant"
        if t == "geometry" or t.startswith("geometry(") or \
                t == "geography" or t.startswith("geography("):
            return "binary"
    raise NotImplementedError(
        f"iceberg: type {t!r} unsupported (nested types stay loud)"
    )


def _default_expr(t, dv):
    """Deserialize a v3 ``initial-default`` from the spec's JSON
    single-value serialization into a typed Spark literal. Round 12
    adds the non-scalar-literal serializations: decimal (decimal
    string, scale from the type), uuid (canonical hyphenated string
    -> 16 bytes), binary / fixed[N] (hexadecimal string -> bytes,
    length-checked for fixed), timestamp_ns (ISO-8601 string ->
    bigint nanoseconds). unknown-typed columns are always null and
    cannot carry a default (loud)."""
    from pyspark.sql import functions as F

    if t == "unknown":
        raise ValueError(
            "iceberg: unknown-typed column cannot carry an "
            "initial-default (the type is always null)"
        )
    if isinstance(t, str):
        if t == "uuid":
            raw = bytes.fromhex(dv.replace("-", ""))
            if len(raw) != 16:
                raise ValueError(
                    f"iceberg: uuid default {dv!r} is not 16 bytes"
                )
            return F.lit(raw)
        if t == "binary" or t.startswith("fixed["):
            try:
                raw = bytes.fromhex(dv)
            except ValueError:
                raise ValueError(
                    f"iceberg: {t} default {dv!r} is not valid hex"
                ) from None
            if t.startswith("fixed["):
                n = int(t[6:-1])
                if len(raw) != n:
                    raise ValueError(
                        f"iceberg: fixed[{n}] default has "
                        f"{len(raw)} bytes"
                    )
            return F.lit(raw)
        if t.startswith("decimal("):
            return F.lit(str(dv)).cast(_spark_type(t))
        if t in ("timestamp_ns", "timestamptz_ns"):
            import pandas as pd

            return F.lit(int(pd.Timestamp(dv).value)).cast("bigint")
        if t == "variant":
            # Round 13: variant initial-default. The default arrives
            # as the variant's PHYSICAL encoding — a JSON object
            # {"metadata": <base64>, "value": <base64>} of the two
            # Variant-spec binaries (the container has no spec text
            # to pin the exact JSON single-value wire form, so this
            # documented assumption mirrors the spec's convention of
            # serializing binary payloads, and the encoding is
            # validated by the engine's own from-spec variant codec:
            # a malformed buffer raises in decode_value, never
            # silently defaults). The decoded value re-enters Spark
            # through parse_json, so the literal is a real
            # VariantType value with the same semantics.
            import base64
            import json as _json

            from cam_etl_spark.sources.variant_binary import (
                decode_value,
            )

            if (not isinstance(dv, dict)
                    or set(dv) != {"metadata", "value"}):
                raise ValueError(
                    "iceberg: variant initial-default must be an "
                    'object {"metadata": b64, "value": b64}, got '
                    f"{dv!r}"
                )
            obj = decode_value(base64.b64decode(dv["metadata"]),
                               base64.b64decode(dv["value"]))
            try:
                txt = _json.dumps(obj)
            except TypeError:
                # the variant codec can yield Decimal/date/timestamp/
                # bytes — types parse_json cannot re-derive; a named
                # boundary beats an anonymous TypeError
                raise ValueError(
                    "iceberg: variant initial-default of type "
                    f"{type(obj).__name__} is not JSON-representable "
                    "(null/bool/int/float/string/array/object "
                    "defaults only)"
                ) from None
            return F.parse_json(F.lit(txt))
        if (t == "geometry" or t.startswith("geometry(")
                or t == "geography" or t.startswith("geography(")):
            # Round 13: geometry/geography initial-default — WKB as a
            # hexadecimal string (the JSON convention every other
            # binary-typed single value in the spec uses), decoded to
            # the column's physical binary form with a structural
            # gate on the WKB header so a non-WKB payload stays loud.
            try:
                raw = bytes.fromhex(dv)
            except (ValueError, TypeError):
                raise ValueError(
                    f"iceberg: {t} default {dv!r} is not valid "
                    "hex-encoded WKB"
                ) from None
            if len(raw) < 5 or raw[0] not in (0, 1):
                raise ValueError(
                    f"iceberg: {t} default is not WKB (bad byte-order "
                    f"byte {raw[0] if raw else 'empty'})"
                )
            return F.lit(raw)
    if t in _DEFAULTABLE_TYPES:
        return F.lit(dv).cast(_ICEBERG_SPARK_TYPES[t])
    raise NotImplementedError(
        f"iceberg: initial-default for type {t!r} unsupported "
        "(encryption-key metadata is the remaining v3 boundary)"
    )


def _parquet_top_level_columns(path: str) -> set[str]:
    """Top-level column names of one parquet file, via the ENGINE's
    own footer parser over just the footer tail bytes. pyarrow 16's
    reader refuses footers carrying logical types it predates (e.g.
    Spark's VARIANT), and a full-file open is wasted work when only
    the schema is needed — this reads footer-length + footer."""
    from cam_etl_spark.sources.parquet_meta import parse_footer

    with open(path, "rb") as fh:
        fh.seek(0, 2)
        size = fh.tell()
        if size < 12:
            raise ValueError(f"parquet: {path} shorter than footer")
        fh.seek(size - 8)
        flen = int.from_bytes(fh.read(4), "little")
        take = min(size, flen + 8)
        fh.seek(size - take)
        schema = parse_footer(fh.read(take))["schema"]

    def skip(i: int) -> int:  # index just past the subtree at i
        n = schema[i]["num_children"] or 0
        i += 1
        for _ in range(n):
            i = skip(i)
        return i

    names, i = [], 1
    for _ in range(schema[0]["num_children"] or 0):
        names.append(schema[i]["name"])
        i = skip(i)
    return set(names)


def _default_field_presence(paths: list[str], fields: list[dict],
                            mapping: list[dict]) -> dict:
    """For v3 fields carrying ``initial-default``: which scanned
    files LACK the column (under any of its mapped names), decided
    driver-side from parquet FOOTERS — metadata-scale (schema reads
    only, and only when a defaulted field exists). Returns
    {field-id: [paths lacking it]}."""
    by_id = {m["field-id"]: m.get("names", []) for m in (mapping or [])}
    file_cols = {p: _parquet_top_level_columns(p) for p in paths}
    lacking = {}
    for f in fields:
        if "initial-default" not in f:
            continue
        names = set(by_id.get(f["id"], []) + [f["name"]])
        lacking[f["id"]] = [
            p for p, cols in file_cols.items() if not (names & cols)
        ]
    return lacking
