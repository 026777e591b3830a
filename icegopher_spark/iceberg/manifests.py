"""Manifest lists, manifests, and data-file metadata: Avro schemas per
the public Iceberg spec, read with V1/V2 dispatch and sequence-number
inheritance, and writers for the commit path.

Reference semantics: manifest.go (list read 273-296, entry read
206-248, inheritance 481-495 — a null sequence number is inherited from
the manifest only for ADDED entries or when the manifest's sequence is
0 —, DataFile surface 339-445, entry/file enums 298-337).
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from dataclasses import dataclass, field as dfield
from enum import IntEnum
from typing import Any

from .avro_io import read_ocf, write_ocf

# -- enums (reference manifest.go:298-337) ---------------------------------


class ManifestContent(IntEnum):
    DATA = 0
    DELETES = 1


class ManifestEntryStatus(IntEnum):
    EXISTING = 0
    ADDED = 1
    DELETED = 2


class DataFileContent(IntEnum):
    DATA = 0
    POSITION_DELETES = 1
    EQUALITY_DELETES = 2


FORMAT_AVRO = "AVRO"
FORMAT_ORC = "ORC"
FORMAT_PARQUET = "PARQUET"
FORMAT_PUFFIN = "PUFFIN"  # deletion-vector carrier (Iceberg V3)

# Reserved column names/field ids for V3 row lineage (Iceberg spec v3):
# _row_id = data file first_row_id + row position unless the file
# materializes the column explicitly (lineage-preserving rewrites);
# _last_updated_sequence_number defaults to the file's data sequence.
ROW_ID_COL = "_row_id"
LAST_UPDATED_SEQ_COL = "_last_updated_sequence_number"
ROW_ID_FIELD_ID = 2147483540
LAST_UPDATED_SEQ_FIELD_ID = 2147483539


def has_materialized_row_ids(df: "DataFile") -> bool:
    """True when every row of the file carries a physical _row_id
    (lineage-preserving rewrites: compaction, CoW delete/update) —
    provable from metadata alone via the writer's value/null counts
    under the reserved field id. Such files neither consume from the
    table's next-row-id at commit nor receive an inherited first_row_id
    at read time; the two sites MUST agree or ranges overlap."""
    vc = df.value_counts or {}
    nvc = df.null_value_counts or {}
    return ROW_ID_FIELD_ID in vc and nvc.get(ROW_ID_FIELD_ID) == 0


# -- data structures --------------------------------------------------------


@dataclass
class FieldSummary:
    """Per-partition-field summary in a manifest-list entry
    (reference manifest.go:36-41)."""

    contains_null: bool = False
    contains_nan: bool | None = None
    lower_bound: bytes | None = None
    upper_bound: bytes | None = None


@dataclass
class ManifestFile:
    """One entry of the manifest list (reference manifest.go:43-151)."""

    manifest_path: str
    manifest_length: int = 0
    partition_spec_id: int = 0
    content: ManifestContent = ManifestContent.DATA
    sequence_number: int = 0
    min_sequence_number: int = 0
    added_snapshot_id: int = 0
    added_files_count: int = 0
    existing_files_count: int = 0
    deleted_files_count: int = 0
    added_rows_count: int = 0
    existing_rows_count: int = 0
    deleted_rows_count: int = 0
    partitions: list[FieldSummary] = dfield(default_factory=list)
    key_metadata: bytes | None = None
    # V3 row lineage (spec manifest_file field 520): the first _row_id
    # available to data files in this manifest. Assigned when the
    # manifest list is written; None on delete manifests, on v1/v2
    # tables, and on manifests not yet assigned (pre-upgrade).
    first_row_id: int | None = None

    def has_added_files(self) -> bool:
        return self.added_files_count > 0

    def has_existing_files(self) -> bool:
        return self.existing_files_count > 0


@dataclass
class DataFile:
    """Data/delete file metadata with per-column stats
    (reference manifest.go:339-445, interface 518-536). Stats maps are
    keyed by field ID; bounds are the single-value binary encoding."""

    file_path: str
    file_format: str = FORMAT_PARQUET
    content: DataFileContent = DataFileContent.DATA
    partition: dict[str, Any] = dfield(default_factory=dict)
    record_count: int = 0
    file_size_in_bytes: int = 0
    column_sizes: dict[int, int] | None = None
    value_counts: dict[int, int] | None = None
    null_value_counts: dict[int, int] | None = None
    nan_value_counts: dict[int, int] | None = None
    distinct_counts: dict[int, int] | None = None
    lower_bounds: dict[int, bytes] | None = None
    upper_bounds: dict[int, bytes] | None = None
    key_metadata: bytes | None = None
    split_offsets: list[int] | None = None
    equality_ids: list[int] | None = None
    sort_order_id: int | None = None
    # Iceberg V3 deletion-vector coordinates (fields 143-145): a DV is a
    # POSITION_DELETES entry whose file is a Puffin file; it applies to
    # exactly ONE data file and the blob is sliced by (offset, size)
    # without parsing the Puffin footer. None on non-DV entries.
    referenced_data_file: str | None = None
    content_offset: int | None = None
    content_size_in_bytes: int | None = None
    # V3 row lineage (spec data_file field 142): first _row_id of this
    # file's rows; rows get first_row_id + position. Null in freshly
    # written manifests — inherited from the manifest's first_row_id at
    # read time (``fetch_entries``) and materialized when entries are
    # copied into new manifests, so assigned ids are stable forever.
    first_row_id: int | None = None

    @property
    def is_deletion_vector(self) -> bool:
        return self.content_offset is not None


@dataclass
class ManifestEntry:
    """(reference manifest.go:447-516)"""

    status: ManifestEntryStatus
    snapshot_id: int | None
    data_file: DataFile
    sequence_number: int | None = None
    file_sequence_number: int | None = None


# -- Avro schemas (public Iceberg spec layout) ------------------------------


def _f(name: str, typ: Any, field_id: int, doc: str | None = None) -> dict:
    out: dict[str, Any] = {"name": name, "type": typ, "field-id": field_id}
    if doc:
        out["doc"] = doc
    return out


def _opt(typ: Any) -> list:
    return ["null", typ]


_I64_KV = lambda name, kid, vid: {  # noqa: E731 — map encoded as k/v array
    "type": "array",
    "items": {
        "type": "record",
        "name": name,
        "fields": [
            _f("key", "int", kid),
            _f("value", "long", vid),
        ],
    },
}

_BYTES_KV = lambda name, kid, vid: {  # noqa: E731
    "type": "array",
    "items": {
        "type": "record",
        "name": name,
        "fields": [
            _f("key", "int", kid),
            _f("value", "bytes", vid),
        ],
    },
}


FIELD_SUMMARY_SCHEMA = {
    "type": "record",
    "name": "r508",
    "fields": [
        _f("contains_null", "boolean", 509),
        _f("contains_nan", _opt("boolean"), 518),
        _f("lower_bound", _opt("bytes"), 510),
        _f("upper_bound", _opt("bytes"), 511),
    ],
}

MANIFEST_LIST_SCHEMA_V2 = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        _f("manifest_path", "string", 500),
        _f("manifest_length", "long", 501),
        _f("partition_spec_id", "int", 502),
        _f("content", "int", 517),
        _f("sequence_number", "long", 515),
        _f("min_sequence_number", "long", 516),
        _f("added_snapshot_id", "long", 503),
        _f("added_files_count", "int", 504),
        _f("existing_files_count", "int", 505),
        _f("deleted_files_count", "int", 506),
        _f("added_rows_count", "long", 512),
        _f("existing_rows_count", "long", 513),
        _f("deleted_rows_count", "long", 514),
        _f("partitions", _opt({"type": "array", "items": FIELD_SUMMARY_SCHEMA}), 507),
        _f("key_metadata", _opt("bytes"), 519),
        # V3 row lineage (spec manifest_file field 520)
        _f("first_row_id", _opt("long"), 520),
    ],
}


def data_file_schema(partition_avro_fields: list[dict]) -> dict:
    """The r2 data_file record; the partition sub-record's shape depends
    on the table's partition spec."""
    return {
        "type": "record",
        "name": "r2",
        "fields": [
            _f("content", "int", 134),
            _f("file_path", "string", 100),
            _f("file_format", "string", 101),
            _f(
                "partition",
                {"type": "record", "name": "r102", "fields": partition_avro_fields},
                102,
            ),
            _f("record_count", "long", 103),
            _f("file_size_in_bytes", "long", 104),
            _f("column_sizes", _opt(_I64_KV("k117_v118", 117, 118)), 108),
            _f("value_counts", _opt(_I64_KV("k119_v120", 119, 120)), 109),
            _f("null_value_counts", _opt(_I64_KV("k121_v122", 121, 122)), 110),
            _f("nan_value_counts", _opt(_I64_KV("k138_v139", 138, 139)), 137),
            _f("distinct_counts", _opt(_I64_KV("k123_v124", 123, 124)), 111),
            _f("lower_bounds", _opt(_BYTES_KV("k126_v127", 126, 127)), 125),
            _f("upper_bounds", _opt(_BYTES_KV("k129_v130", 129, 130)), 128),
            _f("key_metadata", _opt("bytes"), 131),
            _f("split_offsets", _opt({"type": "array", "items": "long"}), 132),
            _f("equality_ids", _opt({"type": "array", "items": "int"}), 135),
            _f("sort_order_id", _opt("int"), 140),
            # V3 deletion-vector fields; null on every non-DV entry, so
            # V2 readers of our manifests see the same leading layout
            _f("referenced_data_file", _opt("string"), 143),
            _f("content_offset", _opt("long"), 144),
            _f("content_size_in_bytes", _opt("long"), 145),
            # V3 row lineage; null unless materialized from inheritance
            _f("first_row_id", _opt("long"), 142),
        ],
    }


def manifest_entry_schema(partition_avro_fields: list[dict]) -> dict:
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            _f("status", "int", 0),
            _f("snapshot_id", _opt("long"), 1),
            _f("sequence_number", _opt("long"), 3),
            _f("file_sequence_number", _opt("long"), 4),
            _f("data_file", data_file_schema(partition_avro_fields), 2),
        ],
    }


def partition_avro_fields_for(spec, schema) -> list[dict]:
    """Avro fields of the r102 partition record for a given spec."""
    from .types import (
        BinaryType,
        BooleanType,
        DateType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        StringType,
        TimestampType,
        TimestampTzType,
        TimeType,
    )

    avro_of = {
        BooleanType: "boolean",
        IntegerType: "int",
        LongType: "long",
        FloatType: "float",
        DoubleType: "double",
        DateType: {"type": "int", "logicalType": "date"},
        TimeType: {"type": "long", "logicalType": "time-micros"},
        TimestampType: {"type": "long", "logicalType": "timestamp-micros"},
        TimestampTzType: {"type": "long", "logicalType": "timestamp-micros"},
        StringType: "string",
        BinaryType: "bytes",
    }
    ptype = spec.partition_type(schema)
    out = []
    for f in ptype.fields:
        avro_t = avro_of.get(type(f.field_type))
        if avro_t is None:
            # a silent "string" fallback wrote spec-invalid manifests
            # and string-ordered partition bounds ('9' > '10') that
            # over-pruned (r5 review) — refuse loudly instead
            raise ValueError(
                f"unsupported partition value type {f.field_type} for "
                f"field {f.name!r} in manifest encoding"
            )
        out.append(_f(f.name, _opt(avro_t), f.field_id))
    return out


# -- decode memo ------------------------------------------------------------

# The memo's cap, in decoded items. A record weighs _RECORD_ITEMS for
# its fixed fields plus one per item of its lists and maps, which are
# mostly per-column stats, so a record's weight grows with the table's
# width as its size does. Manifest entries of 1 to 100 columns take
# 200-235 B per item once decoded, keys included, so the cap holds at
# most ~56 MiB.
DECODE_MEMO_MAX_ITEMS = 250_000
_RECORD_ITEMS = 8


class _DecodeMemo:
    """Decoded OCF records keyed by the file's raw bytes, LRU-evicted by
    total weight in items (see ``_weight``).

    Manifests and manifest lists are write-once files under unique
    names, so no entry is ever stale: a rewritten, torn or corrupted
    file has different bytes, misses, and decodes (or fails) exactly as
    without the memo. Only successful decodes are inserted. The cached
    records are shared: callers must treat them as read-only and build
    their own objects from them."""

    def __init__(self, max_items: int):
        self.max_items = max_items
        self._lock = threading.Lock()
        # key -> (records, weight)
        self._records: OrderedDict[bytes, tuple[list[dict], int]] = OrderedDict()
        self._n_items = 0
        self._hits = self._misses = self._evictions = 0

    def records(self, data: bytes) -> list[dict]:
        key = bytes(data)
        with self._lock:
            held = self._records.get(key)
            if held is not None:
                self._records.move_to_end(key)
                self._hits += 1
                return held[0]
            self._misses += 1
        # decode outside the lock; two threads missing on the same file
        # both decode it and the second insert is a no-op
        _, _, records = read_ocf(key)
        weight = _weight(records)
        if weight > self.max_items:
            return records
        with self._lock:
            if key not in self._records:
                self._records[key] = (records, weight)
                self._n_items += weight
                while self._n_items > self.max_items:
                    _, (_, old) = self._records.popitem(last=False)
                    self._n_items -= old
                    self._evictions += 1
        return records

    def stats(self) -> dict[str, int]:
        with self._lock:
            return {
                "hits": self._hits,
                "misses": self._misses,
                "evictions": self._evictions,
                "files": len(self._records),
                "items": self._n_items,
            }


def _weight(records: list[dict]) -> int:
    # an empty file still costs its key, so it weighs as one record
    return sum(_RECORD_ITEMS + _items(r) for r in records) or _RECORD_ITEMS


def _items(record: dict) -> int:
    """Items in the lists and maps of a decoded record, through nested
    records but not inside list elements."""
    n = 0
    for v in record.values():
        if type(v) is list:
            n += len(v)
        elif type(v) is dict:
            n += _items(v)
    return n


_DECODE_MEMO = _DecodeMemo(DECODE_MEMO_MAX_ITEMS)


def decode_cache_stats() -> dict[str, int]:
    """Hit/miss/eviction counts of the process-wide manifest decode
    memo, plus the files it holds now and their weight in items."""
    return _DECODE_MEMO.stats()


# -- IO helpers -------------------------------------------------------------


def _to_int_map(entries: list[dict] | None) -> dict[int, Any] | None:
    if entries is None:
        return None
    return {e["key"]: e["value"] for e in entries}


def _copy_list(values: list | None) -> list | None:
    return None if values is None else list(values)


def _from_int_map(m: dict[int, Any] | None) -> list[dict] | None:
    if m is None:
        return None
    return [{"key": k, "value": v} for k, v in sorted(m.items())]


def read_manifest_list(data: bytes) -> list[ManifestFile]:
    """Decode a manifest-list Avro (V1 or V2 — missing V2 fields default,
    reference manifest.go:273-296)."""
    records = _DECODE_MEMO.records(data)
    out = []
    for r in records:
        out.append(
            ManifestFile(
                manifest_path=r["manifest_path"],
                manifest_length=r.get("manifest_length", 0),
                partition_spec_id=r.get("partition_spec_id", 0),
                content=ManifestContent(r.get("content", 0) or 0),
                sequence_number=r.get("sequence_number", 0) or 0,
                min_sequence_number=r.get("min_sequence_number", 0) or 0,
                added_snapshot_id=r.get("added_snapshot_id", 0) or 0,
                added_files_count=r.get("added_files_count", r.get("added_data_files_count", 0)) or 0,
                existing_files_count=r.get(
                    "existing_files_count", r.get("existing_data_files_count", 0)
                )
                or 0,
                deleted_files_count=r.get(
                    "deleted_files_count", r.get("deleted_data_files_count", 0)
                )
                or 0,
                added_rows_count=r.get("added_rows_count", 0) or 0,
                existing_rows_count=r.get("existing_rows_count", 0) or 0,
                deleted_rows_count=r.get("deleted_rows_count", 0) or 0,
                partitions=[
                    FieldSummary(
                        contains_null=p.get("contains_null", False),
                        contains_nan=p.get("contains_nan"),
                        lower_bound=p.get("lower_bound"),
                        upper_bound=p.get("upper_bound"),
                    )
                    for p in (r.get("partitions") or [])
                ],
                key_metadata=r.get("key_metadata"),
                first_row_id=r.get("first_row_id"),
            )
        )
    return out


def write_manifest_list(
    manifests: list[ManifestFile],
    snapshot_id: int = 0,
    sequence_number: int | None = None,
    parent_snapshot_id: int | None = None,
    format_version: int = 2,
) -> bytes:
    records = []
    for m in manifests:
        records.append(
            {
                "manifest_path": m.manifest_path,
                "manifest_length": m.manifest_length,
                "partition_spec_id": m.partition_spec_id,
                "content": int(m.content),
                "sequence_number": m.sequence_number,
                "min_sequence_number": m.min_sequence_number,
                "added_snapshot_id": m.added_snapshot_id,
                "added_files_count": m.added_files_count,
                "existing_files_count": m.existing_files_count,
                "deleted_files_count": m.deleted_files_count,
                "added_rows_count": m.added_rows_count,
                "existing_rows_count": m.existing_rows_count,
                "deleted_rows_count": m.deleted_rows_count,
                "partitions": [
                    {
                        "contains_null": p.contains_null,
                        "contains_nan": p.contains_nan,
                        "lower_bound": p.lower_bound,
                        "upper_bound": p.upper_bound,
                    }
                    for p in m.partitions
                ]
                or None,
                "key_metadata": m.key_metadata,
                "first_row_id": m.first_row_id,
            }
        )
    # v2 spec requires snapshot-id, parent-snapshot-id, sequence-number
    # and format-version in the file metadata (r5 review: the lineage
    # keys were missing, breaking metadata-only recovery tools)
    meta = {
        "snapshot-id": str(snapshot_id).encode(),
        "parent-snapshot-id": str(
            parent_snapshot_id if parent_snapshot_id is not None else "null"
        ).encode(),
        "sequence-number": str(
            sequence_number if sequence_number is not None else 0
        ).encode(),
        "format-version": str(int(format_version)).encode(),
    }
    return write_ocf(MANIFEST_LIST_SCHEMA_V2, records, metadata=meta)


def read_manifest_entries(
    data: bytes, discard_deleted: bool = False
) -> list[ManifestEntry]:
    """Decode manifest entries WITHOUT inheritance applied; see
    ``fetch_entries`` for the inherited view. Every call builds fresh
    objects, copying the mutable values of the memoized records, so
    inheritance and caller mutation never reach the memo."""
    records = _DECODE_MEMO.records(data)
    out = []
    for r in records:
        status = ManifestEntryStatus(r["status"])
        if discard_deleted and status == ManifestEntryStatus.DELETED:
            continue
        df = r["data_file"]
        out.append(
            ManifestEntry(
                status=status,
                snapshot_id=r.get("snapshot_id"),
                sequence_number=r.get("sequence_number"),
                file_sequence_number=r.get("file_sequence_number"),
                data_file=DataFile(
                    file_path=df["file_path"],
                    file_format=df.get("file_format", FORMAT_PARQUET),
                    content=DataFileContent(df.get("content", 0) or 0),
                    partition=dict(df.get("partition") or {}),
                    record_count=df.get("record_count", 0),
                    file_size_in_bytes=df.get("file_size_in_bytes", 0),
                    column_sizes=_to_int_map(df.get("column_sizes")),
                    value_counts=_to_int_map(df.get("value_counts")),
                    null_value_counts=_to_int_map(df.get("null_value_counts")),
                    nan_value_counts=_to_int_map(df.get("nan_value_counts")),
                    distinct_counts=_to_int_map(df.get("distinct_counts")),
                    lower_bounds=_to_int_map(df.get("lower_bounds")),
                    upper_bounds=_to_int_map(df.get("upper_bounds")),
                    key_metadata=df.get("key_metadata"),
                    split_offsets=_copy_list(df.get("split_offsets")),
                    equality_ids=_copy_list(df.get("equality_ids")),
                    sort_order_id=df.get("sort_order_id"),
                    referenced_data_file=df.get("referenced_data_file"),
                    content_offset=df.get("content_offset"),
                    content_size_in_bytes=df.get("content_size_in_bytes"),
                    first_row_id=df.get("first_row_id"),
                ),
            )
        )
    return out


def fetch_entries(
    manifest: ManifestFile, data: bytes, discard_deleted: bool = False
) -> list[ManifestEntry]:
    """Entries with sequence-number inheritance: a null sequence number
    is inherited from the manifest for ADDED entries, or whenever the
    manifest's sequence is 0 (reference manifest.go:481-495)."""
    entries = read_manifest_entries(data, discard_deleted)
    for e in entries:
        if e.snapshot_id is None:
            e.snapshot_id = manifest.added_snapshot_id
        if e.sequence_number is None and (
            manifest.sequence_number == 0 or e.status == ManifestEntryStatus.ADDED
        ):
            e.sequence_number = manifest.sequence_number
        if e.file_sequence_number is None and (
            manifest.sequence_number == 0 or e.status == ManifestEntryStatus.ADDED
        ):
            e.file_sequence_number = manifest.sequence_number
        if e.sequence_number is None:
            # EXISTING/DELETED in a seq>0 manifest MUST carry a number
            # (reference manifest.go:481-495 errors); treating it as 0
            # would make every delete in the table apply to this file
            # (r5 review)
            raise ValueError(
                f"manifest entry for {e.data_file.file_path} has no "
                "sequence number and cannot inherit one "
                f"(status={e.status}, manifest seq={manifest.sequence_number})"
            )
    # V3 row-lineage inheritance (spec: first-row-id assignment): a data
    # file with null first_row_id takes the manifest's first_row_id plus
    # the record counts of preceding null-id data files; explicit ids
    # (materialized when an entry was copied into a newer manifest) are
    # kept and do NOT consume from this manifest's range. DELETED
    # entries neither receive nor consume ids — read_manifest_entries
    # may have dropped them (discard_deleted), so letting them consume
    # would make the assignment depend on the read mode.
    if manifest.first_row_id is not None and manifest.content == ManifestContent.DATA:
        running = manifest.first_row_id
        for e in entries:
            df = e.data_file
            if (
                df.content == DataFileContent.DATA
                and df.first_row_id is None
                and e.status != ManifestEntryStatus.DELETED
                # fully-materialized rewrites read ids from the file
                # itself — they were skipped at consumption time too
                and not has_materialized_row_ids(df)
            ):
                df.first_row_id = running
                running += df.record_count
    return entries


def write_manifest(
    entries: list[ManifestEntry],
    partition_avro_fields: list[dict],
    schema_json: str = "",
    spec_json: str = "",
    content: ManifestContent = ManifestContent.DATA,
    spec_id: int = 0,
    schema_id: int = 0,
    format_version: int = 2,
) -> bytes:
    schema = manifest_entry_schema(partition_avro_fields)
    # an entry whose partition dict lacks the spec's fields would
    # silently encode nulls (avro record encode uses .get) — the
    # spec-evolution corruption the r5 review found. Delete files may
    # legitimately carry an EMPTY partition (global deletes); a PARTIAL
    # delete partition is the same null-encoding corruption and would
    # mis-scope partition-based delete matching (r8 review wave 4).
    pf_names = [f["name"] for f in partition_avro_fields]
    for e in entries:
        part = e.data_file.partition or {}
        if content == ManifestContent.DELETES and not part:
            continue
        missing = [n for n in pf_names if n not in part]
        if missing:
            raise ValueError(
                f"entry {e.data_file.file_path} partition {part} lacks "
                f"spec fields {missing}; write entries under their own "
                "partition spec"
            )
    records = []
    for e in entries:
        df = e.data_file
        records.append(
            {
                "status": int(e.status),
                "snapshot_id": e.snapshot_id,
                "sequence_number": e.sequence_number,
                "file_sequence_number": e.file_sequence_number,
                "data_file": {
                    "content": int(df.content),
                    "file_path": df.file_path,
                    "file_format": df.file_format,
                    "partition": df.partition,
                    "record_count": df.record_count,
                    "file_size_in_bytes": df.file_size_in_bytes,
                    "column_sizes": _from_int_map(df.column_sizes),
                    "value_counts": _from_int_map(df.value_counts),
                    "null_value_counts": _from_int_map(df.null_value_counts),
                    "nan_value_counts": _from_int_map(df.nan_value_counts),
                    "distinct_counts": _from_int_map(df.distinct_counts),
                    "lower_bounds": _from_int_map(df.lower_bounds),
                    "upper_bounds": _from_int_map(df.upper_bounds),
                    "key_metadata": df.key_metadata,
                    "split_offsets": df.split_offsets,
                    "equality_ids": df.equality_ids,
                    "sort_order_id": df.sort_order_id,
                    "referenced_data_file": df.referenced_data_file,
                    "content_offset": df.content_offset,
                    "content_size_in_bytes": df.content_size_in_bytes,
                    "first_row_id": df.first_row_id,
                },
            }
        )
    meta = {
        "schema": schema_json.encode() if schema_json else b"{}",
        # schema-id is spec-required alongside schema: external readers
        # that resolve the manifest's schema by id fail without it (r6
        # review; write_manifest_list got the analogous r5 fix)
        "schema-id": str(schema_id).encode(),
        "partition-spec": spec_json.encode() if spec_json else b"[]",
        "partition-spec-id": str(spec_id).encode(),
        "content": b"data" if content == ManifestContent.DATA else b"deletes",
        "format-version": str(int(format_version)).encode(),
    }
    return write_ocf(schema, records, metadata=meta)
