"""Avro OCF round-trip, manifest read/write with sequence inheritance
(reference manifest_test.go fixtures' shape), and V1/V2 metadata
parse/validate (reference metadata_test.go goldens' structure)."""

import struct

import pytest

from icegopher_spark.iceberg.avro_io import read_ocf, write_ocf
from icegopher_spark.iceberg.manifests import (
    DataFile,
    FieldSummary,
    ManifestContent,
    ManifestEntry,
    ManifestEntryStatus,
    ManifestFile,
    fetch_entries,
    read_manifest_list,
    write_manifest,
    write_manifest_list,
)
from icegopher_spark.iceberg.metadata import MAIN_BRANCH, parse_metadata


def test_ocf_roundtrip_all_types():
    schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "b", "type": "boolean"},
            {"name": "i", "type": "int"},
            {"name": "l", "type": "long"},
            {"name": "f", "type": "float"},
            {"name": "d", "type": "double"},
            {"name": "s", "type": "string"},
            {"name": "by", "type": "bytes"},
            {"name": "u", "type": ["null", "long"]},
            {"name": "arr", "type": {"type": "array", "items": "int"}},
            {"name": "m", "type": {"type": "map", "values": "string"}},
        ],
    }
    rows = [
        {"b": True, "i": -123, "l": 2**40, "f": 1.5, "d": -2.75, "s": "héllo",
         "by": b"\x00\x01", "u": None, "arr": [1, 2, 3], "m": {"k": "v"}},
        {"b": False, "i": 0, "l": -(2**40), "f": 0.0, "d": 0.0, "s": "",
         "by": b"", "u": 42, "arr": [], "m": {}},
    ]
    for codec in ("null", "deflate"):
        data = write_ocf(schema, rows, codec=codec)
        got_schema, meta, got = read_ocf(data)
        assert got_schema["name"] == "t"
        assert got == rows


def test_zigzag_longs():
    import io

    from icegopher_spark.iceberg.avro_io import read_long, write_long

    for v in [0, -1, 1, 63, -64, 2**62, -(2**62), 2**63 - 1, -(2**63)]:
        buf = io.BytesIO()
        write_long(buf, v)
        buf.seek(0)
        assert read_long(buf) == v


def _lineitem_like_datafile(path: str, n: int) -> DataFile:
    return DataFile(
        file_path=path,
        record_count=n,
        file_size_in_bytes=n * 100,
        partition={"flag": "A"},
        column_sizes={1: 100, 2: 200},
        value_counts={1: n, 2: n},
        null_value_counts={1: 0, 2: 3},
        nan_value_counts={},
        lower_bounds={1: struct.pack("<q", 1)},
        upper_bounds={1: struct.pack("<q", 1000)},
        split_offsets=[4],
        sort_order_id=0,
    )


PARTITION_FIELDS = [{"name": "flag", "type": ["null", "string"], "field-id": 1000}]


def test_manifest_roundtrip_and_stats_maps():
    entries = [
        ManifestEntry(
            status=ManifestEntryStatus.ADDED,
            snapshot_id=99,
            sequence_number=7,
            file_sequence_number=7,
            data_file=_lineitem_like_datafile("/data/f1.parquet", 100),
        )
    ]
    data = write_manifest(entries, PARTITION_FIELDS, "{}", "[]")
    got = fetch_entries(
        ManifestFile(manifest_path="m", sequence_number=7, added_snapshot_id=99), data
    )
    assert len(got) == 1
    e = got[0]
    assert e.status == ManifestEntryStatus.ADDED
    assert e.data_file.value_counts == {1: 100, 2: 100}
    assert e.data_file.null_value_counts == {1: 0, 2: 3}
    assert e.data_file.lower_bounds == {1: struct.pack("<q", 1)}
    assert e.data_file.partition == {"flag": "A"}
    assert e.data_file.split_offsets == [4]


def test_sequence_inheritance():
    """Null seq inherited only for ADDED entries or manifests at seq 0;
    an EXISTING entry that cannot inherit is a hard error (reference
    manifest.go:488-494 — r5: was silently left None, which consumers
    coerced to seq 0, making every delete apply to the file)."""
    entries = [
        ManifestEntry(ManifestEntryStatus.ADDED, None, _lineitem_like_datafile("/f1", 1)),
        ManifestEntry(
            ManifestEntryStatus.EXISTING, 5, _lineitem_like_datafile("/f2", 1), sequence_number=3
        ),
    ]
    data = write_manifest(entries, PARTITION_FIELDS)
    m = ManifestFile(manifest_path="m", sequence_number=9, added_snapshot_id=42)
    got = fetch_entries(m, data)
    assert got[0].sequence_number == 9  # ADDED inherits
    assert got[0].snapshot_id == 42
    assert got[1].sequence_number == 3  # explicit value kept

    bad = [ManifestEntry(ManifestEntryStatus.EXISTING, 5, _lineitem_like_datafile("/f3", 1))]
    data = write_manifest(bad, PARTITION_FIELDS)
    with pytest.raises(ValueError, match="cannot inherit"):
        fetch_entries(m, data)

    m0 = ManifestFile(manifest_path="m", sequence_number=0, added_snapshot_id=42)
    got0 = fetch_entries(m0, data)
    assert got0[0].sequence_number == 0  # seq-0 manifest inherits everywhere


def test_discard_deleted():
    entries = [
        ManifestEntry(ManifestEntryStatus.ADDED, 1, _lineitem_like_datafile("/f1", 1)),
        ManifestEntry(ManifestEntryStatus.DELETED, 1, _lineitem_like_datafile("/f2", 1)),
    ]
    data = write_manifest(entries, PARTITION_FIELDS)
    m = ManifestFile(manifest_path="m", added_snapshot_id=1)
    assert len(fetch_entries(m, data, discard_deleted=True)) == 1
    assert len(fetch_entries(m, data, discard_deleted=False)) == 2


def test_manifest_list_roundtrip():
    manifests = [
        ManifestFile(
            manifest_path="/meta/m1.avro",
            manifest_length=1234,
            partition_spec_id=0,
            content=ManifestContent.DATA,
            sequence_number=3,
            min_sequence_number=1,
            added_snapshot_id=11,
            added_files_count=2,
            added_rows_count=200,
            partitions=[
                FieldSummary(contains_null=True, lower_bound=b"\x01", upper_bound=b"\xff")
            ],
        ),
        ManifestFile(
            manifest_path="/meta/m2.avro",
            content=ManifestContent.DELETES,
            sequence_number=4,
            added_snapshot_id=12,
        ),
    ]
    data = write_manifest_list(manifests, snapshot_id=12)
    got = read_manifest_list(data)
    assert [m.manifest_path for m in got] == ["/meta/m1.avro", "/meta/m2.avro"]
    assert got[0].partitions[0].contains_null is True
    assert got[0].partitions[0].upper_bound == b"\xff"
    assert got[1].content == ManifestContent.DELETES


# -- metadata --------------------------------------------------------------

V2_EXAMPLE = {
    "format-version": 2,
    "table-uuid": "9c12d441-03fe-4693-9a96-a0705ddf69c1",
    "location": "s3://bucket/test/location",
    "last-sequence-number": 34,
    "last-updated-ms": 1602638573590,
    "last-column-id": 3,
    "current-schema-id": 1,
    "schemas": [
        {"type": "struct", "schema-id": 0,
         "fields": [{"id": 1, "name": "x", "required": True, "type": "long"}]},
        {"type": "struct", "schema-id": 1, "identifier-field-ids": [1, 2],
         "fields": [
             {"id": 1, "name": "x", "required": True, "type": "long"},
             {"id": 2, "name": "y", "required": True, "type": "long", "doc": "comment"},
             {"id": 3, "name": "z", "required": True, "type": "long"}]},
    ],
    "default-spec-id": 0,
    "partition-specs": [{"spec-id": 0, "fields": [
        {"name": "x", "transform": "identity", "source-id": 1, "field-id": 1000}]}],
    "last-partition-id": 1000,
    "default-sort-order-id": 3,
    "sort-orders": [{"order-id": 3, "fields": [
        {"transform": "identity", "source-id": 2, "direction": "asc", "null-order": "nulls-first"},
        {"transform": "bucket[4]", "source-id": 3, "direction": "desc", "null-order": "nulls-last"}]}],
    "properties": {"commit.retry.num-retries": "1"},
    "current-snapshot-id": 3055729675574597004,
    "snapshots": [
        {"snapshot-id": 3051729675574597004, "timestamp-ms": 1515100955770,
         "sequence-number": 0, "summary": {"operation": "append"},
         "manifest-list": "s3://a/b/1.avro"},
        {"snapshot-id": 3055729675574597004, "parent-snapshot-id": 3051729675574597004,
         "timestamp-ms": 1555100955770, "sequence-number": 1,
         "summary": {"operation": "append"}, "manifest-list": "s3://a/b/2.avro",
         "schema-id": 1},
    ],
    "snapshot-log": [
        {"snapshot-id": 3051729675574597004, "timestamp-ms": 1515100955770},
        {"snapshot-id": 3055729675574597004, "timestamp-ms": 1555100955770},
    ],
    "metadata-log": [],
}


def test_v2_parse():
    md = parse_metadata(V2_EXAMPLE)
    assert md.format_version == 2
    assert md.current_schema.schema_id == 1
    assert md.current_schema.identifier_field_ids == (1, 2)
    assert md.current_snapshot.snapshot_id == 3055729675574597004
    assert md.default_sort_order.order_id == 3
    assert md.last_sequence_number == 34


def test_v2_ref_backfill():
    """Main branch synthesized from current snapshot
    (reference TestV2RefCreation, metadata_test.go:401)."""
    md = parse_metadata(V2_EXAMPLE)
    assert MAIN_BRANCH in md.refs
    assert md.refs[MAIN_BRANCH].snapshot_id == 3055729675574597004


def test_snapshot_by_name_and_as_of():
    md = parse_metadata(V2_EXAMPLE)
    assert md.snapshot_by_name("main").snapshot_id == 3055729675574597004
    assert md.snapshot_as_of(1515100955770).snapshot_id == 3051729675574597004
    assert md.snapshot_as_of(9999999999999).snapshot_id == 3055729675574597004


def test_v1_flat_schema_form():
    v1 = {
        "format-version": 1,
        "table-uuid": "x",
        "location": "/tmp/t",
        "last-updated-ms": 1,
        "last-column-id": 1,
        "schema": {"type": "struct", "schema-id": 0,
                   "fields": [{"id": 1, "name": "x", "required": True, "type": "long"}]},
        "partition-spec": [{"name": "x", "transform": "identity", "source-id": 1, "field-id": 1000}],
    }
    md = parse_metadata(v1)
    assert md.format_version == 1
    assert md.current_schema.fields[0].name == "x"
    assert md.default_spec.fields[0].name == "x"
    assert md.current_snapshot is None


def test_flat_fields_are_v1_only_and_next_row_id_v3_only():
    """v1 metadata MUST re-emit the flat schema/partition-spec fields;
    v2/v3 must NOT (spec: writers omit them from v2 on). Regression for
    an else-rebinding slip where the v3 next-row-id branch silently
    re-attached the v1 flat fields to every v2 table."""
    base = {
        "table-uuid": "x",
        "location": "/tmp/t",
        "last-updated-ms": 1,
        "last-column-id": 1,
        "schemas": [{"type": "struct", "schema-id": 0,
                     "fields": [{"id": 1, "name": "x", "required": True, "type": "long"}]}],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-spec-id": 0,
        "last-partition-id": 999,
    }
    v1 = parse_metadata({**base, "format-version": 1,
                         "schema": base["schemas"][0], "partition-spec": []})
    out1 = v1.to_json_dict()
    assert "schema" in out1 and "partition-spec" in out1
    assert "next-row-id" not in out1
    out2 = parse_metadata({**base, "format-version": 2}).to_json_dict()
    assert "schema" not in out2 and "partition-spec" not in out2
    assert "next-row-id" not in out2
    out3 = parse_metadata({**base, "format-version": 3}).to_json_dict()
    assert "schema" not in out3 and "partition-spec" not in out3
    assert out3["next-row-id"] == 0


def test_bad_format_version():
    with pytest.raises(ValueError):
        parse_metadata({"format-version": 7})


def test_missing_current_schema():
    bad = dict(V2_EXAMPLE, **{"current-schema-id": 99})
    with pytest.raises(ValueError):
        parse_metadata(bad)


def test_bad_spec_id():
    bad = dict(V2_EXAMPLE, **{"default-spec-id": 99})
    with pytest.raises(ValueError):
        parse_metadata(bad)


def test_main_ref_mismatch_rejected():
    bad = dict(V2_EXAMPLE)
    bad["refs"] = {"main": {"snapshot-id": 3051729675574597004, "type": "branch"}}
    with pytest.raises(ValueError):
        parse_metadata(bad)


def test_serialize_roundtrip():
    md = parse_metadata(V2_EXAMPLE)
    again = parse_metadata(md.to_json())
    assert again.current_snapshot_id == md.current_snapshot_id
    assert again.current_schema == md.current_schema
    assert [s.snapshot_id for s in again.snapshots] == [s.snapshot_id for s in md.snapshots]


def test_manifest_distinct_counts_roundtrip_and_schema_id_meta():
    """r6: distinct_counts (spec field 111) must survive the manifest
    round-trip (it silently vanished before), and the Avro metadata
    must carry the spec-required schema-id key."""
    from icegopher_spark.iceberg.avro_io import read_ocf

    df = _lineitem_like_datafile("/data/f2.parquet", 50)
    df.distinct_counts = {1: 40, 2: 7}
    entries = [
        ManifestEntry(
            status=ManifestEntryStatus.ADDED,
            snapshot_id=99,
            sequence_number=7,
            file_sequence_number=7,
            data_file=df,
        )
    ]
    data = write_manifest(entries, PARTITION_FIELDS, "{}", "[]", schema_id=3)
    got = fetch_entries(
        ManifestFile(manifest_path="m", sequence_number=7, added_snapshot_id=99), data
    )
    assert got[0].data_file.distinct_counts == {1: 40, 2: 7}
    _schema, meta, _rows = read_ocf(data)
    assert meta["schema-id"] == b"3"
    assert meta["partition-spec-id"] == b"0"


def test_manifest_avro_metadata_stamps_real_format_version(spark, tmp_path):
    """r8 review wave 4: V3 tables wrote format-version '2' into the
    manifest/manifest-list Avro file metadata — external readers
    dispatch V3 behaviors (first-row-id inheritance, DV entries) on
    that key."""
    import io as _io
    import json as _json

    from icegopher_spark.iceberg import write as W
    from icegopher_spark.iceberg.avro_io import MAGIC, read_bytes, read_long
    from icegopher_spark.iceberg.schema import Schema
    from icegopher_spark.iceberg.types import LongType, NestedField

    def file_meta(data: bytes) -> dict:
        buf = _io.BytesIO(data)
        assert buf.read(4) == MAGIC
        meta = {}
        while True:
            count = read_long(buf)
            if count == 0:
                break
            if count < 0:
                count = -count
                read_long(buf)
            for _ in range(count):
                k = read_bytes(buf).decode()
                meta[k] = read_bytes(buf)
        return meta

    sch = Schema((NestedField(1, "k", LongType(), True),), schema_id=0)
    for fv in (2, 3):
        loc = str(tmp_path / f"v{fv}")
        t = W.create_table(loc, sch, format_version=fv)
        t = W.append(t, spark.range(3).selectExpr("id AS k"))
        snap = t.current_snapshot()
        ml = t.io.read(snap.manifest_list)
        assert file_meta(ml)["format-version"] == str(fv).encode(), fv
        from icegopher_spark.iceberg.manifests import read_manifest_list

        m = read_manifest_list(ml)[0]
        assert file_meta(t.io.read(m.manifest_path))["format-version"] == str(fv).encode(), fv


def test_write_manifest_rejects_partial_delete_partition():
    """A PARTIAL delete-entry partition dict is the same null-encoding
    corruption as for data entries (r8 wave 4); only fully-empty
    (global) delete partitions are exempt."""
    import pytest

    from icegopher_spark.iceberg.manifests import (
        DataFile,
        DataFileContent,
        ManifestContent,
        ManifestEntry,
        ManifestEntryStatus,
        write_manifest,
    )

    pfields = [
        {"name": "a", "type": ["null", "long"], "field-id": 1000},
        {"name": "b", "type": ["null", "long"], "field-id": 1001},
    ]

    def entry(part):
        return ManifestEntry(
            status=ManifestEntryStatus.ADDED,
            snapshot_id=1,
            sequence_number=1,
            file_sequence_number=1,
            data_file=DataFile(
                file_path="/x.parquet",
                file_format="PARQUET",
                content=DataFileContent.POSITION_DELETES,
                record_count=1,
                file_size_in_bytes=1,
                partition=part,
            ),
        )

    # empty = global delete: allowed
    write_manifest([entry({})], pfields, content=ManifestContent.DELETES)
    # full: allowed
    write_manifest([entry({"a": 1, "b": 2})], pfields, content=ManifestContent.DELETES)
    # partial: refused
    with pytest.raises(ValueError, match="lacks"):
        write_manifest([entry({"a": 1})], pfields, content=ManifestContent.DELETES)


def test_avro_decode_hardening():
    """Corrupt streams fail loudly: short fixed reads, out-of-range
    union/enum indices (negative Python indexing silently picked a
    branch from the END before — r8 wave 4)."""
    import pytest

    from icegopher_spark.iceberg.avro_io import _compile

    with pytest.raises(EOFError):
        _compile({"type": "fixed", "size": 4, "name": "f"})(b"ab", 0)
    # union index -1 (zigzag byte 0x01)
    with pytest.raises(ValueError, match="out of range"):
        _compile(["null", "long"])(b"\x01\x02", 0)
    with pytest.raises(ValueError, match="out of range"):
        _compile({"type": "enum", "name": "e", "symbols": ["x", "y"]})(b"\x07", 0)
