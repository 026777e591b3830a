"""Delta deletion vectors + column mapping + checkpoint fidelity.

The byte-level fixture below is composed BY HAND from the public specs
(delta.io PROTOCOL.md § Deletion Vectors; RoaringFormatSpec portable
64-bit) — struct.pack'd field by field, NOT produced by this repo's
serializer — so the reader is verified against the wire format, not
against its own inverse.
"""

from __future__ import annotations

import json
import os
import shutil
import struct
import zlib

import numpy as np
import pytest

from icegopher_spark.delta import load_delta, read_delta
from icegopher_spark.delta_dv import (
    read_dv_positions,
    write_dv_file,
    z85decode,
    z85encode,
)


# -- spec-composed bytes ------------------------------------------------------


def _spec_roaring64(positions: list[int]) -> bytes:
    """Hand-rolled portable roaring64 for SMALL position lists, straight
    from RoaringFormatSpec: u64 LE bucket count; per bucket u32 LE high
    key + 32-bit portable roaring (cookie 12346, descriptive header,
    offset header, sorted u16 array containers)."""
    by_high: dict[int, dict[int, list[int]]] = {}
    for p in sorted(positions):
        high32, low32 = p >> 32, p & 0xFFFFFFFF
        key16, low16 = low32 >> 16, low32 & 0xFFFF
        by_high.setdefault(high32, {}).setdefault(key16, []).append(low16)
    out = [struct.pack("<Q", len(by_high))]
    for high in sorted(by_high):
        containers = by_high[high]
        n = len(containers)
        out.append(struct.pack("<I", high))
        out.append(struct.pack("<II", 12346, n))
        for k in sorted(containers):
            out.append(struct.pack("<HH", k, len(containers[k]) - 1))
        base = 8 + 4 * n + 4 * n
        off = base
        for k in sorted(containers):
            out.append(struct.pack("<I", off))
            off += 2 * len(containers[k])
        for k in sorted(containers):
            out.append(struct.pack(f"<{len(containers[k])}H", *containers[k]))
    return b"".join(out)


def _spec_dv_blob(positions: list[int]) -> bytes:
    """PROTOCOL.md framing: dataSize (4 BE) | magic 0x6439D3D1 little-
    endian bytes D1 D3 39 64 | bitmap | CRC-32(magic+bitmap) (4 BE)."""
    body = bytes([0xD1, 0xD3, 0x39, 0x64]) + _spec_roaring64(positions)
    return struct.pack(">i", len(body)) + body + struct.pack(">I", zlib.crc32(body))


def test_read_dv_file_spec_composed(tmp_path):
    """On-disk 'u' DV composed byte-by-byte from the spec decodes."""
    positions = [0, 2, 5, 65536, 70000, (3 << 32) + 7]
    blob = _spec_dv_blob(positions)
    import uuid

    u = uuid.uuid4()
    table = str(tmp_path)
    with open(os.path.join(table, f"deletion_vector_{u}.bin"), "wb") as f:
        f.write(bytes([1]))  # file format version
        offset = f.tell()
        f.write(blob)
    desc = {
        "storageType": "u",
        "pathOrInlineDv": z85encode(u.bytes),
        "offset": offset,
        "sizeInBytes": len(blob) - 8,
        "cardinality": len(positions),
    }
    got = read_dv_positions(table, desc)
    assert got.tolist() == sorted(positions)


def test_read_dv_inline_spec_composed(tmp_path):
    positions = [1, 3, 9]
    body = bytes([0xD1, 0xD3, 0x39, 0x64]) + _spec_roaring64(positions)
    desc = {
        "storageType": "i",
        "pathOrInlineDv": z85encode(body),
        "sizeInBytes": len(body),
        "cardinality": 3,
    }
    assert read_dv_positions(str(tmp_path), desc).tolist() == positions


def test_dv_corruption_detected(tmp_path):
    """A flipped bit in the stored bitmap must fail the CRC, loudly."""
    desc = write_dv_file(str(tmp_path), [4, 8, 15])
    from icegopher_spark.delta_dv import dv_store_path

    p = dv_store_path(str(tmp_path), desc)
    raw = bytearray(open(p, "rb").read())
    raw[-6] ^= 0x01  # inside the vector body
    open(p, "wb").write(bytes(raw))
    with pytest.raises(ValueError):
        read_dv_positions(str(tmp_path), desc)


def test_dv_cardinality_mismatch_detected(tmp_path):
    desc = write_dv_file(str(tmp_path), [4, 8, 15])
    desc["cardinality"] = 99
    with pytest.raises(ValueError, match="cardinality"):
        read_dv_positions(str(tmp_path), desc)


def test_z85_known_vector():
    # ZeroMQ RFC 32's published test vector
    data = bytes([0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B])
    assert z85encode(data) == "HelloWorld"
    assert z85decode("HelloWorld") == data


# -- table-level behavior -----------------------------------------------------

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from icegopher_spark.session import get_spark

    return get_spark("test_delta_dv")


@pytest.fixture(scope="module")
def dv_loc():
    from icegopher_spark.delta_queries import delta_dv_fixture_path

    return delta_dv_fixture_path(SF)


def test_snapshot_carries_dv_descriptors(dv_loc):
    snap = load_delta(dv_loc)
    assert len(snap.deletion_vectors) == 2  # file_r0 (updated), file_r1
    by_name = {os.path.basename(p): d for p, d in snap.deletion_vectors.items()}
    assert by_name["file_r0.parquet"]["storageType"] == "u"
    assert by_name["file_r1.parquet"]["storageType"] == "i"


def test_dv_update_latest_bitmap_wins(dv_loc):
    """v2 replaced v1's DV on file_r0; the snapshot must carry v2's."""
    s1 = load_delta(dv_loc, version=1)
    s2 = load_delta(dv_loc, version=2)
    f0 = [p for p, _ in s1.files if p.endswith("file_r0.parquet")][0]
    assert s1.deletion_vectors[f0]["cardinality"] < s2.deletion_vectors[f0][
        "cardinality"
    ]


def test_checkpoint_carries_protocol_metadata_dvs(spark, dv_loc, tmp_path):
    """write_checkpoint must carry the replayed protocol and metaData
    VERBATIM plus live files' DVs — then survive vacuuming every JSON
    commit (r9 advice: synthesized {1,2} downgrades the protocol;
    a replaced id changes the table identity; dropped DVs resurrect
    deleted rows)."""
    from icegopher_spark.delta_write import write_checkpoint

    loc = str(tmp_path / "dvcp")
    shutil.copytree(dv_loc, loc)
    before = load_delta(loc)
    n_before = read_delta(spark, loc).count()

    write_checkpoint(loc)
    for fn in os.listdir(os.path.join(loc, "_delta_log")):
        if fn.endswith(".json") and fn.split(".")[0].isdigit():
            os.remove(os.path.join(loc, "_delta_log", fn))

    after = load_delta(loc)
    assert after.protocol == before.protocol  # reader v3 + features kept
    assert after.metadata_raw["id"] == "icegopher-delta-dv-fixture"
    assert after.configuration == before.configuration
    assert {os.path.basename(p) for p in after.deletion_vectors} == {
        os.path.basename(p) for p in before.deletion_vectors
    }
    assert read_delta(spark, loc).count() == n_before


def test_last_checkpoint_incomplete_multipart_refused(dv_loc, tmp_path):
    """_last_checkpoint names a 2-part checkpoint but only part 1 is on
    disk → refuse (silently seeding from nothing loses rows)."""
    loc = str(tmp_path / "partial")
    shutil.copytree(dv_loc, loc)
    d = os.path.join(loc, "_delta_log")
    # fabricate part 1-of-2 only (contents never read — refusal first)
    open(os.path.join(d, f"{2:020d}.checkpoint.{1:010d}.{2:010d}.parquet"), "wb")
    with open(os.path.join(d, "_last_checkpoint"), "w") as f:
        json.dump({"version": 2, "size": 5, "parts": 2}, f)
    with pytest.raises(FileNotFoundError, match="incomplete"):
        load_delta(loc)


def test_unknown_checkpoint_naming_refused(dv_loc, tmp_path):
    """uuid-named V2 checkpoints now READ; any OTHER `<v>.checkpoint.*`
    naming (future formats, compat shims) still refuses by name."""
    loc = str(tmp_path / "weirdcp")
    shutil.copytree(dv_loc, loc)
    d = os.path.join(loc, "_delta_log")
    open(os.path.join(d, f"{3:020d}.checkpoint.compat.v9.parquet"), "wb")
    with pytest.raises(NotImplementedError, match="checkpoint"):
        load_delta(loc)


def test_mislabeled_v2_checkpoint_refused(dv_loc, tmp_path):
    """A V2 checkpoint whose checkpointMetadata version disagrees with
    its filename refuses (copied/renamed checkpoint)."""
    loc = str(tmp_path / "mislabel")
    shutil.copytree(dv_loc, loc)
    d = os.path.join(loc, "_delta_log")
    fn = f"{3:020d}.checkpoint.80a083e8-7026-4e79-81be-64bd76c43a11.json"
    with open(os.path.join(d, fn), "w") as f:
        f.write(json.dumps({"checkpointMetadata": {"version": 2}}) + "\n")
    with pytest.raises(ValueError, match="mislabeled"):
        load_delta(loc)


def test_export_iceberg_to_delta_folds_mor_deletes(spark, tmp_path):
    """r9 verdict #7: exporting an Iceberg table whose snapshot carries
    MOR (positional) deletes must fold them — resurrected rows would be
    silent corruption."""
    import pyspark.sql.functions as F

    import icegopher_spark.iceberg.write as W
    from icegopher_spark.delta_write import export_iceberg_to_delta
    from icegopher_spark.iceberg import expressions as E
    from icegopher_spark.iceberg.schema import Schema
    from icegopher_spark.iceberg.types import LongType, NestedField

    schema = Schema(
        (
            NestedField(1, "k", LongType(), True),
            NestedField(2, "v", LongType(), False),
        ),
        schema_id=0,
    )
    t = W.create_table(str(tmp_path / "mor_export"), schema)
    df = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t = W.append(t, df)
    t = W.delete_where_mor(t, spark, E.equal_to("k", 10))
    t = W.delete_where_mor(t, spark, E.equal_to("k", 20))
    assert t.scan().to_df(spark).count() == 98

    out = str(tmp_path / "delta_out")
    export_iceberg_to_delta(spark, t, out)
    got = read_delta(spark, out)
    assert got.count() == 98
    assert got.filter(F.col("k").isin(10, 20)).count() == 0


def test_stream_bootstrap_applies_dv_masks(dv_loc):
    """The stream source's initial snapshot must mask DV'd rows."""
    from icegopher_spark.streaming.delta_source import _DeltaStreamReader

    r = _DeltaStreamReader({"location": dv_loc})
    start = r.initialOffset()
    end = r.latestOffset()
    parts = r.partitions(start, end)
    masked = {os.path.basename(p.path): p.mask for p in parts if p.mask}
    assert set(masked) == {"file_r0.parquet", "file_r1.parquet"}
    total = 0
    for p in parts:
        for batch in r.read(p):
            total += batch.num_rows
    snap = load_delta(dv_loc)
    import pyarrow.parquet as pq

    raw = sum(pq.ParquetFile(p).metadata.num_rows for p, _ in snap.files)
    dead = sum(
        read_dv_positions(dv_loc, d).size for d in snap.deletion_vectors.values()
    )
    assert total == raw - dead


def test_stream_tail_data_change_false_transparent(dv_loc, tmp_path):
    """r9 advice: an OPTIMIZE-style commit (dataChange=false adds +
    removes) must be invisible to an append stream — not an error, not
    duplicate rows."""
    from icegopher_spark.streaming.delta_source import _DeltaStreamReader

    loc = str(tmp_path / "optimized")
    shutil.copytree(dv_loc, loc)
    snap = load_delta(loc)
    compacted = [os.path.basename(p) for p, _ in snap.files]
    actions = [
        {
            "remove": {
                "path": p,
                "deletionTimestamp": 1_700_000_999_000,
                "dataChange": False,
            }
        }
        for p in compacted
    ] + [
        {
            "add": {
                "path": "compacted.parquet",
                "partitionValues": {},
                "size": 1,
                "modificationTime": 1_700_000_999_000,
                "dataChange": False,
            }
        }
    ]
    with open(os.path.join(loc, "_delta_log", f"{4:020d}.json"), "w") as f:
        f.write(
            "\n".join(
                [json.dumps({"commitInfo": {"timestamp": 1_700_000_999_000,
                                            "operation": "OPTIMIZE"}})]
                + [json.dumps(a) for a in actions]
            )
            + "\n"
        )
    r = _DeltaStreamReader({"location": loc, "starting-version": "4"})
    parts = r.partitions({"version": 3, "bootstrap": False},
                         {"version": 4, "bootstrap": False})
    real = [p for p in parts if p.path]
    assert real == []  # transparent: no rows emitted, no error


def test_nested_column_mapping_rename(spark, tmp_path):
    """Nested struct fields rename through the positional CAST."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    loc = str(tmp_path / "nested_cm")
    os.makedirs(os.path.join(loc, "_delta_log"))
    inner = pa.struct([("col-x", pa.int64()), ("col-y", pa.string())])
    t = pa.table(
        {
            "col-a": pa.array([1, 2], pa.int64()),
            "col-b": pa.array(
                [{"col-x": 10, "col-y": "u"}, {"col-x": 20, "col-y": "v"}],
                type=inner,
            ),
        }
    )
    pq.write_table(t, os.path.join(loc, "d0.parquet"))
    schema_string = json.dumps(
        {
            "type": "struct",
            "fields": [
                {
                    "name": "k",
                    "type": "long",
                    "nullable": True,
                    "metadata": {"delta.columnMapping.physicalName": "col-a"},
                },
                {
                    "name": "payload",
                    "type": {
                        "type": "struct",
                        "fields": [
                            {
                                "name": "x",
                                "type": "long",
                                "nullable": True,
                                "metadata": {
                                    "delta.columnMapping.physicalName": "col-x"
                                },
                            },
                            {
                                "name": "y",
                                "type": "string",
                                "nullable": True,
                                "metadata": {
                                    "delta.columnMapping.physicalName": "col-y"
                                },
                            },
                        ],
                    },
                    "nullable": True,
                    "metadata": {"delta.columnMapping.physicalName": "col-b"},
                },
            ],
        }
    )
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {
            "metaData": {
                "id": "nested-cm",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema_string,
                "partitionColumns": [],
                "configuration": {"delta.columnMapping.mode": "name"},
                "createdTime": 1,
            }
        },
        {
            "add": {
                "path": "d0.parquet",
                "partitionValues": {},
                "size": os.path.getsize(os.path.join(loc, "d0.parquet")),
                "modificationTime": 1,
                "dataChange": True,
            }
        },
    ]
    with open(os.path.join(loc, "_delta_log", f"{0:020d}.json"), "w") as f:
        f.write("\n".join(json.dumps(a) for a in actions) + "\n")

    df = read_delta(spark, loc)
    rows = {r["k"]: (r["payload"]["x"], r["payload"]["y"]) for r in df.collect()}
    assert rows == {1: (10, "u"), 2: (20, "v")}


def test_dv_plus_partition_join_compose(spark, tmp_path):
    """DV mask and partition re-attach must compose in one scan (the
    mask joins on the captured path BEFORE lineage breaks)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    loc = str(tmp_path / "dvpart")
    os.makedirs(os.path.join(loc, "_delta_log"))
    t = pa.table({"v": pa.array(list(range(10)), pa.int64())})
    pq.write_table(t, os.path.join(loc, "d0.parquet"))
    desc = write_dv_file(loc, [0, 1, 2])  # kill v=0,1,2
    schema_string = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "v", "type": "long", "nullable": True, "metadata": {}},
                {"name": "part", "type": "string", "nullable": True, "metadata": {}},
            ],
        }
    )
    actions = [
        {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["deletionVectors"],
                "writerFeatures": ["deletionVectors"],
            }
        },
        {
            "metaData": {
                "id": "dvpart",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema_string,
                "partitionColumns": ["part"],
                "configuration": {},
                "createdTime": 1,
            }
        },
        {
            "add": {
                "path": "d0.parquet",
                "partitionValues": {"part": "A"},
                "size": os.path.getsize(os.path.join(loc, "d0.parquet")),
                "modificationTime": 1,
                "dataChange": True,
                "deletionVector": desc,
            }
        },
    ]
    with open(os.path.join(loc, "_delta_log", f"{0:020d}.json"), "w") as f:
        f.write("\n".join(json.dumps(a) for a in actions) + "\n")
    got = read_delta(spark, loc).orderBy("v").collect()
    assert [r["v"] for r in got] == [3, 4, 5, 6, 7, 8, 9]
    assert {r["part"] for r in got} == {"A"}


def test_delete_where_delta_partitioned_and_cdf(spark, tmp_path):
    """Writer-DV loop on a PARTITIONED table: predicate on data +
    partition columns, repeated delete unions bitmaps, CDF shows the
    row-accurate diffs, checkpoint carries the final DVs."""
    import pyspark.sql.functions as F

    from icegopher_spark.delta import read_changes
    from icegopher_spark.delta_write import (
        append_delta,
        create_delta_table,
        delete_where_delta,
        write_checkpoint,
    )

    loc = str(tmp_path / "t")
    df = spark.range(0, 40).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).cast("string").alias("side"),
    )
    create_delta_table(
        loc, df.schema, ["side"],
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    append_delta(spark, loc, df)

    v1 = delete_where_delta(spark, loc, (F.col("k") % 5 == 0) & (F.col("side") == "0"))
    # k%5==0 AND k even: 0,10,20,30
    assert read_delta(spark, loc).count() == 36

    v2 = delete_where_delta(spark, loc, F.col("k") < 12)
    # newly dead: 1..11 except 0,10 already dead → 10 more
    assert read_delta(spark, loc).count() == 26

    # second delete on the same files must not resurrect the first
    got = {r["k"] for r in read_delta(spark, loc).collect()}
    assert got == {k for k in range(40) if k >= 12 and not (k % 5 == 0 and k % 2 == 0)}

    # CDF: v2's diff is exactly the 10 newly-dead keys
    ch = read_changes(spark, loc, v2, v2)
    assert {r["k"] for r in ch.collect()} == {
        k for k in range(12) if not (k % 5 == 0 and k % 2 == 0)
    }
    assert {r["_change_type"] for r in ch.collect()} == {"delete"}

    # protocol upgraded exactly once, checkpoint survives JSON vacuum
    snap = load_delta(loc)
    assert snap.protocol["minReaderVersion"] == 3
    assert "deletionVectors" in snap.protocol["readerFeatures"]
    write_checkpoint(loc)
    for fn in os.listdir(os.path.join(loc, "_delta_log")):
        if fn.endswith(".json") and fn.split(".")[0].isdigit():
            os.remove(os.path.join(loc, "_delta_log", fn))
    assert read_delta(spark, loc).count() == 26


def test_delete_where_delta_no_match_no_commit(spark, tmp_path):
    import pyspark.sql.functions as F

    from icegopher_spark.delta_write import (
        append_delta,
        create_delta_table,
        delete_where_delta,
    )

    loc = str(tmp_path / "t")
    df = spark.range(0, 10).select(F.col("id").alias("k"))
    create_delta_table(loc, df.schema)
    v_append = append_delta(spark, loc, df)
    v = delete_where_delta(spark, loc, F.col("k") > 100)
    assert v == v_append  # no-op: no new version
    assert read_delta(spark, loc).count() == 10


def test_vacuum_tracks_dv_bins(spark, tmp_path):
    """A superseded DV .bin is vacuumable; the LIVE one never is —
    deleting a live DV would resurrect its dead rows."""
    import pyspark.sql.functions as F

    from icegopher_spark.delta import load_delta, vacuum_candidates
    from icegopher_spark.delta_dv import dv_store_path
    from icegopher_spark.delta_write import (
        append_delta,
        create_delta_table,
        delete_where_delta,
    )

    loc = str(tmp_path / "t")
    df = spark.range(0, 50).select(F.col("id").alias("k")).coalesce(1)
    create_delta_table(loc, df.schema)
    append_delta(spark, loc, df)
    delete_where_delta(spark, loc, F.col("k") % 5 == 0)
    first_dv = dv_store_path(loc, next(iter(load_delta(loc).deletion_vectors.values())))
    delete_where_delta(spark, loc, F.col("k") % 7 == 0)  # supersedes
    live_dv = dv_store_path(loc, next(iter(load_delta(loc).deletion_vectors.values())))
    assert first_dv != live_dv

    cands = set(vacuum_candidates(loc, retention_ms=0, now_ms=int(2e15)))
    assert first_dv in cands
    assert live_dv not in cands


def test_same_commit_action_order_is_last_wins(spark, tmp_path):
    """Within one commit, file actions reconcile IN ORDER (delta-spark
    InMemoryLogReplay): remove-then-add leaves the path live with the
    add's state (the DV-swap convention); add-then-remove tombstones
    it.  An r10 review pass proposed order-independent removes-first
    semantics; the log fuzz suite refuted it — this pins the real rule."""
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    def build(loc, v1_actions):
        os.makedirs(os.path.join(loc, "_delta_log"))
        pq.write_table(
            pa.table({"v": pa.array(range(5), pa.int64())}),
            os.path.join(loc, "d0.parquet"),
        )
        schema_string = _json.dumps(
            {"type": "struct",
             "fields": [{"name": "v", "type": "long", "nullable": True,
                         "metadata": {}}]}
        )
        v0 = [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": {"id": "t", "format": {"provider": "parquet",
                                                "options": {}},
                          "schemaString": schema_string,
                          "partitionColumns": [], "configuration": {},
                          "createdTime": 1}},
            {"add": {"path": "d0.parquet", "partitionValues": {}, "size": 1,
                     "modificationTime": 1, "dataChange": True}},
        ]
        for v, actions in ((0, v0), (1, v1_actions)):
            with open(os.path.join(loc, "_delta_log", f"{v:020d}.json"), "w") as f:
                f.write("\n".join(_json.dumps(a) for a in actions) + "\n")
        return loc

    add = {"add": {"path": "d0.parquet", "partitionValues": {}, "size": 1,
                   "modificationTime": 2, "dataChange": True}}
    rm = {"remove": {"path": "d0.parquet", "deletionTimestamp": 2,
                     "dataChange": True}}

    live = build(str(tmp_path / "rm_then_add"), [rm, add])
    assert len(load_delta(live).files) == 1  # add wins (DV-swap shape)

    gone = build(str(tmp_path / "add_then_rm"), [add, rm])
    assert load_delta(gone).files == []  # remove wins (last action)

def test_dv_upgrade_preserves_legacy_implied_features(spark, tmp_path):
    """delete_where_delta on a reader-2 column-mapped table must carry
    columnMapping (and the writer-version implied set) into the
    upgraded feature vector — a bare [deletionVectors] protocol makes
    other engines misread physical names as logical (r10 review #1)."""
    from pyspark.sql import functions as F

    from icegopher_spark.delta import load_delta, read_delta
    from icegopher_spark.delta_write import (
        append_delta,
        create_delta_table,
        delete_where_delta,
    )

    loc = str(tmp_path / "t")
    df = spark.range(0, 20).select(F.col("id").alias("k"))
    create_delta_table(loc, df.schema, column_mapping=True)
    append_delta(spark, loc, df)
    delete_where_delta(spark, loc, F.col("k") % 4 == 0)

    proto = load_delta(loc).protocol
    assert proto["minReaderVersion"] == 3
    assert "columnMapping" in proto["readerFeatures"]
    assert "deletionVectors" in proto["readerFeatures"]
    assert {"columnMapping", "deletionVectors", "appendOnly",
            "invariants", "checkConstraints"} <= set(proto["writerFeatures"])
    # and the table still reads + writes after the upgrade
    assert read_delta(spark, loc).count() == 15
    append_delta(spark, loc, spark.createDataFrame([(100,)], "k long"))
    assert read_delta(spark, loc).count() == 16


def test_dv_positions_never_decoded_on_driver(spark, dv_loc, monkeypatch):
    """r10 verdict scale-killer: the batch read ships DV decode SPECS
    to executors and decodes roaring bitmaps there — positions must
    never originate in the driver process.  PySpark python workers are
    separate processes that import `delta_dv` fresh, so poisoning the
    DRIVER's module breaks the scan only if decode happens driver-side."""
    import pyarrow.parquet as pq

    import icegopher_spark.delta_dv as dv_mod

    snap = load_delta(dv_loc)
    raw = sum(pq.ParquetFile(p).metadata.num_rows for p, _ in snap.files)
    dead = sum(int(d["cardinality"]) for d in snap.deletion_vectors.values())

    def _boom(*a, **k):
        raise AssertionError("deletion vector decoded on the driver")

    monkeypatch.setattr(dv_mod, "decode_dv_spec", _boom)
    monkeypatch.setattr(dv_mod, "decode_mask_payload", _boom)
    monkeypatch.setattr(dv_mod, "read_dv_positions", _boom)

    assert read_delta(spark, dv_loc).count() == raw - dead

    # CDF attribution (incl. the DV-diff delete path) is spec-only on
    # the driver too
    from icegopher_spark.delta import read_changes

    changes = read_changes(spark, dv_loc, 1)
    assert changes.filter(changes._change_type == "delete").count() == dead


def test_stream_and_dsv2_partitions_carry_specs_not_positions(dv_loc):
    """The DataSource faces serialize DV decode specs into their
    partitions (executor decode), not materialized position lists."""
    from icegopher_spark.streaming.delta_source import _DeltaStreamReader

    r = _DeltaStreamReader({"location": dv_loc})
    parts = r.partitions(r.initialOffset(), r.latestOffset())
    masked = [p for p in parts if p.mask]
    assert masked
    for p in masked:
        assert isinstance(p.mask[1], dict) and "dv" in p.mask[1]

    from icegopher_spark.delta_dsv2 import _DeltaBatchReader

    br = _DeltaBatchReader({"location": dv_loc})
    bparts = [p for p in br.partitions() if p.mask]
    assert bparts
    for p in bparts:
        assert isinstance(p.mask[1], dict) and "dv" in p.mask[1]


# -- V2 (uuid-named, sidecar) checkpoints -------------------------------------

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def v2cp_loc():
    from icegopher_spark.delta_queries import delta_v2cp_fixture_path

    return delta_v2cp_fixture_path(SF_DIR)


def test_v2_checkpoint_seeds_replay_without_json(spark, v2cp_loc):
    """Pre-checkpoint JSON is vacuumed in the fixture: versions <= 1
    reconstruct purely from the V2 checkpoint + sidecar."""
    snap = load_delta(v2cp_loc)
    assert snap.version == 2
    # v1 is checkpoint-only (its JSON is gone)
    snap1 = load_delta(v2cp_loc, version=1)
    names = {os.path.basename(p) for p, _ in snap1.files}
    assert "part-00000-5.parquet" not in names  # the removed 5-LOW file
    assert len(names) == 9  # 2 commits x 5 priorities - 1 remove
    # the remove rode the sidecar as a tombstone
    assert any(t["path"] == "part-00000-5.parquet" for t in snap1.tombstones)


def test_v2_checkpoint_json_file_not_a_commit(v2cp_loc, tmp_path):
    """A uuid-named V2 checkpoint written as JSON must not be listed as
    a JSON commit (both end in .json)."""
    loc = str(tmp_path / "v2json")
    shutil.copytree(v2cp_loc, loc)
    d = os.path.join(loc, "_delta_log")
    # drop a json-flavored v2 checkpoint at an absurd future version;
    # if the lister mistook it for a commit, latest would jump to 99
    fn = f"{99:020d}.checkpoint.80a083e8-7026-4e79-81be-64bd76c43a11.json"
    with open(os.path.join(d, fn), "w") as f:
        f.write(json.dumps({"checkpointMetadata": {"version": 99}}) + "\n")
    from icegopher_spark.delta import _list_log
    from icegopher_spark.iceberg.io import load_io

    commits, checkpoints = _list_log(load_io(loc), loc)
    assert 99 not in commits
    assert 99 in checkpoints


def test_v2_checkpoint_missing_sidecar_refused(v2cp_loc, tmp_path):
    loc = str(tmp_path / "nosidecar")
    shutil.copytree(v2cp_loc, loc)
    sc_dir = os.path.join(loc, "_delta_log", "_sidecars")
    for fn in os.listdir(sc_dir):
        os.remove(os.path.join(sc_dir, fn))
    with pytest.raises(FileNotFoundError, match="sidecar"):
        load_delta(loc)


def test_v2_checkpoint_read_values(spark, v2cp_loc):
    got = read_delta(spark, v2cp_loc)
    import duckdb

    con = duckdb.connect()
    expect = con.execute(
        f"""
        SELECT COUNT(*) FROM '{SF_DIR}/orders.parquet'
        WHERE NOT (o_orderkey % 3 = 0 AND o_orderpriority = '5-LOW')
        """
    ).fetchone()[0]
    con.close()
    assert got.count() == expect


def test_row_tracking_checkpoint_carry_and_refusals(spark, tmp_path):
    """Row-tracking fields survive OUR checkpoint (verbatim carry —
    dropping baseRowId destroys every stable id once the JSON is
    vacuumed); with_row_ids refuses materialized-id tables and
    non-tracked tables."""
    from icegopher_spark.delta_queries import delta_rowtracking_fixture_path
    from icegopher_spark.delta_write import write_checkpoint

    loc = str(tmp_path / "rt")
    shutil.copytree(delta_rowtracking_fixture_path(SF), loc)
    before = read_delta(spark, loc, with_row_ids=True)
    ids_before = {r["o_orderkey"]: r["_row_id"] for r in before.collect()}

    cp = write_checkpoint(loc)
    for v in range(cp + 1):
        p = os.path.join(loc, "_delta_log", f"{v:020d}.json")
        if os.path.exists(p):
            os.remove(p)
    snap = load_delta(loc)
    assert all(
        rt.get("baseRowId") is not None for rt in snap.row_tracking.values()
    ) and snap.row_tracking
    ids_after = {
        r["o_orderkey"]: r["_row_id"]
        for r in read_delta(spark, loc, with_row_ids=True).collect()
    }
    assert ids_after == ids_before
    # the row-tracking high-water-mark domain survived too
    assert "delta.rowTracking" in snap.domain_metadata

    # refusal: materialized row-id column configured (hand-written
    # metaData commit — OUR writer refuses rowTracking tables outright,
    # it cannot assign fresh baseRowIds)
    import json as _json

    meta = dict(snap.metadata_raw)
    meta["configuration"] = {
        **dict(meta.get("configuration") or {}),
        "delta.rowTracking.materializedRowIdColumnName": "_hidden_id",
    }
    with open(
        os.path.join(loc, "_delta_log", f"{cp + 1:020d}.json"), "w"
    ) as f:
        f.write(_json.dumps({"metaData": meta}) + "\n")
    with pytest.raises(NotImplementedError, match="materialized row-id"):
        read_delta(spark, loc, with_row_ids=True)

    # refusal: a table without baseRowIds
    plain = str(tmp_path / "plain")
    from icegopher_spark.delta_write import append_delta, create_delta_table

    df = spark.createDataFrame([(1, "a")], "k long, v string")
    create_delta_table(plain, df.schema)
    append_delta(spark, plain, df)
    with pytest.raises(ValueError, match="baseRowId"):
        read_delta(spark, plain, with_row_ids=True)

