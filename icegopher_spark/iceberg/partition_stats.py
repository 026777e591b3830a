"""Partition statistics files (Iceberg spec 'Partition Statistics').

`compute_partition_stats(table)` aggregates the current (or given)
snapshot's manifests into one row per (spec_id, partition tuple) —
data/position-delete/equality-delete record+file counts and byte sizes,
with the spec's field ids — writes them as a sorted parquet file under
`metadata/`, and registers it in table metadata under
`partition-statistics` (replacing any prior registration for the same
snapshot) as a metadata-only commit. `read_partition_stats` loads the
registered file for a snapshot back as a DataFrame.

Scale: the aggregation walks MANIFESTS, not data — O(files) metadata
rows on the driver, the same order of work as planning a scan. For a
table whose manifest set itself needs a cluster, the same aggregation
is expressible over `InspectTables.files` (a distributed DataFrame);
this path keeps the common case dependency-free and deterministic.

Reference: the reference CLI surfaces per-file stats
(cmd/icegopher/main.go `files`); the persisted partition-statistics
registration follows the public Iceberg spec only.
"""

from __future__ import annotations

import uuid as _uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from .manifests import DataFileContent, fetch_entries, read_manifest_list
from .table import Table, strip_file_scheme


def _unified_partition_fields(md) -> list[tuple[str, Any]]:
    """Union of partition fields across ALL specs (spec: the unified
    partition type), ordered by first appearance; (name, iceberg result
    type, partition field id). Same-named fields must agree on the
    result type."""
    out: list[tuple[str, Any, int]] = []
    seen: dict[str, Any] = {}
    for spec in md.partition_specs:
        for pf in spec.fields:
            src = md.current_schema.find_field(pf.source_id)
            if src is None:
                continue
            rt = pf.transform.result_type(src.field_type)
            if pf.name in seen:
                # value equality, not type identity: decimal(4,2) vs
                # decimal(18,6) must conflict loudly, not silently take
                # the first spec's precision (r6 review)
                if seen[pf.name] != rt:
                    raise ValueError(
                        f"partition field {pf.name!r} has conflicting result "
                        f"types across specs: {seen[pf.name]} vs {rt}"
                    )
                continue
            seen[pf.name] = rt
            out.append((pf.name, rt, pf.field_id))
    return out


def compute_partition_stats(table: Table, snapshot_id: int | None = None) -> Table:
    """Aggregate, write, and register partition statistics for the
    snapshot; returns the updated table (metadata-only commit)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql.pandas.types import to_arrow_type

    from .types import to_spark_type
    from .write import commit_metadata_update

    md = table.metadata
    snap = (
        md.snapshot_by_id(snapshot_id) if snapshot_id is not None else table.current_snapshot()
    )
    if snap is None:
        raise ValueError("table has no snapshots")

    snap_by_id = {s.snapshot_id: s for s in md.snapshots}  # O(1) lookups
    agg: dict[tuple, dict] = {}
    for m in read_manifest_list(table.io.read(snap.manifest_list)):
        for e in fetch_entries(m, table.io.read(m.manifest_path), discard_deleted=True):
            df = e.data_file
            key = (m.partition_spec_id, tuple(sorted((df.partition or {}).items())))
            row = agg.setdefault(
                key,
                {
                    "data_record_count": 0,
                    "data_file_count": 0,
                    "total_data_file_size_in_bytes": 0,
                    "position_delete_record_count": 0,
                    "position_delete_file_count": 0,
                    "equality_delete_record_count": 0,
                    "equality_delete_file_count": 0,
                    "last_updated_at": None,
                    "last_updated_snapshot_id": None,
                },
            )
            if df.content == DataFileContent.DATA:
                row["data_record_count"] += df.record_count
                row["data_file_count"] += 1
                row["total_data_file_size_in_bytes"] += df.file_size_in_bytes
            elif df.content == DataFileContent.POSITION_DELETES:
                # deletion vectors are position deletes in V3 clothing
                row["position_delete_record_count"] += df.record_count
                row["position_delete_file_count"] += 1
            elif df.content == DataFileContent.EQUALITY_DELETES:
                row["equality_delete_record_count"] += df.record_count
                row["equality_delete_file_count"] += 1
            esnap = snap_by_id.get(e.snapshot_id) if e.snapshot_id else None
            if esnap is not None and (
                row["last_updated_at"] is None or esnap.timestamp_ms > row["last_updated_at"]
            ):
                row["last_updated_at"] = esnap.timestamp_ms
                row["last_updated_snapshot_id"] = esnap.snapshot_id

    part_fields = _unified_partition_fields(md)

    def _fid(f: "pa.Field", fid: int) -> "pa.Field":
        # the spec resolves partition-stats columns BY FIELD ID — stamp
        # the standard parquet field-id metadata on every field
        return f.with_metadata({b"PARQUET:field_id": str(fid).encode()})

    # parquet cannot encode an EMPTY struct: unpartitioned tables get a
    # partition-less stats file (one row per spec, usually one total)
    part_cols = (
        [
            _fid(
                pa.field(
                    "partition",
                    pa.struct(
                        [
                            _fid(
                                pa.field(
                                    n, to_arrow_type(to_spark_type(t)), nullable=True
                                ),
                                pfid,
                            )
                            for n, t, pfid in part_fields
                        ]
                    ),
                    nullable=False,
                ),
                1,
            )
        ]
        if part_fields
        else []
    )
    # fixed spec field ids: 2 spec_id … 12 last_updated_snapshot_id
    schema = pa.schema(
        [
            *part_cols,
            _fid(pa.field("spec_id", pa.int32(), nullable=False), 2),
            _fid(pa.field("data_record_count", pa.int64(), nullable=False), 3),
            _fid(pa.field("data_file_count", pa.int32(), nullable=False), 4),
            _fid(pa.field("total_data_file_size_in_bytes", pa.int64(), nullable=False), 5),
            _fid(pa.field("position_delete_record_count", pa.int64()), 6),
            _fid(pa.field("position_delete_file_count", pa.int32()), 7),
            _fid(pa.field("equality_delete_record_count", pa.int64()), 8),
            _fid(pa.field("equality_delete_file_count", pa.int32()), 9),
            _fid(pa.field("total_record_count", pa.int64()), 10),
            _fid(pa.field("last_updated_at", pa.int64()), 11),
            _fid(pa.field("last_updated_snapshot_id", pa.int64()), 12),
        ]
    )
    # deterministic order: sort by (spec_id, partition repr)
    items = sorted(agg.items(), key=lambda kv: (kv[0][0], repr(kv[0][1])))
    names = [n for n, _t, _fid2 in part_fields]
    rows = []
    for (sid, pkey), row in items:
        pdict = dict(pkey)
        rows.append(
            {
                **(
                    {"partition": {n: pdict.get(n) for n in names}}
                    if part_fields
                    else {}
                ),
                "spec_id": sid,
                **row,
                "total_record_count": None,  # optional; engines may omit
            }
        )
    tbl = pa.Table.from_pylist(rows, schema=schema)

    loc = strip_file_scheme(table.location)
    path = f"{loc}/metadata/partition-stats-{snap.snapshot_id}-{_uuid.uuid4().hex[:12]}.parquet"
    # route through FileIO (r9 review: a direct pq.write_table(path)
    # bypassed the table's IO and only worked on local filesystems)
    buf = pa.BufferOutputStream()
    pq.write_table(tbl, buf)
    data = buf.getvalue().to_pybytes()
    table.io.write(path, data)

    entry = {
        "snapshot-id": snap.snapshot_id,
        "statistics-path": path,
        "file-size-in-bytes": len(data),
    }
    return commit_metadata_update(
        table, [{"action": "set-partition-statistics", "partition-statistics": entry}]
    )


def read_partition_stats(
    table: Table, spark: SparkSession, snapshot_id: int | None = None
) -> DataFrame:
    """The registered partition-statistics file for the snapshot (the
    current one by default) as a DataFrame; raises if none registered."""
    md = table.metadata
    snap_id = (
        snapshot_id
        if snapshot_id is not None
        else (table.current_snapshot().snapshot_id if table.current_snapshot() else None)
    )
    entry = next(
        (e for e in md.partition_statistics if e.get("snapshot-id") == snap_id), None
    )
    if entry is None:
        raise ValueError(
            f"no partition statistics registered for snapshot {snap_id}; "
            "run compute_partition_stats first"
        )
    return spark.read.parquet(strip_file_scheme(entry["statistics-path"]))
