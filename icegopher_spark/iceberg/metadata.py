"""Table metadata: V1/V2 JSON parse, validation, serialization;
snapshots, refs (branches/tags), sort orders, snapshot log; and
apply_updates, the one place a commit changes metadata.

Reference semantics: table/metadata.go (interface 31-50, parse dispatch
70-89, preValidate 183-210/284-311, validate 212-273), table/
snapshots.go:113-121, table/refs.go:25-44, table/sorting.go:29-122.
Same JSON spec — the parse/validate behavior is ported, the code is
Python dataclasses.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field as dfield
from typing import Any

from .schema import Schema
from .transforms import PartitionSpec

MAIN_BRANCH = "main"

# snapshot summary operations (reference table/snapshots.go:32-39)
OP_APPEND = "append"
OP_REPLACE = "replace"
OP_OVERWRITE = "overwrite"
OP_DELETE = "delete"


@dataclass(frozen=True)
class SnapshotRef:
    """(reference table/refs.go:38-44)"""

    snapshot_id: int
    snapshot_ref_type: str  # "branch" | "tag"
    min_snapshots_to_keep: int | None = None
    max_snapshot_age_ms: int | None = None
    max_ref_age_ms: int | None = None

    def __post_init__(self):
        if self.snapshot_ref_type not in ("branch", "tag"):
            raise ValueError(f"invalid ref type: {self.snapshot_ref_type}")

    @classmethod
    def from_json_dict(cls, obj: dict) -> "SnapshotRef":
        return cls(
            snapshot_id=obj["snapshot-id"],
            snapshot_ref_type=obj["type"],
            min_snapshots_to_keep=obj.get("min-snapshots-to-keep"),
            max_snapshot_age_ms=obj.get("max-snapshot-age-ms"),
            max_ref_age_ms=obj.get("max-ref-age-ms"),
        )

    def to_json_dict(self) -> dict:
        out: dict[str, Any] = {"snapshot-id": self.snapshot_id, "type": self.snapshot_ref_type}
        if self.min_snapshots_to_keep is not None:
            out["min-snapshots-to-keep"] = self.min_snapshots_to_keep
        if self.max_snapshot_age_ms is not None:
            out["max-snapshot-age-ms"] = self.max_snapshot_age_ms
        if self.max_ref_age_ms is not None:
            out["max-ref-age-ms"] = self.max_ref_age_ms
        return out


@dataclass(frozen=True)
class Snapshot:
    """(reference table/snapshots.go:113-121)"""

    snapshot_id: int
    sequence_number: int = 0
    timestamp_ms: int = 0
    manifest_list: str = ""
    summary: dict[str, str] = dfield(default_factory=dict)
    parent_snapshot_id: int | None = None
    schema_id: int | None = None
    # V3 row lineage: the first _row_id assigned by this snapshot
    # (Iceberg spec v3 snapshot field `first-row-id`); None on v1/v2
    # tables and on snapshots committed before the upgrade.
    first_row_id: int | None = None
    # V3: the row ids this snapshot assigned (spec `added-rows`), so a
    # commit advances next-row-id to first_row_id + added_rows
    added_rows: int | None = None

    @property
    def operation(self) -> str | None:
        return self.summary.get("operation")

    @classmethod
    def from_json_dict(cls, obj: dict) -> "Snapshot":
        return cls(
            snapshot_id=obj["snapshot-id"],
            sequence_number=obj.get("sequence-number", 0),
            timestamp_ms=obj.get("timestamp-ms", 0),
            manifest_list=obj.get("manifest-list", ""),
            summary=obj.get("summary", {}),
            parent_snapshot_id=obj.get("parent-snapshot-id"),
            schema_id=obj.get("schema-id"),
            first_row_id=obj.get("first-row-id"),
            added_rows=obj.get("added-rows"),
        )

    def to_json_dict(self) -> dict:
        out: dict[str, Any] = {
            "snapshot-id": self.snapshot_id,
            "sequence-number": self.sequence_number,
            "timestamp-ms": self.timestamp_ms,
            "manifest-list": self.manifest_list,
            "summary": self.summary,
        }
        if self.parent_snapshot_id is not None:
            out["parent-snapshot-id"] = self.parent_snapshot_id
        if self.schema_id is not None:
            out["schema-id"] = self.schema_id
        if self.first_row_id is not None:
            out["first-row-id"] = self.first_row_id
        if self.added_rows is not None:
            out["added-rows"] = self.added_rows
        return out


@dataclass(frozen=True)
class SortField:
    """(reference table/sorting.go:48-53)"""

    source_id: int
    transform: str = "identity"
    direction: str = "asc"  # asc | desc
    null_order: str = "nulls-first"  # nulls-first | nulls-last

    @classmethod
    def from_json_dict(cls, obj: dict) -> "SortField":
        # JSON defaults: asc / nulls-first (reference sorting.go:62-77)
        return cls(
            source_id=obj["source-id"],
            transform=obj.get("transform", "identity"),
            direction=obj.get("direction", "asc"),
            null_order=obj.get("null-order", "nulls-first"),
        )

    def to_json_dict(self) -> dict:
        return {
            "source-id": self.source_id,
            "transform": self.transform,
            "direction": self.direction,
            "null-order": self.null_order,
        }


UNSORTED_ORDER_ID = 0


@dataclass(frozen=True)
class SortOrder:
    order_id: int = UNSORTED_ORDER_ID
    fields: tuple[SortField, ...] = ()

    @classmethod
    def from_json_dict(cls, obj: dict) -> "SortOrder":
        return cls(
            order_id=obj.get("order-id", UNSORTED_ORDER_ID),
            fields=tuple(SortField.from_json_dict(f) for f in obj.get("fields", ())),
        )

    def to_json_dict(self) -> dict:
        return {"order-id": self.order_id, "fields": [f.to_json_dict() for f in self.fields]}


UNSORTED = SortOrder()


class TableMetadata:
    """Parsed table metadata, V1 or V2 (format_version distinguishes).

    Validation mirrors the reference: last-updated/last-column-id
    required, current-schema-id must resolve, refs backfilled with a
    synthesized main branch when a current snapshot exists
    (metadata.go:183-311).
    """

    def __init__(self, raw: dict):
        self.raw = dict(raw)
        self.format_version: int = raw.get("format-version", 0)
        if self.format_version not in (1, 2, 3):
            raise ValueError(f"unsupported format version: {self.format_version}")
        self.table_uuid: str = raw.get("table-uuid", "")
        self.location: str = raw.get("location", "")
        self.last_updated_ms: int = raw.get("last-updated-ms", 0)
        self.last_column_id: int = raw.get("last-column-id", 0)
        self.properties: dict[str, str] = raw.get("properties", {}) or {}

        # schemas
        if "schemas" in raw:
            self.schemas = [Schema.from_json_dict(s) for s in raw["schemas"]]
            self.current_schema_id = raw.get("current-schema-id", 0)
        elif "schema" in raw:  # V1 single-schema form
            s = Schema.from_json_dict(raw["schema"])
            self.schemas = [s]
            self.current_schema_id = s.schema_id
        else:
            raise ValueError("metadata missing schema(s)")
        if not any(s.schema_id == self.current_schema_id for s in self.schemas):
            raise ValueError(
                f"current-schema-id {self.current_schema_id} not found in schemas"
            )

        # partition specs
        if "partition-specs" in raw:
            self.partition_specs = [
                PartitionSpec.from_json_dict(p) for p in raw["partition-specs"]
            ]
            self.default_spec_id = raw.get("default-spec-id", 0)
        elif "partition-spec" in raw:  # V1 flat form
            self.partition_specs = [
                PartitionSpec.from_json_dict({"spec-id": 0, "fields": raw["partition-spec"]})
            ]
            self.default_spec_id = 0
        else:
            self.partition_specs = [PartitionSpec()]
            self.default_spec_id = 0
        if not any(p.spec_id == self.default_spec_id for p in self.partition_specs):
            raise ValueError(f"default-spec-id {self.default_spec_id} not found")
        self.last_partition_id: int = raw.get("last-partition-id", 0)

        # sort orders
        self.sort_orders = [
            SortOrder.from_json_dict(o) for o in raw.get("sort-orders", [])
        ] or [UNSORTED]
        self.default_sort_order_id = raw.get("default-sort-order-id", UNSORTED_ORDER_ID)

        # snapshots: -1 sentinel means "no current snapshot" (metadata.go preValidate)
        self.snapshots = [Snapshot.from_json_dict(s) for s in raw.get("snapshots", [])]
        cur = raw.get("current-snapshot-id")
        self.current_snapshot_id: int | None = None if cur in (None, -1) else cur

        self.snapshot_log: list[dict] = raw.get("snapshot-log", [])
        self.metadata_log: list[dict] = raw.get("metadata-log", [])
        # statistics registrations (Iceberg spec): table statistics
        # (Puffin sketches) and partition statistics files, both lists
        # of {snapshot-id, path, ...} dicts keyed to a snapshot
        self.statistics: list[dict] = raw.get("statistics", [])
        self.partition_statistics: list[dict] = raw.get("partition-statistics", [])
        self.last_sequence_number: int = raw.get("last-sequence-number", 0)
        # V3 row lineage: the next _row_id available for assignment
        # (spec v3 `next-row-id`). A v3 table that omits it starts at 0;
        # None on v1/v2 so lineage code can gate on format version.
        self.next_row_id: int | None = (
            int(raw.get("next-row-id", 0)) if self.format_version >= 3 else None
        )

        # refs with main-branch backfill (reference metadata.go:284-311)
        self.refs: dict[str, SnapshotRef] = {
            name: SnapshotRef.from_json_dict(r) for name, r in raw.get("refs", {}).items()
        }
        if MAIN_BRANCH not in self.refs and self.current_snapshot_id is not None:
            self.refs[MAIN_BRANCH] = SnapshotRef(self.current_snapshot_id, "branch")
        if MAIN_BRANCH in self.refs and self.current_snapshot_id is not None:
            if self.refs[MAIN_BRANCH].snapshot_id != self.current_snapshot_id:
                raise ValueError("main branch snapshot differs from current-snapshot-id")

    # -- lookups ---------------------------------------------------------

    @property
    def current_schema(self) -> Schema:
        return self.schema_by_id(self.current_schema_id)  # type: ignore[return-value]

    def schema_by_id(self, schema_id: int) -> Schema | None:
        for s in self.schemas:
            if s.schema_id == schema_id:
                return s
        return None

    @property
    def default_spec(self) -> PartitionSpec:
        for p in self.partition_specs:
            if p.spec_id == self.default_spec_id:
                return p
        raise ValueError("no default partition spec")

    def spec_by_id(self, spec_id: int) -> PartitionSpec | None:
        for p in self.partition_specs:
            if p.spec_id == spec_id:
                return p
        return None

    @property
    def default_sort_order(self) -> SortOrder:
        for o in self.sort_orders:
            if o.order_id == self.default_sort_order_id:
                return o
        return UNSORTED

    def snapshot_by_id(self, snapshot_id: int) -> Snapshot | None:
        for s in self.snapshots:
            if s.snapshot_id == snapshot_id:
                return s
        return None

    def snapshot_by_name(self, name: str) -> Snapshot | None:
        """Resolve a branch/tag name (reference metadata.go:155-160)."""
        ref = self.refs.get(name)
        return self.snapshot_by_id(ref.snapshot_id) if ref else None

    @property
    def current_snapshot(self) -> Snapshot | None:
        if self.current_snapshot_id is None:
            return None
        return self.snapshot_by_id(self.current_snapshot_id)

    def snapshot_as_of(self, timestamp_ms: int) -> Snapshot | None:
        """Latest snapshot whose commit time ≤ timestamp (time travel)."""
        best = None
        for entry in sorted(self.snapshot_log, key=lambda e: e["timestamp-ms"]):
            if entry["timestamp-ms"] <= timestamp_ms:
                best = entry["snapshot-id"]
        if best is not None:
            snap = self.snapshot_by_id(best)
            if snap is not None:
                return snap
            # log entry for an expired snapshot (external writers may
            # not trim the log) — fall through to the direct scan
            # instead of wrongly reporting "no snapshot" (r6 review)
        cands = [s for s in self.snapshots if s.timestamp_ms <= timestamp_ms]
        return max(cands, key=lambda s: s.timestamp_ms, default=None)

    # -- serialization ---------------------------------------------------

    def to_json_dict(self) -> dict:
        out: dict[str, Any] = {
            "format-version": self.format_version,
            "table-uuid": self.table_uuid,
            "location": self.location,
            "last-updated-ms": self.last_updated_ms,
            "last-column-id": self.last_column_id,
            "schemas": [s.to_json_dict() for s in self.schemas],
            "current-schema-id": self.current_schema_id,
            "partition-specs": [p.to_json_dict() for p in self.partition_specs],
            "default-spec-id": self.default_spec_id,
            "last-partition-id": self.last_partition_id,
            "properties": self.properties,
            "sort-orders": [o.to_json_dict() for o in self.sort_orders],
            "default-sort-order-id": self.default_sort_order_id,
            "snapshots": [s.to_json_dict() for s in self.snapshots],
            "snapshot-log": self.snapshot_log,
            "metadata-log": self.metadata_log,
            **({"statistics": self.statistics} if self.statistics else {}),
            **(
                {"partition-statistics": self.partition_statistics}
                if self.partition_statistics
                else {}
            ),
            "refs": {n: r.to_json_dict() for n, r in self.refs.items()},
        }
        if self.format_version >= 2:
            out["last-sequence-number"] = self.last_sequence_number
        else:
            # v1 REQUIRES the flat 'schema' / 'partition-spec' fields;
            # a round-trip that emits only the v2-style lists produces
            # spec-invalid v1 JSON that strict readers reject (r6)
            out["schema"] = self.current_schema.to_json_dict()
            out["partition-spec"] = self.default_spec.to_json_dict().get("fields", [])
        if self.format_version >= 3:
            out["next-row-id"] = self.next_row_id or 0
        out["current-snapshot-id"] = (
            self.current_snapshot_id if self.current_snapshot_id is not None else -1
        )
        return out

    def to_json(self) -> str:
        return json.dumps(self.to_json_dict())


def parse_metadata(data: bytes | str | dict) -> TableMetadata:
    """Version-dispatching parse (reference ParseMetadataBytes,
    metadata.go:70-89)."""
    if isinstance(data, (bytes, str)):
        data = json.loads(data)
    return TableMetadata(data)


class CommitFailedError(Exception):
    """Optimistic-concurrency conflict (reference rest.go:51-52)."""


def apply_updates(
    md: TableMetadata, requirements: list[dict], updates: list[dict]
) -> TableMetadata:
    """Apply one commit, given as the Iceberg REST UpdateTableRequest's
    requirements and update actions, to ``md``; return the new
    metadata. Every metadata change goes through here: a filesystem
    table applies the list to its loaded metadata, a pointer-swap
    catalog (SQL, Hive, Glue, DynamoDB) to the metadata its pointer
    names. A failed requirement, or an added snapshot whose id or
    sequence number is already taken (a stale writer), raises
    CommitFailedError. ``last-updated-ms`` is the added snapshot's
    timestamp, else now."""
    for req in requirements:
        kind = req.get("type")
        if kind == "assert-table-uuid":
            have, want = md.table_uuid, req["uuid"]
        elif kind == "assert-ref-snapshot-id":
            ref = md.refs.get(req["ref"])
            have, want = ref.snapshot_id if ref else None, req.get("snapshot-id")
        else:
            raise ValueError(f"unsupported requirement {kind!r}")
        if have != want:
            raise CommitFailedError(f"{kind} failed: expected {want}, found {have}")

    raw = md.to_json_dict()
    added = [u["snapshot"] for u in updates if u.get("action") == "add-snapshot"]
    now = raw["last-updated-ms"] = (
        added[-1]["timestamp-ms"] if added else int(time.time() * 1000)
    )
    for upd in updates:
        action = upd.get("action")
        if action == "add-snapshot":
            snap = upd["snapshot"]
            if any(
                s["snapshot-id"] == snap["snapshot-id"] for s in raw["snapshots"]
            ) or snap["sequence-number"] <= raw.get("last-sequence-number", 0):
                raise CommitFailedError(
                    "snapshot id/sequence collision with a concurrent "
                    "commit; refresh and retry"
                )
            raw["snapshots"].append(snap)
            raw["last-sequence-number"] = snap["sequence-number"]
            if snap.get("first-row-id") is not None:
                raw["next-row-id"] = snap["first-row-id"] + snap.get("added-rows", 0)
        elif action == "set-snapshot-ref":
            name = upd["ref-name"]
            raw["refs"][name] = {
                k: v for k, v in upd.items() if k not in ("action", "ref-name")
            }
            if name == MAIN_BRANCH:
                raw["current-snapshot-id"] = upd["snapshot-id"]
                # snapshot-log tracks the main lineage only: a staged
                # branch commit is not what the table was at that time
                raw["snapshot-log"] = raw["snapshot-log"] + [
                    {"snapshot-id": upd["snapshot-id"], "timestamp-ms": now}
                ]
        elif action == "remove-snapshot-ref":
            raw["refs"].pop(upd["ref-name"], None)
        elif action == "remove-snapshots":
            gone = set(upd["snapshot-ids"])
            for key in ("snapshots", "snapshot-log"):
                raw[key] = [e for e in raw[key] if e["snapshot-id"] not in gone]
        elif action == "add-schema":
            raw["schemas"].append(upd["schema"])
            raw["last-column-id"] = max(
                raw["last-column-id"], upd.get("last-column-id", 0)
            )
        elif action == "set-current-schema":
            raw["current-schema-id"] = upd["schema-id"]
        elif action == "add-spec":
            raw["partition-specs"].append(upd["spec"])
            raw["last-partition-id"] = max(
                raw["last-partition-id"], upd.get("last-partition-id", 0)
            )
        elif action == "set-default-spec":
            raw["default-spec-id"] = upd["spec-id"]
        elif action == "add-sort-order":
            raw["sort-orders"].append(upd["sort-order"])
        elif action == "set-default-sort-order":
            raw["default-sort-order-id"] = upd["sort-order-id"]
        elif action == "upgrade-format-version":
            if upd["format-version"] < raw["format-version"]:
                raise ValueError(
                    f"cannot downgrade format version {raw['format-version']}"
                    f" -> {upd['format-version']}"
                )
            raw["format-version"] = upd["format-version"]
            if raw["format-version"] >= 3:
                raw.setdefault("next-row-id", 0)
        elif action == "set-properties":
            raw["properties"] = {**raw["properties"], **upd["updates"]}
        elif action == "remove-properties":
            raw["properties"] = {
                k: v for k, v in raw["properties"].items() if k not in upd["removals"]
            }
        elif action in ("set-statistics", "set-partition-statistics"):
            key = action[len("set-"):]
            entry = upd.get(key)
            if not entry or entry.get("snapshot-id") is None:
                # a junk entry would be persisted forever
                raise ValueError(f"{action} requires an entry with a snapshot-id")
            raw[key] = [
                e for e in raw.get(key, []) if e["snapshot-id"] != entry["snapshot-id"]
            ] + [entry]
        elif action in ("remove-statistics", "remove-partition-statistics"):
            key = action[len("remove-"):]
            raw[key] = [
                e for e in raw.get(key, []) if e["snapshot-id"] != upd["snapshot-id"]
            ]
        else:
            raise ValueError(f"unsupported update action {action!r}")
    return parse_metadata(raw)
