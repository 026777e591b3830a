"""Schema evolution: add / rename / drop / promote columns as
metadata-only commits, with field-ID-based reads so files written under
ANY historical schema project correctly into the current one.

Reference parity: the reference carries the machinery (field IDs,
per-snapshot schema-id, HighestFieldID visitor schema.go:273-276) but
no evolution operations; semantics follow the Iceberg spec — identity
is the field ID, never the name, so renames are free and old files
keep reading correctly.
"""

from __future__ import annotations

from .schema import Schema
from .table import Table
from .types import (
    DoubleType,
    FloatType,
    IcebergType,
    IntegerType,
    LongType,
    NestedField,
)

# legal primitive promotions (Iceberg spec)
_PROMOTIONS = {
    (IntegerType, LongType),
    (FloatType, DoubleType),
}


class UpdateSchema:
    """Builder: ``update_schema(t).add_column(...).rename_column(...)
    .commit()``."""

    def __init__(self, table: Table) -> None:
        self.table = table
        self._fields: list[NestedField] = list(table.schema.fields)
        self._next_id = table.metadata.last_column_id

    def _alloc_id(self) -> int:
        self._next_id += 1
        return self._next_id

    def add_column(
        self,
        name: str,
        field_type: IcebergType,
        doc: str | None = None,
        required: bool = False,
        default: object = None,
    ) -> "UpdateSchema":
        """Add a column. ``default`` (V3 default values, Iceberg spec
        Appendix D) becomes BOTH the field's ``initial-default`` — what
        scans return for rows in files written before the column
        existed — and its ``write-default``; it is stored in metadata
        in the spec's JSON single-value form. A REQUIRED column can
        only be added with a default (existing rows must have a value).
        Natural Python values are accepted (datetime.date, datetime,
        Decimal, …) and normalized to the internal representation."""
        if any(f.name == name for f in self._fields):
            raise ValueError(f"column {name!r} already exists")
        if required and default is None:
            raise ValueError(
                "adding a required column needs a default value "
                "(existing rows would otherwise violate the constraint)"
            )
        initial = write = None
        if default is not None:
            if self.table.metadata.format_version < 3:
                raise ValueError(
                    "column default values require a format-version 3 table "
                    f"(this table is v{self.table.metadata.format_version})"
                )
            from datetime import date as _date
            from datetime import datetime as _datetime
            from datetime import time as _time

            from .literals import L, json_single_value
            from .types import (
                DateType,
                TimestampNsType,
                TimestampType,
                TimestampTzNsType,
                TimestampTzType,
                TimeType,
            )

            # temporal coercion is FIELD-TYPE-directed: a datetime on a
            # date column (or vice versa) must raise, not be silently
            # reinterpreted in the wrong unit (µs read as days, …)
            if isinstance(default, _datetime):
                want = (
                    (TimestampTzType, TimestampTzNsType)
                    if default.tzinfo
                    else (TimestampType, TimestampNsType)
                )
                if not isinstance(field_type, want):
                    raise ValueError(
                        f"default {default!r} is a "
                        f"{'tz-aware' if default.tzinfo else 'naive'} datetime "
                        f"but column {name!r} is {field_type}"
                    )
                default = L(default).value
                if isinstance(field_type, (TimestampNsType, TimestampTzNsType)):
                    # internal rep for ns columns is int NANOS; L() gave µs
                    default *= 1000
            elif isinstance(default, _date):
                if not isinstance(field_type, DateType):
                    raise ValueError(
                        f"default {default!r} is a date but column {name!r} is {field_type}"
                    )
                default = L(default).value
            elif isinstance(default, _time):
                if not isinstance(field_type, TimeType):
                    raise ValueError(
                        f"default {default!r} is a time but column {name!r} is {field_type}"
                    )
                default = L(default).value
            initial = write = json_single_value(field_type, default)
        self._fields.append(
            NestedField(
                self._alloc_id(),
                name,
                field_type,
                required,
                doc,
                initial_default=initial,
                write_default=write,
            )
        )
        return self

    def rename_column(self, old: str, new: str) -> "UpdateSchema":
        if not any(f.name == old for f in self._fields):
            raise ValueError(f"column {old!r} not found")
        if any(f.name == new for f in self._fields):
            raise ValueError(f"column {new!r} already exists")
        self._fields = [
            NestedField(
                f.field_id, new, f.field_type, f.required, f.doc,
                initial_default=f.initial_default, write_default=f.write_default,
            )
            if f.name == old
            else f
            for f in self._fields
        ]
        return self

    def drop_column(self, name: str) -> "UpdateSchema":
        if not any(f.name == name for f in self._fields):
            raise ValueError(f"column {name!r} not found")
        # EVERY spec in history counts, not just the current default:
        # manifests written under an older spec still resolve their
        # partition types through the source field id (r6 review)
        used = {
            pf.source_id
            for spec in self.table.metadata.partition_specs
            for pf in spec.fields
        }
        fid = next(f.field_id for f in self._fields if f.name == name)
        if fid in used:
            raise ValueError(
                f"column {name!r} is a partition source (in the current "
                "or a historical spec); cannot drop"
            )
        if fid in (self.table.metadata.current_schema.identifier_field_ids or ()):
            raise ValueError(f"column {name!r} is an identifier field; cannot drop")
        self._fields = [f for f in self._fields if f.name != name]
        return self

    def update_column_type(self, name: str, new_type: IcebergType) -> "UpdateSchema":
        for i, f in enumerate(self._fields):
            if f.name == name:
                if (type(f.field_type), type(new_type)) not in _PROMOTIONS:
                    raise ValueError(
                        f"illegal promotion {f.field_type} -> {new_type} for {name!r}"
                    )
                # defaults survive promotion: int->long / float->double
                # JSON single-value forms are identical (plain numbers)
                self._fields[i] = NestedField(
                    f.field_id, f.name, new_type, f.required, f.doc,
                    initial_default=f.initial_default, write_default=f.write_default,
                )
                return self
        raise ValueError(f"column {name!r} not found")

    def commit(self) -> Table:
        md = self.table.metadata
        new_schema_id = max(s.schema_id for s in md.schemas) + 1
        new_schema = Schema(
            tuple(self._fields),
            schema_id=new_schema_id,
            identifier_field_ids=tuple(
                i
                for i in md.current_schema.identifier_field_ids
                if any(f.field_id == i for f in self._fields)
            ),
        )
        from .write import commit_metadata_update

        return commit_metadata_update(
            self.table,
            [
                {
                    "action": "add-schema",
                    "schema": new_schema.to_json_dict(),
                    "last-column-id": max(self._next_id, md.last_column_id),
                },
                {"action": "set-current-schema", "schema-id": new_schema_id},
            ],
        )


def update_schema(table: Table) -> UpdateSchema:
    return UpdateSchema(table)


class UpdateSpec:
    """Partition spec evolution: ``update_spec(t).add_field("l_shipdate",
    "day").remove_field("flag").commit()``.

    Iceberg semantics: a NEW spec (fresh spec-id) becomes the default
    for future writes; existing data keeps its original spec and is
    planned/pruned under it (plan_files dispatches evaluators per
    manifest spec-id already). A partition field that reappears with the
    same (source column, transform) in any historical spec reuses its
    field-id, so its partition-tuple key stays stable across eras.

    The reference parses specs but cannot evolve them (partitions.go:
    179-183 returns an empty struct; no write path)."""

    def __init__(self, table: Table) -> None:
        self.table = table
        self._fields = list(table.spec.fields)
        md = table.metadata
        self._last_pid = max(
            [md.last_partition_id]
            + [f.field_id for s in md.partition_specs for f in s.fields]
        )

    def _reuse_or_alloc(self, source_id: int, transform) -> int:
        for s in self.table.metadata.partition_specs:
            for f in s.fields:
                if f.source_id == source_id and str(f.transform) == str(transform):
                    return f.field_id
        self._last_pid += 1
        return self._last_pid

    def add_field(self, source_name: str, transform: str, name: str | None = None) -> "UpdateSpec":
        from .transforms import PartitionField, parse_transform

        src = self.table.schema.find_field(source_name)
        if src is None:
            raise ValueError(f"source column {source_name!r} not found")
        tr = parse_transform(transform)
        pname = name or f"{source_name}_{transform.split('[')[0]}"
        if transform == "identity":
            pname = name or source_name
        if any(f.name == pname for f in self._fields):
            raise ValueError(f"partition field {pname!r} already exists")
        if any(f.source_id == src.field_id and str(f.transform) == str(tr) for f in self._fields):
            raise ValueError(f"duplicate partition on {source_name!r} via {transform}")
        self._fields.append(
            PartitionField(src.field_id, self._reuse_or_alloc(src.field_id, tr), pname, tr)
        )
        return self

    def remove_field(self, name: str) -> "UpdateSpec":
        if not any(f.name == name for f in self._fields):
            raise ValueError(f"partition field {name!r} not found")
        self._fields = [f for f in self._fields if f.name != name]
        return self

    def rename_field(self, old: str, new: str) -> "UpdateSpec":
        from .transforms import PartitionField

        if not any(f.name == old for f in self._fields):
            raise ValueError(f"partition field {old!r} not found")
        self._fields = [
            PartitionField(f.source_id, f.field_id, new, f.transform) if f.name == old else f
            for f in self._fields
        ]
        return self

    def commit(self) -> Table:
        from .transforms import PartitionSpec

        md = self.table.metadata
        new_spec_id = max(s.spec_id for s in md.partition_specs) + 1
        new_spec = PartitionSpec(self._fields, spec_id=new_spec_id)
        from .write import commit_metadata_update

        return commit_metadata_update(
            self.table,
            [
                {
                    "action": "add-spec",
                    "spec": new_spec.to_json_dict(),
                    "last-partition-id": max(self._last_pid, md.last_partition_id),
                },
                {"action": "set-default-spec", "spec-id": new_spec_id},
            ],
        )


def update_spec(table: Table) -> UpdateSpec:
    return UpdateSpec(table)


def upgrade_format_version(table: Table, new_version: int) -> Table:
    """Upgrade the table's format version as a metadata-only commit
    (Iceberg spec `upgrade-format-version` update action; downgrades
    are illegal).

    v2 -> v3 enables row lineage: ``next-row-id`` starts at 0 and the
    FIRST post-upgrade data commit assigns ``first-row-id`` ranges to
    every carried-over manifest (write.py ``_commit_snapshot``) — until
    then, scans ``with_lineage=True`` return null ``_row_id`` for
    pre-upgrade files rather than inventing unstable ids.
    """
    md = table.metadata
    if new_version < md.format_version:
        raise ValueError(
            f"cannot downgrade format version {md.format_version} -> {new_version}"
        )
    if new_version == md.format_version:
        return table
    if new_version not in (2, 3):
        raise ValueError(f"unsupported target format version: {new_version}")
    from .write import commit_metadata_update

    return commit_metadata_update(
        table, [{"action": "upgrade-format-version", "format-version": new_version}]
    )


def replace_sort_order(table: Table, *fields) -> Table:
    """Set a new default sort order (Iceberg's ``replaceSortOrder``) as
    a metadata-only commit. Each field is a column name or a tuple
    ``(name, direction, null_order, transform)`` with spec defaults
    (asc, nulls-first, identity); no args sets UNSORTED.

    Later writes cluster by the new order (write.py sorts within write
    tasks — tighter min/max bounds, better pruning); existing files are
    untouched until compaction/z-order rewrites them. An identical
    existing order is reused by id (the spec forbids duplicate order
    definitions under distinct ids). Reference surface:
    table/sorting.go:29-122 models sort orders; evolution is
    beyond-reference (its write path is WIP)."""
    from .metadata import SortField, SortOrder

    md = table.metadata
    schema = md.current_schema
    sfs = []
    for f in fields:
        name, direction, null_order, transform = (
            (f, "asc", None, "identity") if isinstance(f, str)
            else (tuple(f) + ("asc", None, "identity")[len(f) - 1:])
        )
        if direction not in ("asc", "desc"):
            raise ValueError(f"direction must be asc|desc, got {direction!r}")
        if null_order is None:
            # spec default: nulls-first for asc, nulls-last for desc
            null_order = "nulls-first" if direction == "asc" else "nulls-last"
        if null_order not in ("nulls-first", "nulls-last"):
            raise ValueError(f"null_order must be nulls-first|nulls-last, got {null_order!r}")
        src = schema.find_field(name)
        if src is None:
            raise ValueError(f"sort column {name!r} not in current schema")
        # validate the transform parses (raises on unknown)
        from .transforms import parse_transform

        parse_transform(transform)
        sfs.append(
            SortField(
                source_id=src.field_id,
                transform=transform,
                direction=direction,
                null_order=null_order,
            )
        )

    new_fields = tuple(sfs)
    existing = None
    for o in md.sort_orders:
        if o.fields == new_fields:
            existing = o
            break
    if existing is not None:
        if existing.order_id == md.default_sort_order_id:
            return table  # already the default — no-op, no commit
        order = existing
    else:
        next_id = max((o.order_id for o in md.sort_orders), default=0) + 1
        order = SortOrder(order_id=next_id if new_fields else 0, fields=new_fields)

    updates = []
    if existing is None:
        # also covers UNSORTED on a table created straight to a custom
        # order (order 0 never written): default-sort-order-id must
        # resolve inside sort-orders — spec-strict readers reject a
        # dangling id (r7 review)
        updates.append({"action": "add-sort-order", "sort-order": order.to_json_dict()})
    updates.append({"action": "set-default-sort-order", "sort-order-id": order.order_id})
    from .write import commit_metadata_update

    return commit_metadata_update(table, updates)
