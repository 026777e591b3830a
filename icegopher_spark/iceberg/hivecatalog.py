"""Hive Metastore catalog: Iceberg tables stored as HMS external
tables whose ``metadata_location`` parameter points at the current
metadata JSON.

Storage convention (public: apache/iceberg hive-metastore module,
HiveTableOperations):

* ``parameters["table_type"] = "ICEBERG"``, ``tableType =
  "EXTERNAL_TABLE"``, ``sd.location`` = the table root;
* ``parameters["metadata_location"]`` is the pointer; commits swap it
  and move the old value to ``previous_metadata_location``;
* the swap's precondition travels as the EnvironmentContext
  expected-parameter pair (HIVE-26882) so the SERVER enforces the
  compare-and-swap atomically — a client-side re-read + alter would
  race between the read and the write.

Namespaces are HMS databases (single level — HMS has no nested
databases; multi-part identifiers join all but the last part with
``.`` for the database name, matching iceberg-hive's behavior).

Closes the reference's CatalogHive enum member
(table/catalog/catalog.go:40-47, URI inference 49-62 maps thrift:// to
hive) the same way sqlcatalog.py closed CatalogSQL: the reference
declared the type and panicked on construction.

The commit handler reuses sqlcatalog.py::apply_table_commit, which
applies the update list with metadata.apply_updates (the function
filesystem commits use too), so every metadata change
(write.py::commit_metadata_update) is catalog-agnostic across
REST / SQL / Hive / static.
"""

from __future__ import annotations

import time
from urllib.parse import urlparse

from . import hms
from .catalog import (
    CatalogError,
    NamespaceAlreadyExistsError,
    NoSuchNamespaceError,
    NoSuchTableError,
    to_identifier,
)
from .table import Table

_PARAM_TABLE_TYPE = "table_type"
_PARAM_METADATA = "metadata_location"
_PARAM_PREV_METADATA = "previous_metadata_location"


def _type_to_hive(t) -> str:
    """Iceberg type → advisory Hive column type (the authoritative
    schema lives in the metadata JSON; HMS cols exist so `DESCRIBE`
    and non-Iceberg tools show something sensible — same stance as
    iceberg-hive's HiveSchemaUtil)."""
    s = str(t)
    return {
        "long": "bigint",
        "integer": "int",
        "double": "double",
        "float": "float",
        "boolean": "boolean",
        "string": "string",
        "date": "date",
        "binary": "binary",
        "uuid": "string",
        "time": "string",
    }.get(s, s if "(" in s or s.startswith(("decimal", "timestamp")) else "string")


class HiveCatalog:
    def __init__(self, name: str, uri: str, properties: dict[str, str] | None = None):
        props = dict(properties or {})
        u = urlparse(uri or props.get("uri", ""))
        if u.scheme != "thrift":
            raise CatalogError(f"hive catalog needs a thrift:// uri, got {uri!r}")
        self.name = name
        self.properties = props
        self.warehouse = props.get("warehouse", "").rstrip("/")
        self._client = hms.HMSClient(u.hostname or "127.0.0.1", u.port or 9083)

    # -- identifiers ---------------------------------------------------
    def _split(self, identifier) -> tuple[str, str]:
        parts = to_identifier(identifier)
        if len(parts) < 2:
            raise CatalogError(f"identifier {identifier!r} needs namespace.table")
        return ".".join(parts[:-1]), parts[-1]

    # -- tables --------------------------------------------------------
    def _get_table(self, identifier) -> dict:
        db, tbl = self._split(identifier)
        try:
            return self._client.call("get_table", dbname=db, tbl_name=tbl)
        except hms.NoSuchObjectException as e:
            raise NoSuchTableError(str(e)) from e

    def _pointer(self, hms_table: dict, identifier) -> str:
        params = hms_table.get("parameters") or {}
        loc = params.get(_PARAM_METADATA)
        if not loc:
            raise CatalogError(
                f"{identifier!r} is not an Iceberg table (no metadata_location;"
                f" table_type={params.get(_PARAM_TABLE_TYPE)!r})"
            )
        return loc

    def load_table(self, identifier) -> Table:
        t = Table.from_location(self._pointer(self._get_table(identifier), identifier))
        t.identifier = to_identifier(identifier)
        t.catalog = self
        return t

    def table_exists(self, identifier) -> bool:
        try:
            self._get_table(identifier)
            return True
        except NoSuchTableError:
            return False

    def _hms_table(
        self, db: str, tbl: str, location: str, metadata_location: str, schema
    ) -> dict:
        cols = [
            {
                "name": f.name,
                "type": _type_to_hive(f.field_type),
                "comment": f.doc or "",
            }
            for f in schema.fields
        ]
        return {
            "tableName": tbl,
            "dbName": db,
            "owner": "icegopher_spark",
            "createTime": int(time.time()),
            "lastAccessTime": 0,
            "retention": 0,
            "sd": {
                "cols": cols,
                "location": location,
                "inputFormat": "org.apache.hadoop.mapred.FileInputFormat",
                "outputFormat": "org.apache.hadoop.mapred.FileOutputFormat",
                "compressed": False,
                "numBuckets": 0,
                "serdeInfo": {
                    "name": tbl,
                    "serializationLib": (
                        "org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe"
                    ),
                    "parameters": {},
                },
                "bucketCols": [],
                "sortCols": [],
                "parameters": {},
            },
            "partitionKeys": [],
            "parameters": {
                _PARAM_TABLE_TYPE: "ICEBERG",
                _PARAM_METADATA: metadata_location,
                "EXTERNAL": "TRUE",
            },
            "tableType": "EXTERNAL_TABLE",
        }

    def create_table(self, identifier, schema, spec=None, properties=None) -> Table:
        from .write import create_table as _create

        db, tbl = self._split(identifier)
        try:
            self._client.call("get_database", name=db)
        except hms.NoSuchObjectException as e:
            raise NoSuchNamespaceError(db) from e
        if self.table_exists(identifier):
            raise CatalogError(f"table {identifier!r} already exists")
        properties = dict(properties) if properties else None
        location = properties.pop("location", None) if properties else None
        location = location or (
            f"{self.warehouse}/{db}/{tbl}" if self.warehouse else None
        )
        if not location:
            raise CatalogError(
                "hive catalog needs a 'warehouse' property or an explicit"
                " table 'location'"
            )
        t = _create(location, schema, spec, properties)
        try:
            self._client.call(
                "create_table",
                tbl=self._hms_table(db, tbl, location, t.metadata_location, schema),
            )
        except hms.AlreadyExistsException as e:
            raise CatalogError(f"table {identifier!r} already exists") from e
        t.identifier = to_identifier(identifier)
        t.catalog = self
        return t

    def register_table(self, identifier, metadata_location: str) -> Table:
        """Point the catalog at existing metadata (no data movement)."""
        db, tbl = self._split(identifier)
        t = Table.from_location(metadata_location)
        self._client.call(
            "create_table",
            tbl=self._hms_table(
                db, tbl, t.metadata.location or "", metadata_location, t.schema
            ),
        )
        t.identifier = to_identifier(identifier)
        t.catalog = self
        return t

    def drop_table(self, identifier, purge: bool = False) -> None:
        db, tbl = self._split(identifier)
        try:
            self._client.call("drop_table", dbname=db, name=tbl, deleteData=purge)
        except hms.NoSuchObjectException as e:
            raise NoSuchTableError(str(e)) from e

    def rename_table(self, from_identifier, to_identifier_) -> None:
        cur = self._get_table(from_identifier)
        db_to, tbl_to = self._split(to_identifier_)
        db_from, tbl_from = self._split(from_identifier)
        new = dict(cur)
        new["dbName"], new["tableName"] = db_to, tbl_to
        try:
            self._client.call(
                "alter_table_with_environment_context",
                dbname=db_from,
                tbl_name=tbl_from,
                new_tbl=new,
                environment_context={"properties": {}},
            )
        except hms.InvalidOperationException as e:
            raise CatalogError(str(e)) from e

    def list_tables(self, namespace) -> list[tuple[str, ...]]:
        db = ".".join(to_identifier(namespace))
        names = self._client.call("get_all_tables", db_name=db) or []
        return [(db, n) for n in names]

    # -- commits ---------------------------------------------------------
    def commit_table(
        self, table: Table, requirements: list[dict], updates: list[dict]
    ) -> Table:
        """CAS commit: requirements verify against the metadata the HMS
        row points at NOW; the pointer swap's precondition is enforced
        server-side via the expected-parameter EnvironmentContext, so a
        concurrent committer makes the alter fail, not silently lose."""
        from .sqlcatalog import apply_table_commit
        from .write import CommitFailedError

        db, tbl = self._split(table.identifier)
        cur = self._get_table(table.identifier)
        expected = self._pointer(cur, table.identifier)
        new_md, new_path = apply_table_commit(expected, requirements, updates)
        new = dict(cur)
        params = dict(cur.get("parameters") or {})
        params[_PARAM_PREV_METADATA] = expected
        params[_PARAM_METADATA] = new_path
        new["parameters"] = params
        try:
            self._client.call(
                "alter_table_with_environment_context",
                dbname=db,
                tbl_name=tbl,
                new_tbl=new,
                environment_context={
                    "properties": {
                        "expected_parameter_key": _PARAM_METADATA,
                        "expected_parameter_value": expected,
                        # iceberg-hive sets this so HMS doesn't recompute
                        # table stats on every pointer swap
                        "DO_NOT_UPDATE_STATS": "true",
                    }
                },
            )
        except (hms.MetaException, hms.InvalidOperationException) as e:
            raise CommitFailedError(
                f"concurrent update to {table.identifier!r}: {e}"
            ) from e
        table.metadata = new_md
        table.metadata_location = new_path
        return table

    # -- namespaces -------------------------------------------------------
    def list_namespaces(self) -> list[tuple[str, ...]]:
        return [
            tuple(n.split("."))
            for n in self._client.call("get_all_databases") or []
        ]

    def create_namespace(self, namespace, properties=None) -> None:
        ns = ".".join(to_identifier(namespace))
        try:
            self._client.call(
                "create_database",
                database={
                    "name": ns,
                    "description": "",
                    "locationUri": f"{self.warehouse}/{ns}" if self.warehouse else "",
                    "parameters": dict(properties or {}),
                },
            )
        except hms.AlreadyExistsException as e:
            raise NamespaceAlreadyExistsError(ns) from e

    def drop_namespace(self, namespace) -> None:
        ns = ".".join(to_identifier(namespace))
        try:
            self._client.call(
                "drop_database", name=ns, deleteData=False, cascade=False
            )
        except hms.NoSuchObjectException as e:
            raise NoSuchNamespaceError(ns) from e
        except hms.InvalidOperationException as e:
            raise CatalogError(str(e)) from e

    def load_namespace_properties(self, namespace) -> dict[str, str]:
        ns = ".".join(to_identifier(namespace))
        try:
            db = self._client.call("get_database", name=ns)
        except hms.NoSuchObjectException as e:
            raise NoSuchNamespaceError(ns) from e
        return dict(db.get("parameters") or {})
