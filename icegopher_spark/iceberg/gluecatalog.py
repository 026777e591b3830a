"""AWS Glue Data Catalog: Iceberg tables stored as Glue tables whose
``Parameters["metadata_location"]`` points at the current metadata
JSON.

Storage convention (public: apache/iceberg iceberg-aws
GlueTableOperations / pyiceberg GlueCatalog):

* ``Parameters["table_type"] = "ICEBERG"`` and
  ``Parameters["metadata_location"]`` / ``previous_metadata_location``;
* a commit is UpdateTable carrying the **VersionId** read with the
  table — Glue's optimistic locking: a concurrent committer bumped the
  version, the update fails with ConcurrentModificationException, and
  the writer retries from a fresh read. ``SkipArchive=true`` keeps
  Glue from archiving a version per pointer swap (the iceberg-aws
  default for exactly this churn reason);
* namespaces are Glue databases (flat, like HMS).

The client is boto3 (gated behind an import-try; the sandbox bakes it
in but the engine must not hard-require it), pointed at a real AWS
endpoint in production or at the stateful JSON mock in
tests/glue_fixture.py — the same endpoint-override pattern AWS SDKs
document for local testing.

Closes the reference's CatalogGlue enum member
(table/catalog/catalog.go:40-47, declared but never implemented), the
same way hivecatalog.py closed CatalogHive.
"""

from __future__ import annotations

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


class GlueCatalog:
    def __init__(self, name: str, uri: str = "", properties: dict[str, str] | None = None):
        try:
            import boto3
        except ImportError as e:  # pragma: no cover - env without boto3
            raise CatalogError(
                "glue catalog requires boto3 (pip install boto3)"
            ) from e
        props = dict(properties or {})
        self.name = name
        self.properties = props
        self.warehouse = props.get("warehouse", "").rstrip("/")
        kwargs: dict = {"region_name": props.get("glue.region", "us-east-1")}
        endpoint = props.get("glue.endpoint") or (uri or None)
        if endpoint:
            kwargs["endpoint_url"] = endpoint
        if "glue.access-key-id" in props:
            kwargs["aws_access_key_id"] = props["glue.access-key-id"]
            kwargs["aws_secret_access_key"] = props.get("glue.secret-access-key", "")
        self._glue = boto3.client("glue", **kwargs)
        self._exc = self._glue.exceptions

    # -- identifiers -----------------------------------------------------
    def _split(self, identifier) -> tuple[str, str]:
        parts = to_identifier(identifier)
        if len(parts) < 2:
            raise CatalogError(f"identifier {identifier!r} needs namespace.table")
        return ".".join(parts[:-1]), parts[-1]

    # -- tables ----------------------------------------------------------
    def _get_table(self, identifier) -> dict:
        db, tbl = self._split(identifier)
        try:
            return self._glue.get_table(DatabaseName=db, Name=tbl)["Table"]
        except self._exc.EntityNotFoundException as e:
            raise NoSuchTableError(f"{identifier!r}: {e}") from e

    def _pointer(self, glue_table: dict, identifier) -> str:
        params = glue_table.get("Parameters") or {}
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

    def _table_input(self, tbl: str, location: str, metadata_location: str, schema) -> dict:
        from .hivecatalog import _type_to_hive

        return {
            "Name": tbl,
            "TableType": "EXTERNAL_TABLE",
            "Parameters": {
                _PARAM_TABLE_TYPE: "ICEBERG",
                _PARAM_METADATA: metadata_location,
                "EXTERNAL": "TRUE",
            },
            "StorageDescriptor": {
                "Columns": [
                    {
                        "Name": f.name,
                        "Type": _type_to_hive(f.field_type),
                        "Comment": f.doc or "",
                    }
                    for f in schema.fields
                ],
                "Location": location,
            },
        }

    def create_table(self, identifier, schema, spec=None, properties=None) -> Table:
        from .write import create_table as _create

        db, tbl = self._split(identifier)
        try:
            self._glue.get_database(Name=db)
        except self._exc.EntityNotFoundException as e:
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
                "glue catalog needs a 'warehouse' property or an explicit"
                " table 'location'"
            )
        t = _create(location, schema, spec, properties)
        try:
            self._glue.create_table(
                DatabaseName=db,
                TableInput=self._table_input(tbl, location, t.metadata_location, schema),
            )
        except self._exc.AlreadyExistsException as e:
            raise CatalogError(f"table {identifier!r} already exists") from e
        t.identifier = to_identifier(identifier)
        t.catalog = self
        return t

    def register_table(self, identifier, metadata_location: str) -> Table:
        db, tbl = self._split(identifier)
        t = Table.from_location(metadata_location)
        self._glue.create_table(
            DatabaseName=db,
            TableInput=self._table_input(
                tbl, t.metadata.location or "", metadata_location, t.schema
            ),
        )
        t.identifier = to_identifier(identifier)
        t.catalog = self
        return t

    def drop_table(self, identifier, purge: bool = False) -> None:
        db, tbl = self._split(identifier)
        try:
            self._glue.delete_table(DatabaseName=db, Name=tbl)
        except self._exc.EntityNotFoundException as e:
            raise NoSuchTableError(str(e)) from e

    def list_tables(self, namespace) -> list[tuple[str, ...]]:
        db = ".".join(to_identifier(namespace))
        names: list[str] = []
        token = None
        while True:  # Glue paginates at 100 tables
            kwargs = {"DatabaseName": db}
            if token:
                kwargs["NextToken"] = token
            out = self._glue.get_tables(**kwargs)
            names += [t["Name"] for t in out.get("TableList", [])]
            token = out.get("NextToken")
            if not token:
                break
        return [(db, n) for n in sorted(names)]

    # -- commits -----------------------------------------------------------
    def commit_table(
        self, table: Table, requirements: list[dict], updates: list[dict]
    ) -> Table:
        """CAS commit: requirements verify against the metadata the Glue
        row points at NOW; the pointer swap rides UpdateTable with the
        read VersionId, so a concurrent committer (who bumped the
        version) turns the update into ConcurrentModificationException
        — Glue's documented optimistic locking, per iceberg-aws."""
        from .sqlcatalog import apply_table_commit
        from .write import CommitFailedError

        db, tbl = self._split(table.identifier)
        cur = self._get_table(table.identifier)
        expected = self._pointer(cur, table.identifier)
        version_id = cur.get("VersionId")
        new_md, new_path = apply_table_commit(expected, requirements, updates)
        params = dict(cur.get("Parameters") or {})
        params[_PARAM_PREV_METADATA] = expected
        params[_PARAM_METADATA] = new_path
        # carry EVERY TableInput-legal field of the existing row — a
        # table created by another engine may have Description/Owner/
        # PartitionKeys etc., and an UpdateTable that omits them erases
        # them permanently (Get* returns extra server-managed fields
        # like DatabaseName/CreateTime/VersionId that TableInput
        # rejects, hence the allowlist rather than dict(cur))
        _TABLE_INPUT_FIELDS = (
            "Name",
            "Description",
            "Owner",
            "LastAccessTime",
            "LastAnalyzedTime",
            "Retention",
            "StorageDescriptor",
            "PartitionKeys",
            "ViewOriginalText",
            "ViewExpandedText",
            "TableType",
            "TargetTable",
        )
        table_input = {k: cur[k] for k in _TABLE_INPUT_FIELDS if k in cur}
        table_input["Name"] = tbl
        table_input["Parameters"] = params
        kwargs: dict = {
            "DatabaseName": db,
            "TableInput": table_input,
            "SkipArchive": True,
        }
        if version_id is not None:
            kwargs["VersionId"] = version_id
        try:
            self._glue.update_table(**kwargs)
        except self._exc.ConcurrentModificationException as e:
            raise CommitFailedError(
                f"concurrent update to {table.identifier!r}: {e}"
            ) from e
        table.metadata = new_md
        table.metadata_location = new_path
        return table

    # -- namespaces ----------------------------------------------------------
    def list_namespaces(self) -> list[tuple[str, ...]]:
        dbs: list[str] = []
        token = None
        while True:
            kwargs = {} if token is None else {"NextToken": token}
            out = self._glue.get_databases(**kwargs)
            dbs += [d["Name"] for d in out.get("DatabaseList", [])]
            token = out.get("NextToken")
            if not token:
                break
        return [tuple(n.split(".")) for n in sorted(dbs)]

    def create_namespace(self, namespace, properties=None) -> None:
        ns = ".".join(to_identifier(namespace))
        try:
            self._glue.create_database(
                DatabaseInput={
                    "Name": ns,
                    "Parameters": dict(properties or {}),
                    **(
                        {"LocationUri": f"{self.warehouse}/{ns}"}
                        if self.warehouse
                        else {}
                    ),
                }
            )
        except self._exc.AlreadyExistsException as e:
            raise NamespaceAlreadyExistsError(ns) from e

    def drop_namespace(self, namespace) -> None:
        ns = ".".join(to_identifier(namespace))
        if self.list_tables(namespace):
            raise CatalogError(f"namespace {ns!r} is not empty")
        try:
            self._glue.delete_database(Name=ns)
        except self._exc.EntityNotFoundException as e:
            raise NoSuchNamespaceError(ns) from e

    def load_namespace_properties(self, namespace) -> dict[str, str]:
        ns = ".".join(to_identifier(namespace))
        try:
            db = self._glue.get_database(Name=ns)["Database"]
        except self._exc.EntityNotFoundException as e:
            raise NoSuchNamespaceError(ns) from e
        return dict(db.get("Parameters") or {})
