"""SQL-backed Iceberg catalog over stdlib sqlite3.

Implements the Iceberg *JDBC catalog* storage model (public spec /
iceberg-core JdbcCatalog, mirrored by pyiceberg's SqlCatalog): two
relational tables —

    iceberg_tables(catalog_name, table_namespace, table_name,
                   metadata_location, previous_metadata_location)
    iceberg_namespace_properties(catalog_name, namespace,
                                 property_key, property_value)

— where a table IS its current metadata-file pointer, and a commit is a
compare-and-swap on that pointer:

    UPDATE iceberg_tables SET metadata_location = :new
     WHERE ... AND metadata_location = :expected

Zero rows updated ⇒ a concurrent writer won ⇒ CommitFailedError (the
reference enumerates exactly this failure mode for its planned
catalogs, table/catalog/catalog.go:30-38 ErrCommitFailed — it only
implemented REST, rest.go; this closes the 'sql' member of its
CatalogType enum, table/catalog/catalog.go:16-24).

The commit handler speaks the same (requirements, updates) protocol as
the REST catalog, so every metadata change (write.py::
commit_metadata_update) is catalog-agnostic. apply_table_commit, below
and shared with the Hive, Glue and DynamoDB catalogs, checks the
requirements against the LATEST metadata read from the DB row (not the
writer's possibly-stale view), applies the updates with
metadata.apply_updates (the function filesystem tables use too), writes
the new metadata JSON to the warehouse, and the pointer CAS-swaps.

Scale posture: the catalog stores POINTERS only — metadata JSON, Avro
manifests and parquet all live in the warehouse (object store at
scale). The DB sees one tiny row-update per commit regardless of data
volume, which is why the same design carries production JDBC catalogs
to 100 TB+ tables.
"""

from __future__ import annotations

import os
import sqlite3
import uuid
from urllib.parse import urlparse

from .catalog import (
    CatalogError,
    NamespaceAlreadyExistsError,
    NoSuchNamespaceError,
    NoSuchTableError,
    to_identifier,
)
from .metadata import TableMetadata, apply_updates
from .table import Table

_EXISTS_KEY = "exists"  # marker row so empty namespaces persist (JDBC catalog convention)


def apply_table_commit(
    expected: str, requirements: list[dict], updates: list[dict]
) -> tuple[TableMetadata, str]:
    """One commit for the pointer-swap catalogs (SQL, Hive, Glue,
    DynamoDB): read the metadata the pointer ``expected`` names (not
    the writer's possibly-stale view), apply the requirements and
    updates to it (metadata.apply_updates) and write the result next to
    the table. Returns (new_metadata, new_metadata_path); the caller
    swaps its pointer and raises CommitFailedError when the swap
    loses."""
    base = Table.from_location(expected)
    new_md = apply_updates(base.metadata, requirements, updates)
    loc = new_md.location or os.path.dirname(os.path.dirname(expected))
    version = _parse_version(expected) + 1
    new_path = f"{loc}/metadata/{version:05d}-{uuid.uuid4().hex[:12]}.metadata.json"
    base.io.write(_local(new_path), new_md.to_json().encode())
    return new_md, new_path


class SqlCatalog:
    """sqlite3-backed catalog; URI ``sqlite:<path>`` (``:memory:`` works
    for tests but defeats cross-process atomicity)."""

    def __init__(self, name: str, uri: str, properties: dict[str, str] | None = None):
        self.name = name
        self.properties = dict(properties or {})
        # accept both sqlite:<path> and the jdbc:sqlite:<path> spelling
        # infer_catalog_type recognizes — the un-stripped jdbc: form was
        # passed verbatim to sqlite3.connect as a literal relative
        # filename (a './jdbc:sqlite:/...' directory tree) (r6)
        for prefix in ("jdbc:sqlite:", "sqlite:"):
            if uri.startswith(prefix):
                path = uri[len(prefix):]
                break
        else:
            path = uri
        self.warehouse = self.properties.get("warehouse", "").rstrip("/")
        if path != ":memory:":
            os.makedirs(os.path.dirname(os.path.abspath(path)) or ".", exist_ok=True)
        self._db = sqlite3.connect(path, check_same_thread=False)
        self._db.execute(
            """CREATE TABLE IF NOT EXISTS iceberg_tables (
                 catalog_name TEXT NOT NULL,
                 table_namespace TEXT NOT NULL,
                 table_name TEXT NOT NULL,
                 metadata_location TEXT,
                 previous_metadata_location TEXT,
                 PRIMARY KEY (catalog_name, table_namespace, table_name))"""
        )
        self._db.execute(
            """CREATE TABLE IF NOT EXISTS iceberg_namespace_properties (
                 catalog_name TEXT NOT NULL,
                 namespace TEXT NOT NULL,
                 property_key TEXT NOT NULL,
                 property_value TEXT,
                 PRIMARY KEY (catalog_name, namespace, property_key))"""
        )
        self._db.commit()

    # -- helpers ---------------------------------------------------------

    def _split(self, identifier) -> tuple[str, str]:
        parts = to_identifier(identifier)
        if len(parts) < 2:
            raise CatalogError(f"identifier {identifier!r} needs namespace.table")
        return ".".join(parts[:-1]), parts[-1]

    def _pointer(self, identifier) -> str:
        ns, tbl = self._split(identifier)
        row = self._db.execute(
            "SELECT metadata_location FROM iceberg_tables"
            " WHERE catalog_name=? AND table_namespace=? AND table_name=?",
            (self.name, ns, tbl),
        ).fetchone()
        if row is None or row[0] is None:
            raise NoSuchTableError(f"table {identifier!r} not found in catalog {self.name}")
        return row[0]

    def _namespace_exists(self, ns: str) -> bool:
        q = self._db.execute(
            "SELECT 1 FROM iceberg_namespace_properties WHERE catalog_name=? AND namespace=?"
            " UNION SELECT 1 FROM iceberg_tables WHERE catalog_name=? AND table_namespace=?"
            " LIMIT 1",
            (self.name, ns, self.name, ns),
        ).fetchone()
        return q is not None

    # -- tables ----------------------------------------------------------

    def load_table(self, identifier) -> Table:
        t = Table.from_location(self._pointer(identifier))
        t.identifier = to_identifier(identifier)
        t.catalog = self
        return t

    def table_exists(self, identifier) -> bool:
        try:
            self._pointer(identifier)
            return True
        except NoSuchTableError:
            return False

    def create_table(self, identifier, schema, spec=None, properties=None) -> Table:
        from .write import create_table as _create

        ns, tbl = self._split(identifier)
        if not self._namespace_exists(ns):
            raise NoSuchNamespaceError(ns)
        if not self.warehouse:
            raise CatalogError("SqlCatalog needs a 'warehouse' property to create tables")
        if self.table_exists(identifier):
            # check BEFORE writing metadata files; the DB unique
            # constraint below still guards the racy window
            raise CatalogError(f"table {identifier!r} already exists")
        location = f"{self.warehouse}/{ns.replace('.', '/')}/{tbl}"
        t = _create(location, schema, spec, properties)
        try:
            self._db.execute(
                "INSERT INTO iceberg_tables VALUES (?,?,?,?,NULL)",
                (self.name, ns, tbl, t.metadata_location),
            )
            self._db.commit()
        except sqlite3.IntegrityError as e:
            raise CatalogError(f"table {identifier!r} already exists") from e
        t.identifier = to_identifier(identifier)
        t.catalog = self
        return t

    def register_table(self, identifier, metadata_location: str) -> Table:
        """Adopt an existing table by metadata path (no data movement)."""
        ns, tbl = self._split(identifier)
        try:
            self._db.execute(
                "INSERT INTO iceberg_tables VALUES (?,?,?,?,NULL)",
                (self.name, ns, tbl, metadata_location),
            )
            self._db.commit()
        except sqlite3.IntegrityError as e:
            raise CatalogError(f"table {identifier!r} already exists") from e
        return self.load_table(identifier)

    def drop_table(self, identifier) -> None:
        ns, tbl = self._split(identifier)
        cur = self._db.execute(
            "DELETE FROM iceberg_tables"
            " WHERE catalog_name=? AND table_namespace=? AND table_name=?",
            (self.name, ns, tbl),
        )
        self._db.commit()
        if cur.rowcount == 0:
            raise NoSuchTableError(str(identifier))

    def rename_table(self, src, dst) -> None:
        sns, stbl = self._split(src)
        dns, dtbl = self._split(dst)
        if not self._namespace_exists(dns):
            raise NoSuchNamespaceError(dns)
        try:
            cur = self._db.execute(
                "UPDATE iceberg_tables SET table_namespace=?, table_name=?"
                " WHERE catalog_name=? AND table_namespace=? AND table_name=?",
                (dns, dtbl, self.name, sns, stbl),
            )
        except sqlite3.IntegrityError as e:
            raise CatalogError(f"table {dst!r} already exists") from e
        self._db.commit()
        if cur.rowcount == 0:
            raise NoSuchTableError(str(src))

    def list_tables(self, namespace) -> list[tuple[str, ...]]:
        ns = ".".join(to_identifier(namespace))
        if not self._namespace_exists(ns):
            raise NoSuchNamespaceError(str(namespace))
        rows = self._db.execute(
            "SELECT table_name FROM iceberg_tables"
            " WHERE catalog_name=? AND table_namespace=? ORDER BY table_name",
            (self.name, ns),
        ).fetchall()
        return [(*ns.split("."), r[0]) for r in rows]

    # -- commit (write-path hook, same protocol as RestCatalog) ----------

    def commit_table(self, table: Table, requirements: list[dict], updates: list[dict]) -> Table:
        """CAS commit: verify requirements against the DB's CURRENT
        metadata, apply the update actions, write a new metadata file,
        swap the pointer iff it still equals what we read."""
        from .write import CommitFailedError

        expected = self._pointer(table.identifier)
        new_md, new_path = apply_table_commit(expected, requirements, updates)

        ns, tbl = self._split(table.identifier)
        cur = self._db.execute(
            "UPDATE iceberg_tables SET metadata_location=?, previous_metadata_location=?"
            " WHERE catalog_name=? AND table_namespace=? AND table_name=?"
            "   AND metadata_location=?",
            (new_path, expected, self.name, ns, tbl, expected),
        )
        self._db.commit()
        if cur.rowcount == 0:
            raise CommitFailedError(
                f"concurrent update to {table.identifier!r}: pointer moved past {expected}"
            )
        table.metadata = new_md
        table.metadata_location = new_path
        return table

    # -- namespaces ------------------------------------------------------

    def list_namespaces(self) -> list[tuple[str, ...]]:
        rows = self._db.execute(
            "SELECT DISTINCT namespace FROM iceberg_namespace_properties WHERE catalog_name=?"
            " UNION SELECT DISTINCT table_namespace FROM iceberg_tables WHERE catalog_name=?"
            " ORDER BY 1",
            (self.name, self.name),
        ).fetchall()
        return [tuple(r[0].split(".")) for r in rows]

    def create_namespace(self, namespace, properties=None) -> None:
        ns = ".".join(to_identifier(namespace))
        if self._namespace_exists(ns):
            raise NamespaceAlreadyExistsError(ns)
        rows = [(self.name, ns, _EXISTS_KEY, "true")] + [
            (self.name, ns, k, v) for k, v in (properties or {}).items()
        ]
        self._db.executemany("INSERT INTO iceberg_namespace_properties VALUES (?,?,?,?)", rows)
        self._db.commit()

    def drop_namespace(self, namespace) -> None:
        ns = ".".join(to_identifier(namespace))
        if not self._namespace_exists(ns):
            raise NoSuchNamespaceError(ns)
        n_tables = self._db.execute(
            "SELECT COUNT(*) FROM iceberg_tables WHERE catalog_name=? AND table_namespace=?",
            (self.name, ns),
        ).fetchone()[0]
        if n_tables:
            raise CatalogError(f"namespace {ns!r} is not empty ({n_tables} tables)")
        self._db.execute(
            "DELETE FROM iceberg_namespace_properties WHERE catalog_name=? AND namespace=?",
            (self.name, ns),
        )
        self._db.commit()

    def load_namespace_properties(self, namespace) -> dict[str, str]:
        ns = ".".join(to_identifier(namespace))
        if not self._namespace_exists(ns):
            raise NoSuchNamespaceError(ns)
        rows = self._db.execute(
            "SELECT property_key, property_value FROM iceberg_namespace_properties"
            " WHERE catalog_name=? AND namespace=? AND property_key != ?",
            (self.name, ns, _EXISTS_KEY),
        ).fetchall()
        return dict(rows)

    def update_namespace_properties(
        self, namespace, removals: list[str] | None = None, updates: dict[str, str] | None = None
    ) -> dict[str, list[str]]:
        ns = ".".join(to_identifier(namespace))
        props = self.load_namespace_properties(namespace)
        removed, missing = [], []
        for k in removals or ():
            if k in props:
                removed.append(k)
            else:
                missing.append(k)
        self._db.executemany(
            "DELETE FROM iceberg_namespace_properties"
            " WHERE catalog_name=? AND namespace=? AND property_key=?",
            [(self.name, ns, k) for k in removed],
        )
        self._db.executemany(
            "INSERT OR REPLACE INTO iceberg_namespace_properties VALUES (?,?,?,?)",
            [(self.name, ns, k, v) for k, v in (updates or {}).items()],
        )
        self._db.commit()
        return {"removed": removed, "updated": list((updates or {}).keys()), "missing": missing}


def _parse_version(metadata_path: str) -> int:
    """v3.metadata.json → 3; 00007-<uuid>.metadata.json → 7; else 0."""
    stem = os.path.basename(metadata_path).split(".metadata.json")[0]
    head = stem.split("-")[0].lstrip("v")
    return int(head) if head.isdigit() else 0


def _local(path: str) -> str:
    p = urlparse(path)
    return p.path if p.scheme == "file" else path
