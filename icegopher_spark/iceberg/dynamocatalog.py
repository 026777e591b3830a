"""DynamoDB-backed Iceberg catalog: one DynamoDB table holds one item
per namespace and per table, and a commit is a conditional PutItem.

Item layout (public: apache/iceberg iceberg-aws DynamoDbCatalog /
pyiceberg's port of it):

* key schema: partition key ``identifier`` (``<ns>.<table>``, or the
  literal ``NAMESPACE`` marker for namespace items), sort key
  ``namespace``;
* a version attribute ``v`` (uuid, rewritten on every commit) is the
  optimistic lock: the commit PutItem carries
  ``ConditionExpression "v = :expected"`` so a concurrent committer —
  who rewrote ``v`` — turns the put into
  ConditionalCheckFailedException (DynamoDB evaluates the condition
  atomically with the write; no read-modify-write race);
* catalog payload attributes are prefixed ``p.``
  (``p.metadata_location``, ``p.previous_metadata_location``,
  ``p.table_type=ICEBERG``).

Listing scans with a FilterExpression — catalog metadata is
pointer-sized, thousands of items at most, so a scan is O(catalog) not
O(data); the AWS-recommended namespace GSI is an optimization this
driver-side client doesn't need.

boto3 is gated behind an import-try (same stance as gluecatalog.py).
Closes the reference's CatalogDynamoDB enum member
(table/catalog/catalog.go:40-47, declared, never implemented).
"""

from __future__ import annotations

import time
import uuid as _uuid

from .catalog import (
    CatalogError,
    NamespaceAlreadyExistsError,
    NoSuchNamespaceError,
    NoSuchTableError,
    to_identifier,
)
from .table import Table

_NS_MARKER = "NAMESPACE"
_PROP_PREFIX = "p."
_PARAM_METADATA = "metadata_location"
_PARAM_PREV_METADATA = "previous_metadata_location"


class DynamoDbCatalog:
    def __init__(self, name: str, uri: str = "", properties: dict[str, str] | None = None):
        try:
            import boto3
        except ImportError as e:  # pragma: no cover - env without boto3
            raise CatalogError(
                "dynamodb catalog requires boto3 (pip install boto3)"
            ) from e
        props = dict(properties or {})
        self.name = name
        self.properties = props
        self.warehouse = props.get("warehouse", "").rstrip("/")
        self.table_name = props.get("dynamodb.table-name", "iceberg")
        kwargs: dict = {"region_name": props.get("dynamodb.region", "us-east-1")}
        endpoint = props.get("dynamodb.endpoint") or (uri or None)
        if endpoint:
            kwargs["endpoint_url"] = endpoint
        if "dynamodb.access-key-id" in props:
            kwargs["aws_access_key_id"] = props["dynamodb.access-key-id"]
            kwargs["aws_secret_access_key"] = props.get(
                "dynamodb.secret-access-key", ""
            )
        self._ddb = boto3.client("dynamodb", **kwargs)
        self._exc = self._ddb.exceptions

    # -- item plumbing ---------------------------------------------------
    def _split(self, identifier) -> tuple[str, str]:
        parts = to_identifier(identifier)
        if len(parts) < 2:
            raise CatalogError(f"identifier {identifier!r} needs namespace.table")
        return ".".join(parts[:-1]), parts[-1]

    def _key(self, identifier: str, namespace: str) -> dict:
        return {"identifier": {"S": identifier}, "namespace": {"S": namespace}}

    def _get_item(self, identifier: str, namespace: str) -> dict | None:
        out = self._ddb.get_item(
            TableName=self.table_name,
            Key=self._key(identifier, namespace),
            ConsistentRead=True,
        )
        return out.get("Item")

    @staticmethod
    def _props_of(item: dict) -> dict[str, str]:
        return {
            k[len(_PROP_PREFIX):]: v.get("S", "")
            for k, v in item.items()
            if k.startswith(_PROP_PREFIX)
        }

    def _table_item(
        self, ns: str, tbl: str, params: dict[str, str], created_at: str | None = None
    ) -> dict:
        now = str(int(time.time() * 1000))
        item = {
            **self._key(f"{ns}.{tbl}", ns),
            "v": {"S": _uuid.uuid4().hex},
            "created_at": {"S": created_at or now},
            "updated_at": {"S": now},
        }
        for k, v in params.items():
            item[f"{_PROP_PREFIX}{k}"] = {"S": v}
        return item

    # -- tables ------------------------------------------------------------
    def _get_table_item(self, identifier) -> dict:
        ns, tbl = self._split(identifier)
        item = self._get_item(f"{ns}.{tbl}", ns)
        if item is None:
            raise NoSuchTableError(f"table {identifier!r} not found")
        return item

    def _pointer(self, item: dict, identifier) -> str:
        loc = self._props_of(item).get(_PARAM_METADATA)
        if not loc:
            raise CatalogError(f"{identifier!r} is not an Iceberg table")
        return loc

    def load_table(self, identifier) -> Table:
        t = Table.from_location(
            self._pointer(self._get_table_item(identifier), identifier)
        )
        t.identifier = to_identifier(identifier)
        t.catalog = self
        return t

    def table_exists(self, identifier) -> bool:
        try:
            self._get_table_item(identifier)
            return True
        except NoSuchTableError:
            return False

    def create_table(self, identifier, schema, spec=None, properties=None) -> Table:
        from .write import create_table as _create

        ns, tbl = self._split(identifier)
        if self._get_item(_NS_MARKER, ns) is None:
            raise NoSuchNamespaceError(ns)
        if self.table_exists(identifier):
            raise CatalogError(f"table {identifier!r} already exists")
        properties = dict(properties) if properties else None
        location = properties.pop("location", None) if properties else None
        location = location or (
            f"{self.warehouse}/{ns}/{tbl}" if self.warehouse else None
        )
        if not location:
            raise CatalogError(
                "dynamodb catalog needs a 'warehouse' property or an explicit"
                " table 'location'"
            )
        t = _create(location, schema, spec, properties)
        item = self._table_item(
            ns,
            tbl,
            {
                "table_type": "ICEBERG",
                _PARAM_METADATA: t.metadata_location,
            },
        )
        try:
            self._ddb.put_item(
                TableName=self.table_name,
                Item=item,
                ConditionExpression="attribute_not_exists(identifier)",
            )
        except self._exc.ConditionalCheckFailedException as e:
            raise CatalogError(f"table {identifier!r} already exists") from e
        t.identifier = to_identifier(identifier)
        t.catalog = self
        return t

    def register_table(self, identifier, metadata_location: str) -> Table:
        ns, tbl = self._split(identifier)
        t = Table.from_location(metadata_location)
        self._ddb.put_item(
            TableName=self.table_name,
            Item=self._table_item(
                ns,
                tbl,
                {"table_type": "ICEBERG", _PARAM_METADATA: metadata_location},
            ),
            ConditionExpression="attribute_not_exists(identifier)",
        )
        t.identifier = to_identifier(identifier)
        t.catalog = self
        return t

    def drop_table(self, identifier, purge: bool = False) -> None:
        ns, tbl = self._split(identifier)
        if self._get_item(f"{ns}.{tbl}", ns) is None:
            raise NoSuchTableError(f"table {identifier!r} not found")
        self._ddb.delete_item(
            TableName=self.table_name, Key=self._key(f"{ns}.{tbl}", ns)
        )

    def _scan_all(self, **kwargs) -> list[dict]:
        """Exhaust Scan pagination: DynamoDB reads at most 1 MB per page
        and applies FilterExpression AFTER the read, so a page can hold
        zero matches plus a LastEvaluatedKey — stopping at the first
        page silently truncates listings (and a truncated list_tables
        would let drop_namespace delete the marker of a NON-empty
        namespace, orphaning its table items)."""
        items: list[dict] = []
        while True:
            out = self._ddb.scan(TableName=self.table_name, **kwargs)
            items += out.get("Items", [])
            lek = out.get("LastEvaluatedKey")
            if not lek:
                return items
            kwargs = {**kwargs, "ExclusiveStartKey": lek}

    def list_tables(self, namespace) -> list[tuple[str, ...]]:
        ns = ".".join(to_identifier(namespace))
        items = self._scan_all(
            FilterExpression="#n = :ns AND identifier <> :marker",
            ExpressionAttributeNames={"#n": "namespace"},
            ExpressionAttributeValues={
                ":ns": {"S": ns},
                ":marker": {"S": _NS_MARKER},
            },
        )
        names = sorted(item["identifier"]["S"].rsplit(".", 1)[-1] for item in items)
        return [(ns, n) for n in names]

    # -- commits -------------------------------------------------------------
    def commit_table(
        self, table: Table, requirements: list[dict], updates: list[dict]
    ) -> Table:
        """CAS commit: the PutItem's ConditionExpression pins the item's
        version attribute to the one read with the pointer — DynamoDB
        applies condition+write atomically, so a concurrent committer
        fails the condition instead of silently losing."""
        from .sqlcatalog import apply_table_commit
        from .write import CommitFailedError

        ns, tbl = self._split(table.identifier)
        cur = self._get_table_item(table.identifier)
        expected = self._pointer(cur, table.identifier)
        new_md, new_path = apply_table_commit(expected, requirements, updates)
        params = self._props_of(cur)
        params[_PARAM_PREV_METADATA] = expected
        params[_PARAM_METADATA] = new_path
        item = self._table_item(
            ns, tbl, params, created_at=cur.get("created_at", {}).get("S")
        )
        try:
            self._ddb.put_item(
                TableName=self.table_name,
                Item=item,
                ConditionExpression="v = :expected_v",
                ExpressionAttributeValues={":expected_v": cur["v"]},
            )
        except self._exc.ConditionalCheckFailedException as e:
            raise CommitFailedError(
                f"concurrent update to {table.identifier!r}: version moved"
            ) from e
        table.metadata = new_md
        table.metadata_location = new_path
        return table

    # -- namespaces ------------------------------------------------------------
    def list_namespaces(self) -> list[tuple[str, ...]]:
        items = self._scan_all(
            FilterExpression="identifier = :marker",
            ExpressionAttributeValues={":marker": {"S": _NS_MARKER}},
        )
        return [
            tuple(item["namespace"]["S"].split("."))
            for item in sorted(items, key=lambda i: i["namespace"]["S"])
        ]

    def create_namespace(self, namespace, properties=None) -> None:
        ns = ".".join(to_identifier(namespace))
        item = {
            **self._key(_NS_MARKER, ns),
            "v": {"S": _uuid.uuid4().hex},
            "created_at": {"S": str(int(time.time() * 1000))},
        }
        for k, v in (properties or {}).items():
            item[f"{_PROP_PREFIX}{k}"] = {"S": v}
        try:
            self._ddb.put_item(
                TableName=self.table_name,
                Item=item,
                ConditionExpression="attribute_not_exists(identifier)",
            )
        except self._exc.ConditionalCheckFailedException as e:
            raise NamespaceAlreadyExistsError(ns) from e

    def drop_namespace(self, namespace) -> None:
        ns = ".".join(to_identifier(namespace))
        if self._get_item(_NS_MARKER, ns) is None:
            raise NoSuchNamespaceError(ns)
        if self.list_tables(namespace):
            raise CatalogError(f"namespace {ns!r} is not empty")
        self._ddb.delete_item(
            TableName=self.table_name, Key=self._key(_NS_MARKER, ns)
        )

    def load_namespace_properties(self, namespace) -> dict[str, str]:
        ns = ".".join(to_identifier(namespace))
        item = self._get_item(_NS_MARKER, ns)
        if item is None:
            raise NoSuchNamespaceError(ns)
        return self._props_of(item)
