"""Minimal Delta Lake WRITER — the export half of the interop loop
(the reader lives in `delta.py`; both implement delta.io PROTOCOL.md
and nothing else).

Scope:
  * ``create_delta_table`` — commit 0 with protocol + metaData
  * ``append_delta`` / ``overwrite_delta`` — distributed parquet write
    (hive-layout partitioning), then one atomic JSON commit listing
    add (and for overwrite, remove) actions with per-file
    ``partitionValues`` and numRecords stats
  * optimistic concurrency: the commit file is put-if-absent, so
    two writers racing to version N get exactly one winner (same
    contract the protocol specifies for the log store)
  * ``write_checkpoint`` — classic single-part parquet checkpoint +
    ``_last_checkpoint``, so a long log stays O(commits-since-
    checkpoint) to read and old JSON becomes vacuumable
  * ``export_iceberg_to_delta`` — one-pass Iceberg → Delta export
    (the reverse of `delta_queries.delta_to_iceberg_migrate`)

Writer-side restrictions are enforced loudly: partition column types
are limited to the string/integral/date serializations this module
can round-trip exactly (protocol § Partition Value Serialization);
anything else must be a data column.

The data write is Spark-distributed; the driver handles only the
metadata plane (listing the staged files + writing one JSON commit),
mirroring how the Iceberg write plane splits work.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .delta import _commit_timestamp, _decoded_positions_df, _list_log, _log_dir, load_delta
from .iceberg.io import load_io

__all__ = [
    "create_delta_table",
    "append_delta",
    "overwrite_delta",
    "write_checkpoint",
    "delete_where_delta",
    "update_where_delta",
    "merge_upsert_delta",
    "optimize_delta",
    "restore_delta",
    "add_column_delta",
    "set_properties_delta",
    "export_iceberg_to_delta",
    "link_iceberg_to_delta",
    "link_delta_to_iceberg",
]

# partition value serializations we can round-trip EXACTLY (write the
# string form, read it back, cast — no precision or timezone traps)
_PARTITIONABLE = {"string", "int", "bigint", "smallint", "tinyint", "date", "boolean"}


def _schema_string(schema) -> str:
    return schema.json()


def _commit(
    table_path: str,
    version: int,
    actions: list[dict],
    configuration: dict | None = None,
) -> None:
    """Atomic commit: put-if-absent of the next version file
    (``io.create``). A loser in a version race gets FileExistsError and
    must re-plan (the protocol's log-store contract); a crash mid-write
    leaves no torn ``<version>.json``.

    When the table enables In-Commit Timestamps
    (delta.enableInCommitTimestamps=true, § ICT), commitInfo leads the
    commit and carries a MONOTONIC `inCommitTimestamp` — max(wall
    clock, previous commit's timestamp + 1), so timestamp travel stays
    total even under clock skew.  (Mid-life enablement provenance
    properties — inCommitTimestampEnablementVersion/-Timestamp — are
    the enabling USER's job via set_properties; this writer stamps
    whatever the configuration says.)"""
    io = load_io(table_path)
    now = int(time.time() * 1000)
    ci: dict = {"timestamp": now, "operation": "icegopher-delta-write"}
    if (configuration or {}).get(
        "delta.enableInCommitTimestamps", ""
    ).lower() == "true":
        prev = 0
        if version > 0:
            try:
                prev = _commit_timestamp(io, table_path, version - 1)
            except OSError:
                prev = 0  # pre-checkpoint commit vacuumed — clock rules
        ci["inCommitTimestamp"] = max(now, prev + 1)
    lines = [json.dumps({"commitInfo": ci})] + [json.dumps(a) for a in actions]
    io.create(
        os.path.join(_log_dir(table_path), f"{version:020d}.json"),
        ("\n".join(lines) + "\n").encode("utf-8"),
    )


def create_delta_table(
    table_path: str,
    schema,
    partition_columns: list[str] | None = None,
    configuration: dict[str, str] | None = None,
    column_mapping: bool = False,
) -> None:
    """Commit 0: protocol + metaData. ``schema`` is a Spark StructType
    covering data AND partition columns.

    ``column_mapping=True`` creates the table in mapping mode 'name'
    (protocol § Column Mapping): every struct field AT EVERY NESTING
    LEVEL gets a ``delta.columnMapping.id`` and an opaque
    ``physicalName`` (col-<uuid8>) — what delta-spark assigns on
    upgrade — the protocol becomes reader 2 / writer 5, and every
    write path (append/update/merge staging) relabels to physical
    names before parquet lands (nested renames via one positional
    struct CAST per column, the reader's inverse)."""
    partition_columns = list(partition_columns or [])
    by_name = {f.name: f for f in schema.fields}
    for pc in partition_columns:
        if pc not in by_name:
            raise ValueError(f"partition column {pc!r} not in schema")
        t = by_name[pc].dataType.simpleString()
        if t not in _PARTITIONABLE:
            raise NotImplementedError(
                f"Delta writer: partition column {pc!r} has type {t}; this "
                f"writer serializes only {sorted(_PARTITIONABLE)} partition "
                "values exactly — make it a data column instead"
            )
    if load_io(table_path).list_dir(_log_dir(table_path)):
        raise FileExistsError(f"{table_path} already has a _delta_log")
    conf = dict(configuration or {})
    proto = {"minReaderVersion": 1, "minWriterVersion": 2}
    schema_string = _schema_string(schema)
    if column_mapping:
        # assign a mapping id + opaque physicalName to EVERY struct
        # field at every nesting level (protocol § Column Mapping —
        # what delta-spark does on upgrade); the write path relabels
        # nested fields with one positional CAST per column
        counter = {"id": 0}

        def _assign(node):
            if isinstance(node, dict) and node.get("type") == "struct":
                fields = []
                for fj in node["fields"]:
                    counter["id"] += 1
                    fields.append(
                        {
                            **fj,
                            "metadata": {
                                **(fj.get("metadata") or {}),
                                "delta.columnMapping.id": counter["id"],
                                "delta.columnMapping.physicalName": (
                                    f"col-{uuid.uuid4().hex[:8]}"
                                ),
                            },
                            "type": _assign(fj["type"]),
                        }
                    )
                return {"type": "struct", "fields": fields}
            if isinstance(node, dict) and node.get("type") == "array":
                return {**node, "elementType": _assign(node["elementType"])}
            if isinstance(node, dict) and node.get("type") == "map":
                return {
                    **node,
                    "keyType": _assign(node["keyType"]),
                    "valueType": _assign(node["valueType"]),
                }
            return node

        schema_string = json.dumps(_assign(json.loads(schema_string)))
        conf.setdefault("delta.columnMapping.mode", "name")
        conf.setdefault("delta.columnMapping.maxColumnId", str(counter["id"]))
        proto = {"minReaderVersion": 2, "minWriterVersion": 5}
    if "variant" in schema.simpleString():
        # variant demands the feature-vector protocol form (§ Variant
        # Data Type); enumerate columnMapping too when both apply
        feats = sorted(
            {"variantType"} | ({"columnMapping"} if column_mapping else set())
        )
        proto = {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": feats,
            "writerFeatures": feats,
        }
    _commit(
        table_path,
        0,
        [
            {"protocol": proto},
            {
                "metaData": {
                    "id": str(uuid.uuid4()),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": schema_string,
                    "partitionColumns": partition_columns,
                    "configuration": conf,
                    "createdTime": int(time.time() * 1000),
                }
            },
        ],
        conf,
    )


def _stage_and_collect(
    spark: SparkSession, table_path: str, df: DataFrame, part_cols: list[str]
) -> list[dict]:
    """Distributed parquet write into a unique staging dir inside the
    table, then one driver pass over the staged files to build add
    actions. Files stay where Spark put them (hive layout for
    partitioned tables) — the log's partitionValues, parsed from the
    layout THIS writer controls, are what readers trust."""
    import pyarrow.parquet as pq

    io = load_io(table_path)
    out_dir = os.path.join(table_path, f"data-{uuid.uuid4().hex[:12]}")
    writer = df.write.mode("error")
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    writer.parquet(out_dir)

    adds: list[dict] = []
    for f, rel, pv in _staged_files(io, table_path, out_dir):
        try:
            with io.open_input(f.path) as fh:
                stats = json.dumps(_footer_stats(pq.ParquetFile(fh)))
        except Exception:  # noqa: BLE001
            # stats are advisory; pyarrow cannot parse some logical
            # types Spark writes (VARIANT) — skip rather than fail
            # the whole commit
            stats = None
        add = {
            "path": rel,
            "partitionValues": {c: pv.get(c) for c in part_cols},
            "size": f.size,
            "modificationTime": f.mtime_ms,
            "dataChange": True,
        }
        if stats is not None:
            add["stats"] = stats
        adds.append({"add": add})
    return adds


def _staged_files(io, table_path: str, out_dir: str) -> list:
    """(FileInfo, table-relative path, hive partition values) for each
    parquet file a Spark write committed under ``out_dir`` — the values
    parsed from the layout THIS writer controls. An empty staging dir
    is removed."""
    import urllib.parse

    out = []
    for f in io.list_prefix(out_dir):
        if not f.path.endswith(".parquet"):
            continue
        pv: dict[str, str | None] = {}
        rel_dir = os.path.relpath(os.path.dirname(f.path), out_dir)
        for seg in rel_dir.split(os.sep) if rel_dir != "." else []:
            k, _, v = seg.partition("=")
            pv[k] = None if v == "__HIVE_DEFAULT_PARTITION__" else urllib.parse.unquote(v)
        out.append((f, os.path.relpath(f.path, table_path).replace(os.sep, "/"), pv))
    if not out:
        io.remove_dir(out_dir)
    return out


def _cdf_enabled(snap) -> bool:
    return (
        snap.configuration.get("delta.enableChangeDataFeed", "").lower() == "true"
    )


def _stage_cdc(spark: SparkSession, table_path: str, snap, cdc_df: DataFrame) -> list[dict]:
    """Stage CDF change rows (table columns + ``_change_type``) as
    change-data files under ``_change_data/`` and return their ``cdc``
    actions (protocol § "Add CDC File"): per-commit row-level change
    authority, so readers surface update_preimage/update_postimage
    pairs instead of synthesizing delete+insert from the file actions.
    cdc files never contribute to the live row set (dataChange=false
    by definition); partition values ride in the action like adds.
    The write is Spark-distributed (same hive staging as data files);
    the driver touches one metadata row per cdc file."""
    data, part_phys = _to_physical(snap, cdc_df, extra_cols=("_change_type",))
    out_dir = os.path.join(table_path, "_change_data", f"cdc-{uuid.uuid4().hex[:12]}")
    writer = data.write.mode("error")
    if part_phys:
        writer = writer.partitionBy(*part_phys)
    writer.parquet(out_dir)
    return [
        {
            "cdc": {
                "path": rel,
                "partitionValues": {c: pv.get(c) for c in part_phys},
                "size": f.size,
                "dataChange": False,
            }
        }
        for f, rel, pv in _staged_files(load_io(table_path), table_path, out_dir)
    ]


def _footer_stats(pf) -> dict:
    """add.stats JSON from the parquet footer: numRecords plus
    minValues/maxValues/nullCount for TOP-LEVEL numeric/bool/date
    columns — the fields delta-spark's data skipping consumes.  Strings
    are deliberately excluded: footer string min/max may be truncated
    by the writer, and a truncated max presented as exact resurrects
    skipped rows on the reader side."""
    import datetime as _dt

    md = pf.metadata
    out: dict = {"numRecords": md.num_rows}
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    skip: set[int] = set()
    n_cols = md.num_columns
    for rg_i in range(md.num_row_groups):
        rg = md.row_group(rg_i)
        for c_i in range(n_cols):
            if c_i in skip:
                continue
            col = rg.column(c_i)
            name = col.path_in_schema
            if "." in name:  # nested — skip
                skip.add(c_i)
                continue
            if col.physical_type in ("BYTE_ARRAY", "FIXED_LEN_BYTE_ARRAY"):
                skip.add(c_i)  # strings/binary: truncation-unsafe
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                skip.add(c_i)
                mins.pop(name, None)
                maxs.pop(name, None)
                nulls.pop(name, None)
                continue
            mn, mx = st.min, st.max
            if isinstance(mn, (_dt.date, _dt.datetime)):
                mn, mx = mn.isoformat(), mx.isoformat()
            if name not in mins or mn < mins[name]:
                mins[name] = mn
            if name not in maxs or mx > maxs[name]:
                maxs[name] = mx
            # an UNKNOWN null_count must not serialize as an exact 0 —
            # _stats_keep would then skip files that do contain nulls
            # under an IS NULL filter (silent row loss)
            if getattr(st, "has_null_count", True) and st.null_count is not None:
                if nulls.get(name, 0) is not None:
                    nulls[name] = nulls.get(name, 0) + st.null_count
            else:
                nulls[name] = None
    if mins:
        out["minValues"] = mins
        out["maxValues"] = maxs
        known_nulls = {k: v for k, v in nulls.items() if v is not None}
        if known_nulls:
            out["nullCount"] = known_nulls
    return out


def _implied_features(proto: dict) -> tuple[set, set]:
    """(readerFeatures, writerFeatures) implied by LEGACY protocol
    versions plus any explicit lists (protocol § Table Features:
    upgrading to the feature vector MUST enumerate every feature the
    prior legacy versions implied — dropping one, e.g. columnMapping on
    a reader-2 table, makes other engines misread or refuse)."""
    mr = int(proto.get("minReaderVersion", 1))
    mw = int(proto.get("minWriterVersion", 2))
    rf = set(proto.get("readerFeatures") or [])
    wf = set(proto.get("writerFeatures") or [])
    if mr >= 2:
        rf.add("columnMapping")
    if mw >= 2:
        wf |= {"appendOnly", "invariants"}
    if mw >= 3:
        wf.add("checkConstraints")
    if mw >= 4:
        wf |= {"changeDataFeed", "generatedColumns"}
    if mw >= 5:
        wf.add("columnMapping")
    if mw >= 6:
        wf.add("identityColumns")
    return rf, wf


def _schema_uses(meta: dict, metadata_key_prefix: str) -> list[str]:
    """Column names whose field metadata carries a key with the given
    prefix (generated/identity column detection)."""
    try:
        fields = json.loads(meta.get("schemaString") or "{}").get("fields", [])
    except ValueError:
        return []
    return [
        f.get("name")
        for f in fields
        if any(k.startswith(metadata_key_prefix) for k in (f.get("metadata") or {}))
    ]


def _check_writer_protocol(snap, operation: str) -> None:
    """Writers MUST refuse tables demanding writer features they do not
    implement (protocol § Table Features) — silently writing anyway
    corrupts the table for engines that rely on the feature.  Also
    enforces the two table-level write constraints this writer DOES
    implement: ``delta.appendOnly`` (no row-removing DML) and CHECK
    constraints (validated in _validate_constraints)."""
    proto = snap.protocol
    min_writer = int(proto.get("minWriterVersion", 2))
    if min_writer == 7:
        feats = set(proto.get("writerFeatures") or [])
        unsupported = feats - _SUPPORTED_WRITER_FEATURES
        # generated/identity columns are value-producing obligations:
        # tolerable when the SCHEMA doesn't actually use them (common
        # for legacy-upgraded tables), a hard refusal when it does —
        # writing without generating the values corrupts the table
        for feat, prefix in _VALUE_PRODUCING_FEATURES:
            if feat in unsupported:
                used = _schema_uses(snap.metadata_raw, prefix)
                if used:
                    raise NotImplementedError(
                        f"Delta writer: table uses {feat} on columns "
                        f"{used}; this writer cannot produce their "
                        "values — refusing to write"
                    )
                unsupported.discard(feat)
        if unsupported:
            raise NotImplementedError(
                f"Delta writer: table requires writerFeatures "
                f"{sorted(unsupported)} this writer does not implement — "
                "refusing to write"
            )
    elif min_writer > 7:
        raise NotImplementedError(
            f"Delta writer: minWriterVersion={min_writer} unsupported"
        )
    else:
        # legacy writer versions carry the same value-producing
        # obligations WITHOUT naming them as features: delta-spark
        # writes generated columns at writer v4 and identity columns
        # at v6 (mirroring _implied_features).  Gating only on the
        # ==7 feature vector let legacy tables through, silently
        # corrupting those columns for other engines (r10 advice).
        for ver, (feat, prefix) in zip((4, 6), _VALUE_PRODUCING_FEATURES):
            if min_writer >= ver:
                used = _schema_uses(snap.metadata_raw, prefix)
                if used:
                    raise NotImplementedError(
                        f"Delta writer: legacy minWriterVersion="
                        f"{min_writer} table uses {feat} on columns "
                        f"{used}; this writer cannot produce their "
                        "values — refusing to write"
                    )
    if (
        operation in _ROW_REMOVING_OPS
        and snap.configuration.get("delta.appendOnly", "").lower() == "true"
    ):
        raise ValueError(
            f"Delta writer: table is delta.appendOnly=true — {operation} "
            "would remove or rewrite rows; refused"
        )


# writer-feature surface this module actually honors: DVs and column
# mapping are implemented; appendOnly and check constraints are
# ENFORCED (refusal/validation below); invariants (legacy writer v2
# schema-embedded NOT NULL/expr) are validated by _validate_constraints
_SUPPORTED_WRITER_FEATURES = {
    "deletionVectors",
    "columnMapping",
    "appendOnly",
    "checkConstraints",
    "invariants",
    "changeDataFeed",
    "timestampNtz",
    # _commit stamps monotonic commitInfo.inCommitTimestamp whenever
    # delta.enableInCommitTimestamps=true (§ ICT)
    "inCommitTimestamp",
    # read + written (classic AND v2 checkpoints carry state verbatim)
    "v2Checkpoints",
    # replay tracks domains (latest-per-domain, removed tombstones) and
    # checkpoints carry them verbatim; this writer's DML never touches
    # another engine's domains
    "domainMetadata",
    # the vacuum surface (vacuum_candidates) is a dry-run that
    # protocol-checks via load_delta before listing — the feature's
    # whole obligation
    "vacuumProtocolCheck",
    # typeWidening's writer obligation is recording delta.typeChanges
    # WHEN ALTERING a type; this writer never alters existing field
    # types (add_column adds fresh ones), and appends stage under the
    # current (widest) schema — vacuously compliant
    "typeWidening",
    "typeWidening-preview",
    # variant columns stage through Spark's native parquet variant
    # writer; footer stats skip them (non-numeric), partitioning on
    # them is refused by _PARTITIONABLE
    "variantType",
    "variantType-preview",
}

_ROW_REMOVING_OPS = {"delete", "update", "merge", "overwrite", "restore"}

# writer features whose obligation is producing column VALUES on every
# write (not merely honoring a constraint); (feature, schema-metadata
# key prefix that marks a column as using it)
_VALUE_PRODUCING_FEATURES = (
    ("generatedColumns", "delta.generationExpression"),
    ("identityColumns", "delta.identity."),
)


def _validate_constraints(snap, df: DataFrame, operation: str) -> None:
    """Enforce CHECK constraints (configuration delta.constraints.<n>)
    on rows about to land — the protocol makes constraint enforcement
    a WRITER obligation; skipping it silently poisons the table for
    every reader that trusts the constraint."""
    checks = {
        k[len("delta.constraints."):]: v
        for k, v in snap.configuration.items()
        if k.startswith("delta.constraints.")
    }
    # legacy writer-v2 invariants: per-field metadata
    # {"delta.invariants": "{\"expression\":{\"expression\":\"x > 3\"}}"}
    try:
        raw_fields = json.loads(snap.metadata_raw.get("schemaString") or "{}").get(
            "fields", []
        )
    except ValueError:
        raw_fields = []
    for fj in raw_fields:
        inv = (fj.get("metadata") or {}).get("delta.invariants")
        if not inv:
            continue
        try:
            expr = json.loads(inv)["expression"]["expression"]
        except (ValueError, KeyError, TypeError):
            raise NotImplementedError(
                f"Delta writer: unparsable invariant on column "
                f"{fj.get('name')!r}: {inv!r} — refusing to write blind"
            ) from None
        checks[f"invariant:{fj.get('name')}"] = expr
    for name, expr in checks.items():
        bad = df.filter(~F.expr(expr).eqNullSafe(F.lit(True))).limit(1).count()
        if bad:
            raise ValueError(
                f"Delta writer: CHECK constraint {name!r} ({expr}) "
                f"violated by {operation} rows; commit refused"
            )


def _to_physical(
    snap, df: DataFrame, extra_cols: tuple[str, ...] = ()
) -> tuple[DataFrame, list[str]]:
    """(df renamed to PHYSICAL names at EVERY nesting level, physical
    partition columns) — identity for unmapped tables.  Writers stage
    parquet under physical names so mapped readers (ours and
    delta-spark's) resolve columns.  Nested renames are one positional
    struct CAST to the physical type per column — the exact inverse of
    the reader's physical→logical relabel (delta.py::_scan_files),
    whole-stage codegen, no UDF.  ``extra_cols`` pass through verbatim
    (the cdc `_change_type` column is outside the table schema and
    therefore never mapped)."""
    if snap.physical_schema is None:
        return df.select(
            *[f.name for f in snap.schema.fields], *extra_cols
        ) if extra_cols else df, list(snap.partition_columns)
    nm = {}
    exprs = []
    for lf, pf in zip(snap.schema.fields, snap.physical_schema.fields):
        c = F.col(lf.name)
        if lf.dataType.json() != pf.dataType.json():
            c = c.cast(pf.dataType)  # positional cast renames nested fields
        exprs.append(c.alias(pf.name))
        nm[lf.name] = pf.name
    df = df.select(*exprs, *[F.col(c) for c in extra_cols])
    return df, [nm.get(c, c) for c in snap.partition_columns]


_INTERVAL_RE = re.compile(
    r"^\s*interval\s+(\d+)\s+"
    r"(nanosecond|microsecond|millisecond|second|minute|hour|day|week)s?\s*$",
    re.IGNORECASE,
)

_INTERVAL_MS = {
    "nanosecond": 1e-6,
    "microsecond": 1e-3,
    "millisecond": 1.0,
    "second": 1e3,
    "minute": 60e3,
    "hour": 3600e3,
    "day": 86400e3,
    "week": 604800e3,
}


def _parse_interval_ms(s: str | None, default_ms: int) -> int:
    """Parse a Delta 'interval N unit' duration property (the format
    delta.deletedFileRetentionDuration et al. use) to milliseconds."""
    if not s:
        return default_ms
    m = _INTERVAL_RE.match(s)
    if not m:
        raise ValueError(f"unparsable Delta interval property: {s!r}")
    return int(int(m.group(1)) * _INTERVAL_MS[m.group(2).lower()])


_DELETED_FILE_RETENTION_DEFAULT_MS = 7 * 24 * 3600 * 1000  # protocol default


def _next_version(table_path: str) -> int:
    commits, checkpoints = _list_log(load_io(table_path), table_path)
    return max([*commits, *checkpoints]) + 1


def append_delta(
    spark: SparkSession,
    table_path: str,
    df: DataFrame,
    txn: tuple[str, int] | None = None,
) -> int:
    """Append ``df``; returns the committed version.  ``txn`` =
    (appId, version) rides the SAME commit as a transaction identifier
    (protocol § Transaction Identifiers) — the exactly-once handle the
    streaming sink keys on."""
    snap = load_delta(table_path)
    _check_writer_protocol(snap, "append")
    missing = set(f.name for f in snap.schema.fields) - set(df.columns)
    if missing:
        raise ValueError(f"append is missing table columns: {sorted(missing)}")
    _validate_constraints(snap, df, "append")
    df, part_cols = _to_physical(snap, df)
    adds = _stage_and_collect(spark, table_path, df, part_cols)
    actions = list(adds)
    if txn is not None:
        actions.insert(
            0,
            {"txn": {"appId": txn[0], "version": int(txn[1]),
                     "lastUpdated": int(time.time() * 1000)}},
        )
    v = _next_version(table_path)
    _commit(table_path, v, actions, snap.configuration)
    return v


def overwrite_delta(spark: SparkSession, table_path: str, df: DataFrame) -> int:
    """Replace the table contents in ONE commit: remove every live
    file, add the new ones (readers of any earlier version are
    unaffected — that's the log's snapshot isolation)."""
    snap = load_delta(table_path)
    _check_writer_protocol(snap, "overwrite")
    _validate_constraints(snap, df, "overwrite")
    df, part_phys = _to_physical(snap, df)
    adds = _stage_and_collect(spark, table_path, df, part_phys)
    now = int(time.time() * 1000)
    removes = []
    for p, pv in snap.files:
        rm = {
            "path": os.path.relpath(p, table_path).replace(os.sep, "/"),
            "deletionTimestamp": now,
            "dataChange": True,
            "partitionValues": dict(pv),
        }
        # the protocol reconciles file actions by (path, dv uniqueId):
        # a remove that omits the live file's DV would not cancel its
        # add under a spec-compliant replay
        dv = snap.deletion_vectors.get(p)
        if dv is not None:
            rm["deletionVector"] = dv
        removes.append({"remove": rm})
    v = _next_version(table_path)
    _commit(table_path, v, removes + adds, snap.configuration)
    return v


def write_checkpoint(
    table_path: str, version: int | None = None, style: str = "auto"
) -> int:
    """Parquet checkpoint of ``version`` (default latest) +
    ``_last_checkpoint`` pointer. After this, JSON commits ≤ version
    are readable-but-optional (vacuumable).

    ``style``: 'classic' = single-part `<v>.checkpoint.parquet`;
    'v2' = uuid-named V2 checkpoint (checkpointMetadata stamp in the
    top file, file actions in a `_sidecars/` parquet — protocol § V2
    Spec; requires the v2Checkpoints reader feature); 'auto' (default)
    = v2 when the table sets delta.checkpointPolicy=v2, else classic —
    the same policy switch delta-spark honors.

    The replayed ``protocol`` and ``metaData`` actions are carried
    VERBATIM (r9 advice): synthesizing `{1, 2}` would downgrade a
    reader-v3 table's feature set, and replacing ``metaData.id``
    changes the table's identity — delta-spark streams treat an id
    change as a different table.  Live files' deletion vectors are
    carried too (dropping them would resurrect deleted rows once the
    pre-checkpoint JSON is vacuumed)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    io = load_io(table_path)
    snap = load_delta(table_path, version=version)
    v = snap.version
    pv_t = pa.map_(pa.string(), pa.string())
    dv_t = pa.struct(
        [
            ("storageType", pa.string()),
            ("pathOrInlineDv", pa.string()),
            ("offset", pa.int32()),
            ("sizeInBytes", pa.int32()),
            ("cardinality", pa.int64()),
        ]
    )
    add_fields = [
        ("path", pa.string()),
        ("partitionValues", pv_t),
        ("size", pa.int64()),
        ("modificationTime", pa.int64()),
        ("dataChange", pa.bool_()),
        ("stats", pa.string()),
    ]
    if snap.deletion_vectors:
        add_fields.append(("deletionVector", dv_t))
    if snap.row_tracking:
        # row-tracked tables: baseRowId/defaultRowCommitVersion ride
        # VERBATIM (protocol § Row Tracking) — dropping them from the
        # checkpoint destroys every row's stable id once the JSON is
        # vacuumed
        add_fields.append(("baseRowId", pa.int64()))
        add_fields.append(("defaultRowCommitVersion", pa.int64()))
    add_t = pa.struct(add_fields)
    meta_t = pa.struct(
        [
            ("id", pa.string()),
            ("name", pa.string()),
            ("description", pa.string()),
            ("format", pa.struct([("provider", pa.string())])),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", pa.map_(pa.string(), pa.string())),
            ("createdTime", pa.int64()),
        ]
    )
    proto_fields = [
        ("minReaderVersion", pa.int32()),
        ("minWriterVersion", pa.int32()),
    ]
    if snap.protocol.get("readerFeatures") is not None:
        proto_fields.append(("readerFeatures", pa.list_(pa.string())))
    if snap.protocol.get("writerFeatures") is not None:
        proto_fields.append(("writerFeatures", pa.list_(pa.string())))
    proto_t = pa.struct(proto_fields)

    def _dv_row(p: str) -> dict | None:
        d = snap.deletion_vectors.get(p)
        if d is None:
            return None
        return {
            "storageType": d.get("storageType"),
            "pathOrInlineDv": d.get("pathOrInlineDv"),
            "offset": d.get("offset"),
            "sizeInBytes": d.get("sizeInBytes"),
            "cardinality": d.get("cardinality"),
        }

    rows_add = []
    for p, pv in snap.files:
        st = snap.file_stats.get(p)
        if st and p in snap.deletion_vectors:
            # DV-carrying adds carry wide-bounds stats (protocol:
            # tightBounds=false) — numRecords is the PHYSICAL count
            st = {**st, "tightBounds": False}
        fi = io.info(p)
        row = {
            "path": os.path.relpath(p, table_path).replace(os.sep, "/"),
            "partitionValues": [(k, val) for k, val in pv.items() if val is not None],
            "size": fi.size,
            "modificationTime": fi.mtime_ms,
            "dataChange": False,
            "stats": json.dumps(st) if st else None,
        }
        if snap.deletion_vectors:
            row["deletionVector"] = _dv_row(p)
        if snap.row_tracking:
            rt = snap.row_tracking.get(p) or {}
            row["baseRowId"] = rt.get("baseRowId")
            row["defaultRowCommitVersion"] = rt.get("defaultRowCommitVersion")
        rows_add.append(row)

    # remove tombstones younger than delta.deletedFileRetentionDuration
    # MUST ride the checkpoint (protocol § Checkpoints): once the
    # pre-checkpoint JSON is vacuumed they are the only record a
    # foreign engine's VACUUM has of recently deleted files
    retention_ms = _parse_interval_ms(
        snap.configuration.get("delta.deletedFileRetentionDuration"),
        _DELETED_FILE_RETENTION_DEFAULT_MS,
    )
    cutoff_ms = int(time.time() * 1000) - retention_ms
    tombs = [
        t
        for t in snap.tombstones
        if int(t.get("deletionTimestamp") or 0) >= cutoff_ms
    ]
    rm_fields = [
        ("path", pa.string()),
        ("deletionTimestamp", pa.int64()),
        ("dataChange", pa.bool_()),
        ("partitionValues", pv_t),
    ]
    tombs_have_dv = any(t.get("deletionVector") for t in tombs)
    if tombs_have_dv:
        rm_fields.append(("deletionVector", dv_t))
    rm_t = pa.struct(rm_fields)
    rows_rm = []
    for t in tombs:
        tpv = t.get("partitionValues") or {}
        row = {
            "path": t["path"],
            "deletionTimestamp": int(t.get("deletionTimestamp") or 0),
            "dataChange": bool(t.get("dataChange", True)),
            "partitionValues": [
                (k, val) for k, val in dict(tpv).items() if val is not None
            ],
        }
        if tombs_have_dv:
            d = t.get("deletionVector")
            row["deletionVector"] = (
                {
                    "storageType": d.get("storageType"),
                    "pathOrInlineDv": d.get("pathOrInlineDv"),
                    "offset": d.get("offset"),
                    "sizeInBytes": d.get("sizeInBytes"),
                    "cardinality": d.get("cardinality"),
                }
                if d
                else None
            )
        rows_rm.append(row)

    meta = snap.metadata_raw
    fmt = meta.get("format") or {"provider": "parquet"}
    meta_row = {
        "id": meta.get("id"),
        "name": meta.get("name"),
        "description": meta.get("description"),
        "format": {"provider": fmt.get("provider", "parquet")},
        "schemaString": meta.get("schemaString"),
        "partitionColumns": list(meta.get("partitionColumns") or []),
        "configuration": list(dict(meta.get("configuration") or {}).items()),
        "createdTime": meta.get("createdTime"),
    }
    proto_row = {
        k: snap.protocol.get(k, {"minReaderVersion": 1, "minWriterVersion": 2}.get(k))
        for k, _ in proto_fields
    }

    txn_rows = [
        {"appId": a, "version": int(vv)}
        for a, vv in sorted(snap.app_versions.items())
    ]
    txn_t = pa.struct([("appId", pa.string()), ("version", pa.int64())])
    # live domainMetadata actions ride VERBATIM (protocol § Domain
    # Metadata: checkpoints carry the latest per domain — dropping them
    # erases another engine's state, same loss class as dropping txn)
    dm_rows = [
        {
            "domain": d.get("domain"),
            "configuration": d.get("configuration"),
            "removed": bool(d.get("removed", False)),
        }
        for _, d in sorted(snap.domain_metadata.items())
    ]
    dm_t = pa.struct(
        [
            ("domain", pa.string()),
            ("configuration", pa.string()),
            ("removed", pa.bool_()),
        ]
    )
    def _diagonal(groups: list[tuple[str, object, list]]):
        """One parquet row per action: each named group occupies a
        contiguous row range, null elsewhere (the checkpoint layout
        every engine writes).  Empty groups emit no column."""
        total = sum(len(rows) for _, _, rows in groups)
        cols = {}
        offset = 0
        for name, typ, rows in groups:
            if rows:
                cols[name] = pa.array(
                    [None] * offset + rows + [None] * (total - offset - len(rows)),
                    type=typ,
                )
            offset += len(rows)
        return pa.table(cols), total

    def _put(path: str, tbl) -> None:
        # serialized whole, then installed atomically: a crash
        # mid-encode leaves no torn checkpoint, which
        # _complete_checkpoints would trust by its name
        sink = pa.BufferOutputStream()
        pq.write_table(tbl, sink)
        io.write(path, sink.getvalue().to_pybytes())

    # txn rows MUST ride (protocol: dropping them resets every sink's
    # exactly-once watermark); domainMetadata rides verbatim (same loss
    # class); removes are the retention tombstones filtered above
    if style not in ("auto", "classic", "v2"):
        raise ValueError(f"write_checkpoint: unknown style {style!r}")
    want_v2 = (
        style == "v2"
        or (
            style == "auto"
            and snap.configuration.get("delta.checkpointPolicy", "") == "v2"
        )
    )
    log_dir = _log_dir(table_path)
    if want_v2:
        feats = set(snap.protocol.get("readerFeatures") or [])
        if "v2Checkpoints" not in feats:
            raise ValueError(
                "write_checkpoint(style='v2'): table protocol does not "
                "enable the v2Checkpoints reader feature — readers that "
                "predate it would not find the checkpoint"
            )
        u = str(uuid.uuid4())
        # file actions go to ONE sidecar; everything else tops the
        # uuid-named checkpoint with a checkpointMetadata stamp
        sc_name = f"{u}.parquet"
        sc_path = os.path.join(log_dir, "_sidecars", sc_name)
        sc_tbl, n_sc = _diagonal(
            [("add", add_t, rows_add), ("remove", rm_t, rows_rm)]
        )
        _put(sc_path, sc_tbl)
        sc_info = io.info(sc_path)
        cm_t = pa.struct([("version", pa.int64())])
        sc_t = pa.struct(
            [
                ("path", pa.string()),
                ("sizeInBytes", pa.int64()),
                ("modificationTime", pa.int64()),
            ]
        )
        sc_row = {
            "path": sc_name,
            "sizeInBytes": sc_info.size,
            "modificationTime": sc_info.mtime_ms,
        }
        top_tbl, n_top = _diagonal(
            [
                ("checkpointMetadata", cm_t, [{"version": v}]),
                ("protocol", proto_t, [proto_row]),
                ("metaData", meta_t, [meta_row]),
                ("txn", txn_t, txn_rows),
                ("domainMetadata", dm_t, dm_rows),
                ("sidecar", sc_t, [sc_row]),
            ]
        )
        _put(os.path.join(log_dir, f"{v:020d}.checkpoint.{u}.parquet"), top_tbl)
        n = n_top + n_sc
    else:
        tbl, n = _diagonal(
            [
                ("protocol", proto_t, [proto_row]),
                ("metaData", meta_t, [meta_row]),
                ("txn", txn_t, txn_rows),
                ("domainMetadata", dm_t, dm_rows),
                ("add", add_t, rows_add),
                ("remove", rm_t, rows_rm),
            ]
        )
        _put(os.path.join(log_dir, f"{v:020d}.checkpoint.parquet"), tbl)
    # parts omitted: single-part
    io.write(os.path.join(log_dir, "_last_checkpoint"), json.dumps({"version": v, "size": n}).encode())
    return v


def export_iceberg_to_delta(
    spark: SparkSession,
    iceberg_table,
    delta_path: str,
    partition_columns: list[str] | None = None,
) -> int:
    """One-pass Iceberg → Delta export: scan the Iceberg table's
    current snapshot (full metadata path: manifests, deletes, DVs) and
    write it as a new Delta table, finishing with a checkpoint so the
    result is immediately vacuum-friendly."""
    df = iceberg_table.scan().to_df(spark)
    create_delta_table(delta_path, df.schema, partition_columns)
    v = append_delta(spark, delta_path, df)
    write_checkpoint(delta_path, v)
    return v


def delete_where_delta(spark: SparkSession, table_path: str, predicate) -> int:
    """Merge-on-read DELETE on a Delta table via deletion vectors —
    the write half of the DV loop (the read half is `delta.py` +
    `delta_dv.py`).

    Per the protocol's DV write semantics: for each live file with
    matching rows, the commit carries ``remove(path, old DV)`` +
    ``add(path, NEW DV)`` where the new bitmap is the UNION of the old
    one and the newly-matching row positions (a replacement DV must be
    a superset — repeated deletes COMPACT per file instead of
    accumulating delete files, the same invariant as Iceberg V3's
    `delete_where_dv`).  If the table's protocol predates DVs, the
    commit upgrades it (reader 3 / writer 7 + deletionVectors
    features), which the protocol allows writers to do.

    Scale shape: matching rows travel as narrow (file, pos) pairs —
    positions come from ``_metadata.row_index`` in the SAME scan that
    evaluates the predicate (existing DVs already masked, so a row is
    never deleted twice); bitmaps are grouped per file with one
    ``applyInPandas`` and DV files are written executor-side, one per
    affected data file.  The driver touches one metadata row per
    affected file.  Column-mapped tables are supported (top-level
    renames; the scan reads physical names, staging renames back).
    Returns the committed version.
    """
    snap, live = _live_with_positions(spark, table_path, "delete_where_delta")
    _check_writer_protocol(snap, "delete")
    matches = live.filter(predicate).select("_file_path", "_row_pos")
    actions = _dv_swap_actions(spark, table_path, snap, matches)
    if not actions:
        return snap.version  # nothing matched — no commit
    v = snap.version + 1
    _commit(table_path, v, actions, snap.configuration)
    return v


def _live_with_positions(spark: SparkSession, table_path: str, who: str):
    """(snapshot, live-rows DataFrame with _file_path/_row_pos) — the
    shared front half of the DV-writing DML verbs: existing DVs are
    pre-masked so a row can never be deleted/updated twice."""
    from .delta import _partition_name_map, _scan_files
    from .delta_dv import dv_job_spec

    snap = load_delta(table_path)
    masks = None
    if snap.deletion_vectors:
        masks = {
            p: ("exclude", {"dv": dv_job_spec(table_path, d)})
            for p, d in snap.deletion_vectors.items()
        }
    live = _scan_files(
        spark,
        snap.schema,
        snap.partition_columns,
        snap.files,
        physical_schema=snap.physical_schema,
        position_masks=masks,
        partition_name_map=_partition_name_map(snap),
        with_position=True,
    )
    return snap, live


def _dv_swap_actions(
    spark: SparkSession, table_path: str, snap, matches: DataFrame
) -> list[dict]:
    """DV-swap actions masking ``matches`` ((_file_path, _row_pos)
    rows) out of their files: protocol upgrade when needed, then
    remove(old DV)+add(new DV) per affected file.  [] when no matches.
    Bitmaps union the file's prior DV (superset invariant); DV files
    are written executor-side, one applyInPandas group per file."""
    import pandas as pd
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from .delta import _uri_path

    out_schema = StructType(
        [
            StructField("_file_path", StringType()),
            StructField("storageType", StringType()),
            StructField("pathOrInlineDv", StringType()),
            StructField("offset", IntegerType()),
            StructField("sizeInBytes", IntegerType()),
            StructField("cardinality", LongType()),
        ]
    )
    uri_to_old = {
        _uri_path(p): d for p, d in snap.deletion_vectors.items()
    }
    tp = table_path

    def _write_dv(key, pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        from .delta_dv import read_dv_positions as _rd
        from .delta_dv import write_dv_file as _w

        uri = key[0]
        pos = pdf["_row_pos"].to_numpy(dtype="uint64")
        old = uri_to_old.get(uri)
        if old is not None:
            pos = np.union1d(pos, _rd(tp, old))  # superset invariant
        d = _w(tp, pos)
        return pd.DataFrame(
            [
                {
                    "_file_path": uri,
                    "storageType": d["storageType"],
                    "pathOrInlineDv": d["pathOrInlineDv"],
                    "offset": d["offset"],
                    "sizeInBytes": d["sizeInBytes"],
                    "cardinality": d["cardinality"],
                }
            ]
        )

    dv_rows = matches.groupBy("_file_path").applyInPandas(_write_dv, out_schema).collect()
    if not dv_rows:
        return []

    uri_info = {_uri_path(p): (p, pv) for p, pv in snap.files}

    actions: list[dict] = []
    proto = snap.protocol
    feats = set(proto.get("readerFeatures") or [])
    if int(proto.get("minReaderVersion", 1)) < 3 or "deletionVectors" not in feats:
        # upgrading to the feature vector must ENUMERATE every feature
        # the legacy versions implied (r10 review: dropping columnMapping
        # from a reader-2 table made other engines misread physical
        # names as logical)
        rf, wf = _implied_features(proto)
        actions.append(
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": sorted(rf | {"deletionVectors"}),
                    "writerFeatures": sorted(wf | {"deletionVectors"}),
                }
            }
        )
    now_ms = int(time.time() * 1000)
    io = load_io(table_path)
    for r in dv_rows:
        abs_path, pv = uri_info[r["_file_path"]]
        fi = io.info(abs_path)
        rel = os.path.relpath(abs_path, table_path).replace(os.sep, "/")
        old_dv = snap.deletion_vectors.get(abs_path)
        rm = {
            "path": rel,
            "deletionTimestamp": now_ms,
            "dataChange": True,
            "partitionValues": dict(pv),
        }
        if old_dv is not None:
            rm["deletionVector"] = old_dv
        actions.append({"remove": rm})
        st = snap.file_stats.get(abs_path)
        actions.append(
            {
                "add": {
                    "path": rel,
                    "partitionValues": dict(pv),
                    "size": fi.size,
                    "modificationTime": fi.mtime_ms,
                    "dataChange": True,
                    # bounds over a superset of the live rows — sound
                    # for skipping (may under-skip, never misreads);
                    # the protocol requires DV-carrying adds to say so
                    # explicitly (tightBounds=false), or engines doing
                    # metadata-only COUNT would read the physical
                    # numRecords as the logical row count
                    **(
                        {"stats": json.dumps({**st, "tightBounds": False})}
                        if st
                        else {}
                    ),
                    "deletionVector": {
                        "storageType": r["storageType"],
                        "pathOrInlineDv": r["pathOrInlineDv"],
                        "offset": r["offset"],
                        "sizeInBytes": r["sizeInBytes"],
                        "cardinality": r["cardinality"],
                    },
                }
            }
        )
    return actions


def optimize_delta(
    spark: SparkSession,
    table_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 2,
) -> int | None:
    """OPTIMIZE (bin-packing compaction): rewrite groups of small live
    files into ~``target_file_bytes`` files, committed with
    ``dataChange=false`` adds + removes — the visible row set is
    UNCHANGED, which is exactly what downstream streams key on (this
    repo's Delta stream source passes such commits through silently,
    as delta-spark does).

    Deletion vectors are FOLDED: compaction reads files through their
    DV masks, so the rewritten files carry only live rows and no DV —
    row-set-preserving, hence still dataChange=false (delta-spark's
    PURGE semantics).  Per-partition grouping: only files sharing a
    partition tuple compact together (a rewritten file must keep one
    partitionValues).  Returns the committed version, or None when no
    group had ``min_files`` small files.

    Scale shape: the rewrite is ONE distributed scan + write over the
    selected files (repartitioned to ceil(bytes/target) outputs); the
    driver touches one metadata row per in/out file.  Column-mapped
    tables are refused (writer scope)."""
    import math

    from .delta import _partition_name_map, _scan_files, load_delta
    from .delta_dv import dv_job_spec

    snap = load_delta(table_path)
    _check_writer_protocol(snap, "optimize")

    # group live files by partition tuple; pick small-file groups
    io = load_io(table_path)
    size = {p: io.info(p).size for p, _ in snap.files}
    groups: dict[tuple, list[tuple[str, dict]]] = {}
    for p, pv in snap.files:
        if size[p] < target_file_bytes:
            groups.setdefault(tuple(sorted(pv.items())), []).append((p, pv))
    victims = [g for g in groups.values() if len(g) >= min_files]
    if not victims:
        return None
    flat = [fp for g in victims for fp in g]

    masks = None
    if snap.deletion_vectors:
        masks = {
            p: ("exclude", {"dv": dv_job_spec(table_path, d)})
            for p, d in snap.deletion_vectors.items()
            if p in {p2 for p2, _ in flat}
        } or None
    df = _scan_files(
        spark,
        snap.schema,
        snap.partition_columns,
        flat,
        physical_schema=snap.physical_schema,
        position_masks=masks,
        partition_name_map=_partition_name_map(snap),
    )
    total = sum(size[p] for p, _ in flat)
    n_out = max(1, math.ceil(total / target_file_bytes))
    df = (
        df.repartition(n_out, *snap.partition_columns)
        if snap.partition_columns
        else df.coalesce(n_out)
    )
    df, part_phys = _to_physical(snap, df)
    adds = _stage_and_collect(spark, table_path, df, part_phys)
    now = int(time.time() * 1000)
    actions: list[dict] = []
    for a in adds:
        a["add"]["dataChange"] = False
        actions.append(a)
    for p, pv in flat:
        rm = {
            "path": os.path.relpath(p, table_path).replace(os.sep, "/"),
            "deletionTimestamp": now,
            "dataChange": False,
            "partitionValues": dict(pv),
        }
        dv = snap.deletion_vectors.get(p)
        if dv is not None:
            rm["deletionVector"] = dv
        actions.append({"remove": rm})
    v = snap.version + 1
    _commit(table_path, v, actions, snap.configuration)
    return v


def zorder_delta(
    spark: SparkSession,
    table_path: str,
    *cols: str,
    n_files: int = 8,
) -> int:
    """OPTIMIZE ... ZORDER BY (delta-spark parity): rewrite the live
    file set clustered on the Morton z-value of ``cols`` so every
    file's (min, max) is tight on ALL cluster columns — the
    data-skipping layout that makes multi-dimensional point/range
    predicates prune files from the log's per-file stats at 100 TB.

    Same commit shape as OPTIMIZE (delta-spark emits ZORDER rewrites
    as dataChange=false adds+removes — the visible row set is
    unchanged, so streams pass the commit through silently). Deletion
    vectors FOLD: the rewrite reads through DV masks, rewritten files
    carry only live rows and no DV. Partitioned tables cluster WITHIN
    partitions: rows are jointly range-partitioned on
    (partition cols…, z) and sorted the same way inside each task, so
    every output file owns a contiguous z-range inside its partition
    dir. The z-value is pure codegen (operators/zorder.zvalue_n — the
    iceberg rewrite_clustered kernel), no UDF; the rewrite is ONE
    distributed range-shuffle + write.

    Returns the committed version. Raises on column-mapped tables
    (writer scope, same refusal as OPTIMIZE) and on empty tables.
    """
    from .delta import _partition_name_map, _scan_files, load_delta
    from .delta_dv import dv_job_spec
    from .operators.zorder import zvalue_n

    snap = load_delta(table_path)
    _check_writer_protocol(snap, "optimize")
    if not snap.files:
        raise ValueError("zorder_delta: table has no live files")
    bad = [c for c in cols if c in snap.partition_columns]
    if bad:
        raise ValueError(
            f"zorder columns {bad} are partition columns — they are "
            "constant within a file already; cluster on data columns"
        )
    from .operators.zorder import check_zorder_type

    field_types = {f.name: f.dataType.simpleString() for f in snap.schema.fields}
    for c in cols:
        if c not in field_types:
            raise ValueError(f"zorder column {c!r} not in the table schema")
        check_zorder_type(c, field_types[c])

    masks = None
    if snap.deletion_vectors:
        masks = {
            p: ("exclude", {"dv": dv_job_spec(table_path, d)})
            for p, d in snap.deletion_vectors.items()
        }
    df = _scan_files(
        spark,
        snap.schema,
        snap.partition_columns,
        snap.files,
        physical_schema=snap.physical_schema,
        position_masks=masks,
        partition_name_map=_partition_name_map(snap),
    )
    lo = df.agg(
        *[F.min(F.col(c).cast("bigint")).alias(f"m{i}") for i, c in enumerate(cols)]
    ).first()
    z = zvalue_n(
        [F.col(c) for c in cols], [int(lo[f"m{i}"] or 0) for i in range(len(cols))]
    )
    staged = df.withColumn("_zcluster", z)
    rb = [*[F.col(c) for c in snap.partition_columns], F.col("_zcluster")]
    staged = staged.repartitionByRange(n_files, *rb).sortWithinPartitions(*rb)
    # _to_physical's schema projection drops _zcluster while preserving
    # the range distribution + in-task order the write needs
    staged, part_phys = _to_physical(snap, staged)
    adds = _stage_and_collect(spark, table_path, staged, part_phys)
    now = int(time.time() * 1000)
    actions: list[dict] = []
    for a in adds:
        a["add"]["dataChange"] = False
        actions.append(a)
    for p, pv in snap.files:
        rm = {
            "path": os.path.relpath(p, table_path).replace(os.sep, "/"),
            "deletionTimestamp": now,
            "dataChange": False,
            "partitionValues": dict(pv),
        }
        dv = snap.deletion_vectors.get(p)
        if dv is not None:
            rm["deletionVector"] = dv
        actions.append({"remove": rm})
    v = snap.version + 1
    _commit(table_path, v, actions, snap.configuration)
    return v


def restore_delta(table_path: str, version: int) -> int:
    """RESTORE TABLE ... TO VERSION AS OF: one commit that makes the
    live file set equal version ``version``'s again — adds back files
    the target version had that the current one lacks, removes files
    the current one gained (dataChange=true on both: rows visibly
    change).  Time travel to the in-between versions keeps working; the
    restore is itself just another commit (the protocol has no special
    restore action — this mirrors delta-spark's RESTORE).

    Deletion vectors ride along: a file restored WITH its old DV
    descriptor masks exactly the rows it masked then.  Driver-only,
    metadata-scale."""
    io = load_io(table_path)
    snap_now = load_delta(table_path)
    _check_writer_protocol(snap_now, "restore")
    snap_old = load_delta(table_path, version=version)
    if snap_old.metadata_raw.get("schemaString") != snap_now.metadata_raw.get(
        "schemaString"
    ):
        raise ValueError(
            "restore across a schema change is not supported — the "
            "restored files would not match the current schema"
        )

    now_files = {p: (pv, snap_now.deletion_vectors.get(p)) for p, pv in snap_now.files}
    old_files = {p: (pv, snap_old.deletion_vectors.get(p)) for p, pv in snap_old.files}
    now_ms = int(time.time() * 1000)
    # removes FIRST: a path whose DV differs between the two versions
    # needs the full swap — remove(path, CURRENT dv) + add(path, old
    # dv) — because the protocol reconciles file actions by (path, dv
    # uniqueId); emitting only the add (the r10 bug) left BOTH logical
    # files live for spec-compliant readers, duplicating rows.
    removes: list[dict] = []
    adds: list[dict] = []
    for p, (pv, dv) in sorted(now_files.items()):
        if p in old_files and old_files[p] == (pv, dv):
            continue  # identical instance survives untouched
        rm = {
            "path": os.path.relpath(p, table_path).replace(os.sep, "/"),
            "deletionTimestamp": now_ms,
            "dataChange": True,
            "partitionValues": dict(pv),
        }
        if dv is not None:
            rm["deletionVector"] = dv
        removes.append({"remove": rm})
    for p, (pv, dv) in sorted(old_files.items()):
        if p in now_files and now_files[p] == (pv, dv):
            continue  # unchanged live file
        rel = os.path.relpath(p, table_path).replace(os.sep, "/")
        try:
            fi = io.info(p)
        except FileNotFoundError:
            raise FileNotFoundError(
                f"restore target version {version} references {rel}, which "
                "was vacuumed — cannot restore"
            ) from None
        add = {
            "path": rel,
            "partitionValues": dict(pv),
            "size": fi.size,
            "modificationTime": fi.mtime_ms,
            "dataChange": True,
        }
        st = snap_old.file_stats.get(p)
        if st:
            # a DV-carrying add must mark its stats wide (protocol:
            # tightBounds=false) — they bound the physical file, a
            # superset of the live rows
            add["stats"] = json.dumps(
                {**st, "tightBounds": False} if dv is not None else st
            )
        if dv is not None:
            add["deletionVector"] = dv
        adds.append({"add": add})
    actions = removes + adds
    if not actions:
        return snap_now.version  # already at the target state
    v = snap_now.version + 1
    _commit(table_path, v, actions, snap_now.configuration)
    return v


def update_where_delta(
    spark: SparkSession, table_path: str, predicate, assignments: dict
) -> int:
    """Merge-on-read UPDATE: rows matching ``predicate`` get
    ``assignments`` ({column: Column expression}) applied — ONE atomic
    commit that (a) masks the pre-image rows out of their files via
    deletion-vector swaps and (b) adds new files carrying the
    post-image rows (dataChange=true on everything).

    This is how DV-enabled writers implement UPDATE without rewriting
    whole files: touched files keep their untouched rows behind a
    bitmap, only the changed rows' bytes are written.  CDF: when the
    table sets delta.enableChangeDataFeed=true, the commit ALSO writes
    change-data files under _change_data/ carrying the
    update_preimage/update_postimage row pairs (protocol § "Add CDC
    File") — readers surface row-accurate updates instead of
    synthesized delete+insert.

    Scale shape: one scan evaluates the predicate (positions from
    ``_metadata.row_index``); matched rows flow straight into the
    staged distributed write; DV bitmaps build executor-side.  The
    driver touches one metadata row per affected/new file.  Returns
    the committed version (unchanged version when nothing matched)."""
    snap, live = _live_with_positions(spark, table_path, "update_where_delta")
    _check_writer_protocol(snap, "update")
    known = {f.name for f in snap.schema.fields}
    for col in assignments:
        if col not in known:
            raise ValueError(f"update_where_delta: unknown column {col!r}")
    matched = live.filter(predicate)
    matched = matched.persist()  # feeds BOTH the DV build and the rewrite
    try:
        actions = _dv_swap_actions(
            spark, table_path, snap, matched.select("_file_path", "_row_pos")
        )
        if not actions:
            return snap.version  # nothing matched — no commit
        pre = matched.select(*[f.name for f in snap.schema.fields])
        post = matched.select(
            *[
                (assignments[f.name].alias(f.name) if f.name in assignments else f.name)
                for f in snap.schema.fields
            ]
        )
        _validate_constraints(snap, post, "update")
        cdc_actions: list[dict] = []
        if _cdf_enabled(snap):
            cdc_actions = _stage_cdc(
                spark,
                table_path,
                snap,
                pre.withColumn("_change_type", F.lit("update_preimage")).unionByName(
                    post.withColumn("_change_type", F.lit("update_postimage"))
                ),
            )
        post, part_phys = _to_physical(snap, post)
        adds = _stage_and_collect(spark, table_path, post, part_phys)
        v = snap.version + 1
        _commit(table_path, v, cdc_actions + actions + adds, snap.configuration)
        return v
    finally:
        matched.unpersist()


def merge_upsert_delta(
    spark: SparkSession,
    table_path: str,
    source: DataFrame,
    key_columns: list[str],
) -> int:
    """MERGE-style upsert in ONE atomic commit: every target row whose
    key tuple appears in ``source`` is replaced by the source row;
    source rows with new keys are inserts — the Delta twin of the
    Iceberg face's `merge_upsert` (which rides equality deletes; Delta
    has none, so the pre-images are masked with deletion-vector swaps
    instead).

    Mechanics: one scan finds target rows matching source keys (a
    LEFT SEMI join — only keys travel); their (file, pos) pairs become
    DV swaps; the ENTIRE source stages as new data files; everything
    commits together.  O(|source| + matched rows), never a
    read-modify-write of untouched files.  Source keys must be unique
    (checked — one aggregate): two source rows for one target key is
    the ambiguous MERGE delta-spark also refuses.
    """
    dup = (
        source.groupBy(*key_columns).count().filter(F.col("count") > 1).limit(1).count()
    )
    if dup:
        raise ValueError(
            "merge_upsert_delta: source has duplicate key tuples — "
            "ambiguous MERGE (multiple source rows match one target row)"
        )
    snap, live = _live_with_positions(spark, table_path, "merge_upsert_delta")
    _check_writer_protocol(snap, "merge")
    # no broadcast hint: AQE broadcasts small key sets itself, and a
    # forced broadcast of a 100M-key source would OOM the driver
    keys = source.select(*key_columns)
    matched = live.join(keys, key_columns, "left_semi")
    cdf = _cdf_enabled(snap)
    if cdf:
        matched = matched.persist()  # feeds the DV build AND the cdc write
    try:
        actions = _dv_swap_actions(
            spark, table_path, snap, matched.select("_file_path", "_row_pos")
        )
        post = source.select(*[f.name for f in snap.schema.fields])
        _validate_constraints(snap, post, "merge")
        cdc_actions: list[dict] = []
        if cdf:
            # CDF authority for the whole commit: updated keys emit
            # pre/post image pairs, new keys emit inserts (cdc files are
            # the SOLE change source for a commit that carries them)
            cols = [f.name for f in snap.schema.fields]
            matched_keys = matched.select(*key_columns).distinct()
            pre = matched.select(*cols).withColumn(
                "_change_type", F.lit("update_preimage")
            )
            src_matched = post.join(
                matched_keys, key_columns, "left_semi"
            ).withColumn("_change_type", F.lit("update_postimage"))
            src_new = post.join(matched_keys, key_columns, "left_anti").withColumn(
                "_change_type", F.lit("insert")
            )
            cdc_actions = _stage_cdc(
                spark,
                table_path,
                snap,
                pre.unionByName(src_matched).unionByName(src_new),
            )
    finally:
        if cdf:
            matched.unpersist()
    post, part_phys = _to_physical(snap, post)
    adds = _stage_and_collect(spark, table_path, post, part_phys)
    v = snap.version + 1
    _commit(table_path, v, cdc_actions + actions + adds, snap.configuration)
    return v


def merge_delta(
    spark: SparkSession,
    table_path: str,
    source: DataFrame,
    key_columns: list[str],
    *,
    when_matched_update: dict[str, str] | str | None = "all",
    matched_condition: str | None = None,
    when_matched_delete: str | bool | None = None,
    when_not_matched_insert: bool = True,
    not_matched_condition: str | None = None,
    when_not_matched_by_source_delete: str | bool | None = None,
) -> int:
    """Full MERGE WHEN-clause matrix in ONE atomic commit — the
    delta-spark `MERGE INTO` surface (`whenMatchedUpdate/Delete`,
    `whenNotMatchedInsert`, `whenNotMatchedBySourceDelete`), built on
    the same DV-swap + new-files mechanics as :func:`merge_upsert_delta`
    (which remains the fast whole-row-upsert special case).

    Conditions and update expressions are SQL strings over the aliases
    ``t`` (target row) and ``s`` (source row), e.g.
    ``matched_condition="s.o_totalprice > t.o_totalprice"`` or
    ``when_matched_update={"o_totalprice": "s.o_totalprice + 1"}``.
    ``when_matched_update="all"`` replaces matched rows with the source
    row. Clause precedence on a matched row is delete-then-update
    (pass ``when_matched_delete=True`` for an unconditional delete,
    or a SQL condition); a matched row satisfying neither clause's
    condition is left untouched. ``when_not_matched_by_source_delete``
    removes target rows whose key has NO source row (condition over
    ``t`` only; ``True`` = all of them) — the anti-join side delta-spark
    added in 2.4.

    Mechanics: one positions-scan of the target; matched rows join the
    source on keys (source keys must be unique — same ambiguity refusal
    as delta-spark); rows falling to a delete/update clause become DV
    swaps; update post-images and conditional inserts stage as new
    files; CDF commits carry update_pre/postimage + delete + insert
    rows. O(|source| + affected rows), never a rewrite of untouched
    files.
    """
    dup = (
        source.groupBy(*key_columns).count().filter(F.col("count") > 1).limit(1).count()
    )
    if dup:
        raise ValueError(
            "merge_delta: source has duplicate key tuples — ambiguous "
            "MERGE (multiple source rows match one target row)"
        )
    snap, live = _live_with_positions(spark, table_path, "merge_delta")
    _check_writer_protocol(snap, "merge")
    cols = [f.name for f in snap.schema.fields]
    # validate clause arguments BEFORE any side effect: _dv_swap_actions
    # writes DV files under the table — an invalid update map must fail
    # while the table directory is still untouched
    if when_matched_update == "all":
        upd_exprs = {c: f"s.{c}" for c in cols}
    else:
        upd_exprs = dict(when_matched_update or {})
        unknown = set(upd_exprs) - set(cols)
        if unknown:
            raise ValueError(
                f"merge_delta: unknown update columns {sorted(unknown)}"
            )

    def cond(expr, default: bool):
        """None -> lit(default); True -> always; str -> SQL over t/s."""
        if expr is None:
            return F.lit(default)
        if expr is True:
            return F.lit(True)
        return F.expr(expr)

    # the full-table positions scan feeds up to three action subtrees
    # (matched join, by-source anti-join, insert anti-join) — persist it
    # once or each action re-reads every data file through its DV masks
    live = live.persist()
    t = live.alias("t")
    s = source.alias("s")
    joined = t.join(s, [F.col(f"t.{k}") == F.col(f"s.{k}") for k in key_columns])

    del_c = cond(when_matched_delete, False) if when_matched_delete is not None else F.lit(False)
    upd_c = cond(matched_condition, True) if when_matched_update is not None else F.lit(False)
    verdict = (
        F.when(del_c, F.lit("delete"))
        .when(upd_c, F.lit("update"))
        .otherwise(F.lit("keep"))
    )
    affected = joined.withColumn("_verdict", verdict).filter(
        F.col("_verdict") != "keep"
    )
    # everything downstream reads `affected` 2-4 times (DV build, post
    # images, CDF pre-images) — persist the narrow affected set once
    affected = affected.persist()
    nmbs_df = None
    try:
        masks_src = affected.select(
            F.col("t._file_path").alias("_file_path"),
            F.col("t._row_pos").alias("_row_pos"),
        )
        # not-matched-by-source deletes mask additional target rows
        if when_not_matched_by_source_delete is not None:
            nmbs = live.alias("t").join(
                source.select(*key_columns).alias("s"),
                [F.col(f"t.{k}") == F.col(f"s.{k}") for k in key_columns],
                "left_anti",
            )
            nmbs_df = nmbs.filter(
                cond(when_not_matched_by_source_delete, True)
            ).persist()
            masks_src = masks_src.unionByName(
                nmbs_df.select("_file_path", "_row_pos")
            )
        actions = _dv_swap_actions(spark, table_path, snap, masks_src)

        # (update-column names validated above, before any file writes)
        updates_df = (
            affected.filter(F.col("_verdict") == "update").select(
                *[
                    F.expr(upd_exprs[c]).alias(c)
                    if c in upd_exprs
                    else F.col(f"t.{c}").alias(c)
                    for c in cols
                ]
            )
            if when_matched_update is not None
            else None
        )
        # conditional inserts for source rows with no target match
        inserts_df = None
        if when_not_matched_insert:
            unmatched = source.alias("s").join(
                live.select(*key_columns).alias("t"),
                [F.col(f"s.{k}") == F.col(f"t.{k}") for k in key_columns],
                "left_anti",
            )
            inserts_df = unmatched.filter(cond(not_matched_condition, True)).select(
                *[F.col(c).alias(c) for c in cols]
            )

        post_parts = [d for d in (updates_df, inserts_df) if d is not None]
        post = post_parts[0] if post_parts else None
        for extra in post_parts[1:]:
            post = post.unionByName(extra)

        cdc_actions: list[dict] = []
        if _cdf_enabled(snap):
            pieces = []
            upd_rows = affected.filter(F.col("_verdict") == "update")
            pieces.append(
                upd_rows.select(*[F.col(f"t.{c}").alias(c) for c in cols]).withColumn(
                    "_change_type", F.lit("update_preimage")
                )
            )
            if updates_df is not None:
                pieces.append(
                    updates_df.withColumn("_change_type", F.lit("update_postimage"))
                )
            del_rows = affected.filter(F.col("_verdict") == "delete").select(
                *[F.col(f"t.{c}").alias(c) for c in cols]
            )
            if nmbs_df is not None:
                del_rows = del_rows.unionByName(nmbs_df.select(*cols))
            pieces.append(del_rows.withColumn("_change_type", F.lit("delete")))
            if inserts_df is not None:
                pieces.append(
                    inserts_df.withColumn("_change_type", F.lit("insert"))
                )
            cdc = pieces[0]
            for p in pieces[1:]:
                cdc = cdc.unionByName(p)
            cdc_actions = _stage_cdc(spark, table_path, snap, cdc)

        adds: list[dict] = []
        if post is not None:
            _validate_constraints(snap, post, "merge")
            post, part_phys = _to_physical(snap, post)
            adds = _stage_and_collect(spark, table_path, post, part_phys)
    finally:
        affected.unpersist()
        live.unpersist()
        if nmbs_df is not None:
            nmbs_df.unpersist()
    if not actions and not adds:
        return snap.version  # no clause fired — no commit
    v = snap.version + 1
    _commit(table_path, v, cdc_actions + actions + adds, snap.configuration)
    return v


def link_delta_to_iceberg(spark: SparkSession, delta_path: str, iceberg_location: str):
    """ZERO-COPY Delta → Iceberg migration: adopt the Delta table's
    live parquet files as Iceberg data files IN PLACE (the add_files
    import path — footer stats land in manifests, so metrics pruning
    works immediately) and translate Delta deletion vectors into
    Iceberg V3 Puffin DVs.  The reverse of :func:`link_iceberg_to_delta`
    — together they close the two-way zero-copy loop; at 100 TB this
    is a metadata commit, not a full-table rewrite.

    DV translation is EXECUTOR-side end to end: the driver ships one
    decode spec per masked file (delta_dv.dv_job_spec), tasks decode
    the roaring bitmaps and `write_dv_files` re-serializes them into
    Puffin (one applyInPandas shard per ~32 files).  The two formats
    share the roaring blob framing but differ in container (Delta
    version-byte file vs Puffin header/footer), so bytes are
    re-wrapped, never aliased.

    Refused (use `delta_to_iceberg_migrate`'s copying path instead):
      * partitioned Delta tables — partition values live ONLY in the
        Delta log (files lack the columns); Iceberg identity-fill from
        manifest metadata is not implemented in this scan;
      * column-mapped tables — files carry opaque physical names that
        by-name adoption would null out.
    Like the reverse link, the result ALIASES the Delta files: VACUUM
    on the Delta side after linking goes stale — a migration stepping
    stone, not dual-write."""
    from .delta_dv import dv_job_spec
    from .iceberg import write as W
    from .iceberg.manifests import read_manifest_list
    from .iceberg.schema import Schema
    from .iceberg.transforms import PartitionSpec
    from .iceberg.types import from_spark_type

    snap = load_delta(delta_path)
    if snap.partition_columns:
        raise NotImplementedError(
            "link_delta_to_iceberg: partitioned Delta table — partition "
            "values exist only in the Delta log, not in the data files; "
            "use delta_to_iceberg_migrate (copying) instead"
        )
    if snap.physical_schema is not None:
        raise NotImplementedError(
            "link_delta_to_iceberg: column-mapped Delta table — data "
            "files carry opaque physical names; use "
            "delta_to_iceberg_migrate (copying) instead"
        )

    ids = iter(range(1, 1 << 20))
    st = from_spark_type(snap.schema, lambda: next(ids))
    schema = Schema(tuple(st.fields), schema_id=0)
    t = W.create_table(iceberg_location, schema, PartitionSpec([]))
    t = W.add_files(t, [os.path.abspath(p) for p, _ in snap.files])

    if snap.deletion_vectors:
        rows = [
            (os.path.abspath(p), json.dumps({"dv": dv_job_spec(delta_path, d)}))
            for p, d in sorted(snap.deletion_vectors.items())
        ]
        union_df = _decoded_positions_df(spark, rows, "file_path", "pos")
        dv_files = W.write_dv_files(t, union_df)
        if dv_files:
            keep = read_manifest_list(
                t.io.read(t.current_snapshot().manifest_list)
            )
            t = W._commit_snapshot(
                t, [], W.OP_DELETE, keep_manifests=keep, delete_files=dv_files
            )
    return t


def link_iceberg_to_delta(
    spark: SparkSession, iceberg_table, delta_path: str
) -> int:
    """ZERO-COPY Iceberg → Delta export: register the Iceberg table's
    live parquet data files in a new Delta log BY ABSOLUTE PATH (the
    protocol allows absolute add paths) instead of rewriting them —
    O(metadata) migration, not O(data).  Positional delete state
    (V2 delete files and V3 Puffin DVs) is translated into Delta
    deletion vectors: positions decode EXECUTOR-side (the driver ships
    only blob coordinates), bitmaps re-serialize per data file via one
    applyInPandas.  The two formats share the roaring framing, but a
    Delta DV file needs its own version-byte header, so the bytes are
    re-wrapped, never reinterpreted in place.

    At 100 TB this is the difference between a metadata commit and a
    full-table rewrite.  The linked table aliases the Iceberg files:
    run Iceberg compaction/GC after linking and the Delta face goes
    stale — it is a migration stepping stone, not a dual-write setup.

    Refused (use export_iceberg_to_delta's rewrite path instead):
      * equality deletes (positions would require evaluating the
        equality predicate — the fold path does that naturally);
      * multi-schema histories (a linked reader projects by NAME; a
        renamed column would silently null out).
    Partition columns are not declared on the Delta side: Iceberg data
    files CONTAIN all data columns, Delta partition columns must NOT
    be in the files — the linked table is unpartitioned metadata-wise
    (engine-side predicate pushdown still prunes row groups).
    """
    import pandas as pd
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from .iceberg.table import position_deletes_df, strip_file_scheme

    md = iceberg_table.metadata
    if len(md.schemas or []) > 1:
        raise NotImplementedError(
            "link_iceberg_to_delta: table has evolved schemas — a linked "
            "Delta reader projects by NAME and would misread renamed "
            "columns; use export_iceberg_to_delta (rewrite) instead"
        )
    tasks = iceberg_table.scan().plan_files()
    if any(t.eq_delete_files for t in tasks):
        raise NotImplementedError(
            "link_iceberg_to_delta: table carries equality deletes; "
            "use export_iceberg_to_delta (rewrite) to fold them"
        )
    non_parquet = sorted(
        {t.file.file_format for t in tasks if t.file.file_format != "PARQUET"}
    )
    if non_parquet:
        raise NotImplementedError(
            f"link_iceberg_to_delta: table has {non_parquet} data files; "
            "Delta's format is parquet-only — use export_iceberg_to_delta "
            "(rewrite) instead"
        )

    # delete positions per LIVE data file: V2 positional-delete parquet
    # (distributed read) + V3 Puffin DVs (executor-side decode). A
    # parquet delete file also carries rows for files a later CoW
    # rewrite removed; the semi-join keeps those from becoming DV files
    # that no add refers to.
    deletes = position_deletes_df(
        spark, [d for t in tasks for d in t.delete_files], iceberg_table.properties
    )
    deletes_by_file: dict[str, dict] = {}
    if deletes is not None:
        live = spark.createDataFrame(
            [(strip_file_scheme(t.file.file_path),) for t in tasks], "path string"
        )
        all_pos = (
            deletes[0]
            .toDF("path", "pos")
            .join(F.broadcast(live), "path", "left_semi")
        )
        out_schema = StructType(
            [
                StructField("path", StringType()),
                StructField("storageType", StringType()),
                StructField("pathOrInlineDv", StringType()),
                StructField("offset", IntegerType()),
                StructField("sizeInBytes", IntegerType()),
                StructField("cardinality", LongType()),
            ]
        )
        dp = delta_path

        def _mk_dv(key, pdf):
            import numpy as np

            from .delta_dv import write_dv_file as _w

            pos = np.unique(pdf["pos"].to_numpy(dtype="uint64"))
            d = _w(dp, pos)
            return pd.DataFrame([{"path": key[0], **d}])

        rows = all_pos.groupBy("path").applyInPandas(_mk_dv, out_schema).collect()
        deletes_by_file = {
            r["path"]: {
                "storageType": r["storageType"],
                "pathOrInlineDv": r["pathOrInlineDv"],
                "offset": r["offset"],
                "sizeInBytes": r["sizeInBytes"],
                "cardinality": r["cardinality"],
            }
            for r in rows
        }

    schema = iceberg_table.scan().to_df(spark).schema
    io = load_io(delta_path)
    if [f for f in io.list_dir(_log_dir(delta_path)) if f.endswith(".json")]:
        raise FileExistsError(f"{delta_path} already has a _delta_log")
    proto = (
        {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors"],
            "writerFeatures": ["deletionVectors"],
        }
        if deletes_by_file
        else {"minReaderVersion": 1, "minWriterVersion": 2}
    )
    actions: list[dict] = [
        {"protocol": proto},
        {
            "metaData": {
                "id": str(uuid.uuid4()),
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema.json(),
                "partitionColumns": [],
                "configuration": {"icegopher.linked-from": iceberg_table.location},
                "createdTime": int(time.time() * 1000),
            }
        },
    ]
    for t in sorted(tasks, key=lambda t: t.file.file_path):
        abs_path = strip_file_scheme(t.file.file_path)
        fi = io.info(abs_path)
        add = {
            "path": abs_path,  # absolute: zero-copy link
            "partitionValues": {},
            "size": int(t.file.file_size_in_bytes or fi.size),
            "modificationTime": fi.mtime_ms,
            "dataChange": True,
        }
        dv = deletes_by_file.get(abs_path)
        if dv is not None:
            add["deletionVector"] = dv
        actions.append({"add": add})
    _commit(delta_path, 0, actions)
    return 0


def add_column_delta(table_path: str, name: str, spark_type: str) -> int:
    """ALTER TABLE ADD COLUMN (nullable, top-level): one metaData
    commit extending the schema.  Files written before the change lack
    the column and read back as NULLs (schema-on-read); under column
    mapping the new field gets the next id + a fresh physical name.
    Driver-only, metadata-scale."""
    from pyspark.sql.types import StructField, StructType, _parse_datatype_string

    snap = load_delta(table_path)
    _check_writer_protocol(snap, "alter")
    if any(f.name == name for f in snap.schema.fields):
        raise ValueError(f"column {name!r} already exists")
    dt = _parse_datatype_string(spark_type)
    meta = dict(snap.metadata_raw)
    sch = json.loads(meta["schemaString"])
    fj = json.loads(StructType([StructField(name, dt, True)]).json())["fields"][0]
    conf = dict(meta.get("configuration") or {})
    if snap.column_mapping_mode != "none":
        next_id = int(conf.get("delta.columnMapping.maxColumnId", "0")) + 1
        fj["metadata"] = {
            **(fj.get("metadata") or {}),
            "delta.columnMapping.id": next_id,
            "delta.columnMapping.physicalName": f"col-{uuid.uuid4().hex[:8]}",
        }
        conf["delta.columnMapping.maxColumnId"] = str(next_id)
    sch["fields"].append(fj)
    meta["schemaString"] = json.dumps(sch)
    meta["configuration"] = conf
    v = snap.version + 1
    _commit(table_path, v, [{"metaData": meta}], conf)
    return v


def set_properties_delta(table_path: str, properties: dict[str, str]) -> int:
    """ALTER TABLE SET TBLPROPERTIES: one metaData commit merging
    ``properties`` into the configuration (None value = unset)."""
    snap = load_delta(table_path)
    _check_writer_protocol(snap, "alter")
    meta = dict(snap.metadata_raw)
    conf = dict(meta.get("configuration") or {})
    for k, v in properties.items():
        if v is None:
            conf.pop(k, None)
        else:
            conf[k] = str(v)
    meta["configuration"] = conf
    v = snap.version + 1
    _commit(table_path, v, [{"metaData": meta}], conf)
    return v
