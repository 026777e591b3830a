"""Write path: create table, append, overwrite, and copy-on-write
delete — producing real Iceberg metadata (manifests, manifest list,
metadata JSON, version hint) committed with optimistic concurrency.

This is [S/X] surface: the reference's write path is WIP
(cmd/icegopher/main.go:314 "not implemented: Writing is WIP"; operation
enum exists at table/snapshots.go:32-39). The layout follows the public
Iceberg spec. Data files are written by Spark executors (parallel,
clustered by the partition transform Columns); everything else is small
driver-side metadata.
"""

from __future__ import annotations

import dataclasses
import os
import time
import uuid as _uuid
from datetime import date, datetime, timezone
from decimal import Decimal
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .io import load_io, strip_scheme
from .literals import Literal, literal_to_bytes
from .manifests import (
    DataFile,
    DataFileContent,
    FieldSummary,
    ManifestContent,
    ManifestEntry,
    ManifestEntryStatus,
    ManifestFile,
    partition_avro_fields_for,
    write_manifest,
    write_manifest_list,
)
from .metadata import (
    OP_APPEND,
    OP_DELETE,
    OP_OVERWRITE,
    CommitFailedError,
    Snapshot,
    SnapshotRef,
    TableMetadata,
    apply_updates,
    parse_metadata,
)
from .refs import _ref_update
from .schema import Schema
from .table import Table, current_version, read_tasks, strip_file_scheme_col, version_path
from .transforms import PartitionSpec
from .types import (
    BinaryType,
    BooleanType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IcebergType,
    IntegerType,
    LongType,
    StringType,
    TimestampType,
    TimestampTzType,
)


def create_table(
    location: str,
    schema: Schema,
    spec: PartitionSpec | None = None,
    properties: dict[str, str] | None = None,
    sort_order: "SortOrder | None" = None,
    format_version: int = 2,
) -> Table:
    """Create a new (empty) table at ``location`` with metadata/v1.

    ``format_version=3`` enables V3 features that need table-level
    state: row lineage (``next-row-id`` starts at 0; every commit
    assigns ``first-row-id`` ranges) — deletion vectors work on either
    version here, but a spec-strict reader expects them only under v3.
    """
    from .metadata import SortOrder  # noqa: F401 (annotation)

    if format_version not in (2, 3):
        raise ValueError(f"create_table supports format versions 2 and 3, got {format_version}")
    location = strip_scheme(location).rstrip("/")
    spec = spec or PartitionSpec()
    md = {
        "format-version": format_version,
        "table-uuid": str(_uuid.uuid4()),
        "location": location,
        "last-updated-ms": int(time.time() * 1000),
        "last-column-id": schema.highest_field_id,
        "schemas": [schema.to_json_dict()],
        "current-schema-id": schema.schema_id,
        "partition-specs": [spec.to_json_dict()],
        "default-spec-id": spec.spec_id,
        "last-partition-id": max((f.field_id for f in spec.fields), default=999),
        "properties": properties or {},
        "current-snapshot-id": -1,
        "snapshots": [],
        "snapshot-log": [],
        "metadata-log": [],
        "sort-orders": [
            sort_order.to_json_dict() if sort_order else {"order-id": 0, "fields": []}
        ],
        "default-sort-order-id": sort_order.order_id if sort_order else 0,
        "refs": {},
        "last-sequence-number": 0,
    }
    if format_version >= 3:
        md["next-row-id"] = 0
    meta = parse_metadata(md)
    io = load_io(location)
    _commit_metadata(io, location, meta, expected_version=0)
    return Table(("local", os.path.basename(location)), meta, version_path(location, 1), io=io)


_VERSION_RE = __import__("re").compile(r"/v(\d+)\.metadata\.json$")


def _loaded_version(table: Table) -> int:
    """The version this writer's metadata was LOADED at — conflicts are
    detected against this, not whatever is newest on disk (otherwise a
    stale writer silently clobbers a concurrent commit)."""
    m = _VERSION_RE.search(table.metadata_location or "")
    if m:
        return int(m.group(1))
    return current_version(table.io, table.metadata.location)


def commit_with_retry(table: Table, fn, attempts: int = 3) -> Table:
    """Run ``fn(table) -> Table`` under optimistic-concurrency retry:
    on ``CommitFailedError`` (a concurrent writer advanced the table —
    reference enumerates ErrCommitFailed, rest.go:51-52) the handle is
    refreshed to the NEW head and ``fn`` re-applied, up to ``attempts``
    total tries. ``fn`` must be a pure function of the table it is
    given (plan from the passed handle, no captured stale snapshots) —
    the standard Iceberg commit-loop contract. The last failure
    re-raises so callers never mistake an exhausted retry for success.

    Usage::

        t = commit_with_retry(t, lambda t: W.append(t, df))
    """
    if attempts < 1:
        raise ValueError(f"attempts must be >= 1, got {attempts}")
    for i in range(attempts):
        try:
            return fn(table)
        except CommitFailedError:
            if i == attempts - 1:
                raise
            table = table.refresh()
    raise AssertionError("unreachable")


def commit_metadata_update(table, updates, requirements=None):
    """Commit one metadata change, given as Iceberg update actions (the
    REST UpdateTableRequest; ``requirements`` default to the table's
    uuid). A catalog that owns the pointer gets the list and does the
    swap; a filesystem table applies it to its loaded metadata
    (metadata.apply_updates) and CASes the next version file, whose
    create-exclusive write detects a concurrent committer."""
    reqs = requirements or [
        {"type": "assert-table-uuid", "uuid": table.metadata.table_uuid}
    ]
    cat = getattr(table, "catalog", None)
    if cat is not None and hasattr(cat, "commit_table"):
        return cat.commit_table(table, reqs, updates)
    new_md = apply_updates(table.metadata, reqs, updates)
    location = new_md.location
    version = _loaded_version(table)
    _commit_metadata(table.io, location, new_md, expected_version=version)
    table.metadata = new_md
    table.metadata_location = version_path(location, version + 1)
    return table


def _commit_metadata(io, location: str, md: TableMetadata, expected_version: int) -> int:
    """Atomic metadata swap: version files are create-once
    (``io.create``, put-if-absent), so a concurrent committer loses and
    must retry after refresh — optimistic concurrency without a lock
    service. The version file is the commit point; the hint only
    speeds up finding it (``table.current_version`` steps past a stale
    one). Object stores refuse in ``S3FileIO.create``: remote tables
    commit through a catalog (commit_metadata_update routes there
    first)."""
    new_version = expected_version + 1
    try:
        io.create(version_path(location, new_version), md.to_json().encode())
    except FileExistsError as e:
        raise CommitFailedError(
            f"version {new_version} already exists; refresh and retry"
        ) from e
    io.write(f"{location}/metadata/version-hint.text", str(new_version).encode())
    return new_version


# --------------------------------------------------------------------------
def _footer_num_rows(path: str) -> int:
    return _footer_summary(load_io(path), path)[0]


def _footer_summary(io, path: str) -> tuple[int, list[str]]:
    """(FileMetaData.num_rows, top-level column names) from a parquet
    footer by a minimal thrift COMPACT-protocol walk — used only when
    pyarrow cannot open the footer (unrecognized logical types, e.g.
    parquet `variant`). A generic wire-type skipper never interprets
    semantics, so unknown logical types inside the schema elements are
    skipped byte-exactly. Column names matter because lineage-
    preserving rewrites record their materialized _row_id columns via
    value_counts — stats the fallback must reconstruct (r8 review)."""
    with io.open_input(path) as fh:
        fh.seek(-8, 2)
        tail = fh.read(8)
        if tail[4:] != b"PAR1":
            raise ValueError(f"{path}: not a parquet file")
        flen = int.from_bytes(tail[:4], "little")
        fh.seek(-(8 + flen), 2)
        buf = fh.read(flen)

    pos = 0

    def u8() -> int:
        nonlocal pos
        b = buf[pos]
        pos += 1
        return b

    def varint() -> int:
        nonlocal pos
        out = shift = 0
        while True:
            b = buf[pos]
            pos += 1
            out |= (b & 0x7F) << shift
            if not b & 0x80:
                return out
            shift += 7

    def zigzag() -> int:
        v = varint()
        return (v >> 1) ^ -(v & 1)

    def skip(wtype: int) -> None:
        nonlocal pos
        if wtype in (1, 2):  # bool encoded in the container element byte
            pass
        elif wtype == 3:  # byte
            pos += 1
        elif wtype in (4, 5, 6):  # i16/i32/i64 (zigzag varint)
            varint()
        elif wtype == 7:  # double
            pos += 8
        elif wtype == 8:  # binary/string
            # NOT `pos += varint()`: augmented assignment loads pos
            # BEFORE varint() consumes the length byte, silently
            # dropping that byte from the walk
            n = varint()
            pos += n
        elif wtype in (9, 10):  # list/set
            head = u8()
            size, etype = head >> 4, head & 0x0F
            if size == 15:
                size = varint()
            for _ in range(size):
                if etype in (1, 2):
                    pos += 1  # container bools are one byte each
                else:
                    skip(etype)
        elif wtype == 11:  # map
            size = varint()
            if size:
                types = u8()
                kt, vt = types >> 4, types & 0x0F
                for _ in range(size):
                    for t_ in (kt, vt):
                        if t_ in (1, 2):
                            pos += 1  # container bools: one byte each
                        else:
                            skip(t_)
        elif wtype == 12:  # struct
            fid = 0
            while True:
                head = u8()
                if head == 0:
                    return
                delta, ft = head >> 4, head & 0x0F
                fid = fid + delta if delta else zigzag()
                skip(ft)
        else:
            raise ValueError(f"unknown thrift compact type {wtype}")

    def parse_schema_element() -> tuple[str | None, int]:
        """One SchemaElement struct: (name [field 4], num_children
        [field 5, 0 for leaves]); everything else skipped."""
        nonlocal pos
        name, nc = None, 0
        fid = 0
        while True:
            head = u8()
            if head == 0:
                return name, nc
            delta, ft = head >> 4, head & 0x0F
            fid = fid + delta if delta else zigzag()
            if fid == 4 and ft == 8:
                ln = varint()
                name = buf[pos : pos + ln].decode("utf-8", "replace")
                pos += ln
            elif fid == 5 and ft == 5:
                nc = zigzag()
            else:
                skip(ft)

    # top-level FileMetaData struct
    num_rows: int | None = None
    top_names: list[str] = []
    fid = 0
    while pos < len(buf):
        head = u8()
        if head == 0:
            break
        delta, ft = head >> 4, head & 0x0F
        fid = fid + delta if delta else zigzag()
        if fid == 3 and ft == 6:  # num_rows: i64
            num_rows = zigzag()
        elif fid == 2 and ft == 9:  # schema: list<SchemaElement>
            lh = u8()
            size, etype = lh >> 4, lh & 0x0F
            if size == 15:
                size = varint()
            elements = []
            for _ in range(size):
                if etype == 12:
                    elements.append(parse_schema_element())
                else:  # malformed; skip generically
                    skip(etype)
            # flatten depth-first: elements[0] is the root; an element
            # consumed while only the root's counter is open is a
            # top-level column
            if elements:
                stack = [max(elements[0][1], 0)]
                for name, nc in elements[1:]:
                    if not stack:
                        break
                    if len(stack) == 1 and name is not None:
                        top_names.append(name)
                    stack[-1] -= 1
                    if nc > 0:
                        stack.append(nc)
                    while stack and stack[-1] == 0:
                        stack.pop()
        else:
            if num_rows is not None and top_names:
                # both captured (schema is field 2, num_rows field 3) —
                # everything else (row groups, kv metadata) is the bulk
                # of the footer and carries nothing we need; break
                # BEFORE skipping it (r8 review wave 2: breaking after
                # skip(ft) still byte-walked the whole RowGroup list)
                break
            skip(ft)
    if num_rows is None:
        raise ValueError(f"{local_path}: footer has no num_rows field")
    return num_rows, top_names


# Stats collection from parquet footers
# --------------------------------------------------------------------------

_TRUNC_LEN = 16  # bound truncation for strings/binary, like Iceberg writers


def _truncate_string_max(s: str, length: int) -> str | None:
    """Truncate ``s`` to ``length`` chars and increment so the result
    still upper-bounds ``s`` — walking backward past code points that
    cannot be incremented (U+10FFFF) and skipping the surrogate range,
    like Iceberg's ``UnicodeUtil.truncateStringMax``. Returns ``None``
    when every truncated char is already U+10FFFF (no bound exists)."""
    chars = list(s[:length])
    for i in range(len(chars) - 1, -1, -1):
        cp = ord(chars[i]) + 1
        if 0xD800 <= cp <= 0xDFFF:
            cp = 0xE000  # skip surrogates: not encodable code points
        if cp <= 0x10FFFF:
            return "".join(chars[:i]) + chr(cp)
    return None


def _truncate_binary_max(b: bytes, length: int) -> bytes | None:
    """Truncate ``b`` and increment the last non-0xFF byte so the result
    still upper-bounds ``b`` (Iceberg's ``truncateBinaryMax``; a plain
    prefix would sort BELOW the real max and over-prune — r5 review).
    Returns None when every truncated byte is 0xFF (no bound exists)."""
    if len(b) <= length:
        return b
    t = bytearray(b[:length])
    for i in range(len(t) - 1, -1, -1):
        if t[i] < 0xFF:
            t[i] += 1
            return bytes(t[: i + 1])
    return None


def _micros_since_epoch(ts: datetime) -> int:
    """Exact integer epoch-µs: float .timestamp() has ~0.4µs resolution
    at current epochs and int() truncation could understate an upper
    bound by 1µs (r5 review)."""
    td = ts - datetime(1970, 1, 1, tzinfo=timezone.utc)
    return (td.days * 86_400 + td.seconds) * 1_000_000 + td.microseconds


def _bound_value(v: Any, t: IcebergType, upper: bool) -> bytes | None:
    """Convert a pyarrow footer min/max to Iceberg bound bytes."""
    import math as _math

    if v is None:
        return None
    if isinstance(t, (TimestampType, TimestampTzType)):
        if isinstance(v, datetime):
            ts = v if v.tzinfo else v.replace(tzinfo=timezone.utc)
            v = _micros_since_epoch(ts)
        lit = Literal(int(v), t)
    elif isinstance(t, DateType):
        if isinstance(v, date):
            v = (v - date(1970, 1, 1)).days
        lit = Literal(int(v), t)
    elif isinstance(t, StringType):
        if upper and len(str(v)) > _TRUNC_LEN:
            s = _truncate_string_max(str(v), _TRUNC_LEN)
            if s is None:
                return None  # no representable upper bound → drop it
        else:
            s = str(v)[:_TRUNC_LEN]
        lit = Literal(s, t)
    elif isinstance(t, BinaryType):
        raw = bytes(v)
        if upper and len(raw) > _TRUNC_LEN:
            b = _truncate_binary_max(raw, _TRUNC_LEN)
            if b is None:
                return None
        else:
            b = raw[:_TRUNC_LEN]
        lit = Literal(b, t)
    elif isinstance(t, DecimalType):
        lit = Literal(Decimal(str(v)), t)
    elif isinstance(t, (FloatType, DoubleType)):
        fv = float(v)
        if _math.isnan(fv):
            return None  # the spec forbids NaN bounds
        lit = Literal(fv, t)
    elif isinstance(t, BooleanType):
        lit = Literal(bool(v), t)
    elif isinstance(t, (IntegerType, LongType)):
        lit = Literal(int(v), t)
    else:
        return None
    return literal_to_bytes(lit)


def _counts_and_bounds(
    schema: Schema, st: dict[int, tuple]
) -> tuple[dict, dict, dict | None, dict, dict]:
    value_counts: dict[int, int] = {}
    null_counts: dict[int, int] = {}
    nan_counts: dict[int, int] = {}
    lower: dict[int, bytes] = {}
    upper: dict[int, bytes] = {}
    for fid, (vc, nulls, mn, mx, nan) in st.items():
        value_counts[fid] = vc
        null_counts[fid] = nulls
        if nan is not None:
            nan_counts[fid] = nan
        ft = name_to_field_by_id(schema, fid).field_type
        if mn is not None:
            b = _bound_value(mn, ft, False)
            if b is not None:
                lower[fid] = b
        if mx is not None:
            b = _bound_value(mx, ft, True)
            if b is not None:
                upper[fid] = b
    return value_counts, null_counts, nan_counts or None, lower, upper


def _orc_avro_file_stats(
    spark: SparkSession, schema: Schema, paths: list[str], fmt: str
) -> dict[str, dict[int, tuple]]:
    """Per-file column stats for just-written ORC/Avro data files,
    computed as ONE distributed Spark aggregation (r12 verdict task #5:
    pyarrow exposes no ORC column-statistics API, and the pure-Python
    Avro OCF codec would need a second driver-side payload decode):
    group rows by source file; per primitive field take count/min/max
    with NaN kept out of bounds and counted separately — producing the
    SAME manifest stats surface the parquet footer path does, so
    ORC/Avro tables prune identically. One extra executor-side pass
    over data that was just written (page-cache-warm); the driver sees
    one row per file.

    Returns {normalized file path: {field_id:
    (value_count, null_count, min, max, nan_count|None)}}.
    """
    from .types import (
        DoubleType as _DT,
        FloatType as _FT,
        TimestampTzType as _TzT,
        VariantType as _VarT,
    )

    if fmt == "ORC":
        src = spark.read.schema(schema.to_spark()).format("orc").load(paths)
        file_col = F.col("_metadata.file_path")
    else:
        from .pyreaders import read_avro_files

        src = read_avro_files(spark, paths, schema.to_spark(), with_pos=True)
        file_col = F.col("_file")
    src = src.withColumn("__sf", strip_file_scheme_col(file_col))
    fields = [
        f
        for f in schema.fields
        if f.field_type.is_primitive and not isinstance(f.field_type, _VarT)
    ]
    aggs = [F.count(F.lit(1)).alias("__n")]
    for f in fields:
        c = F.col(f.name)
        is_float = isinstance(f.field_type, (_FT, _DT))
        cv = F.when(~F.isnan(c), c) if is_float else c
        if isinstance(f.field_type, _TzT):
            # collect() would hand back timestamptz as a NAIVE
            # LOCAL-time datetime (PySpark fromInternal uses the OS
            # timezone) and _bound_value treats naive as UTC — wrong
            # bounds on any non-UTC host. Take epoch micros JVM-side;
            # _bound_value encodes ints directly. (ntz timestamps are
            # wall-clock: the naive datetime IS the value.)
            cv = F.unix_micros(c)
        aggs.append(F.count(c).alias(f"vc_{f.field_id}"))
        aggs.append(F.min(cv).alias(f"mn_{f.field_id}"))
        aggs.append(F.max(cv).alias(f"mx_{f.field_id}"))
        if is_float:
            aggs.append(F.sum(F.isnan(c).cast("long")).alias(f"nan_{f.field_id}"))
    out: dict[str, dict[int, tuple]] = {}
    for row in src.groupBy("__sf").agg(*aggs).collect():
        d = row.asDict()
        n = d["__n"]
        per: dict[int, tuple] = {}
        for f in fields:
            fid = f.field_id
            nonnull = d[f"vc_{fid}"]
            per[fid] = (n, n - nonnull, d[f"mn_{fid}"], d[f"mx_{fid}"], d.get(f"nan_{fid}"))
        out[row["__sf"]] = per
    return out


def collect_data_files(
    table: Table, spark: SparkSession, pairs: list[tuple[str, dict[str, Any]]]
) -> list[DataFile]:
    """collect_data_file over a written batch, with the distributed
    stats pass for ORC/Avro files wired in (parquet reads its own
    footers driver-side — already per-column)."""
    schema = table.schema
    by_fmt: dict[str, list[str]] = {}
    for p, _part in pairs:
        if p.endswith(".orc"):
            by_fmt.setdefault("ORC", []).append(strip_scheme(p))
        elif p.endswith(".avro"):
            by_fmt.setdefault("AVRO", []).append(strip_scheme(p))
    stats: dict[str, dict[int, tuple]] = {}
    for fmt, paths in by_fmt.items():
        stats.update(_orc_avro_file_stats(spark, schema, paths, fmt))
    return [
        collect_data_file(p, schema, part, file_stats=stats.get(strip_scheme(p)))
        for p, part in pairs
    ]


def collect_data_file(
    path: str,
    schema: Schema,
    partition: dict[str, Any],
    nan_value_counts: dict[int, int] | None = None,
    file_stats: dict[int, tuple] | None = None,
) -> DataFile:
    """Build a DataFile (with per-column stats) from a parquet footer —
    the write-side producer of the stats the metrics evaluator consumes
    (SURVEY.md §2.5). ORC/Avro files carry stats when the caller ran
    the distributed stats pass (``file_stats`` from
    ``_orc_avro_file_stats``; stats are optional in the spec — absent
    bounds just mean less pruning)."""
    io = load_io(path)
    size = io.info(path).size
    if path.endswith(".orc"):
        import pyarrow.orc as po

        with io.open_input(path) as fh:
            nrows = po.ORCFile(fh).nrows
        vc = nc = nanc = lo = up = None
        if file_stats:
            vc, nc, nanc, lo, up = _counts_and_bounds(schema, file_stats)
        return DataFile(
            file_path=path,
            file_format="ORC",
            record_count=nrows,
            file_size_in_bytes=size,
            partition=partition,
            value_counts=vc,
            null_value_counts=nc,
            nan_value_counts=nanc,
            lower_bounds=lo,
            upper_bounds=up,
        )
    if path.endswith(".avro"):
        from .avro_io import count_ocf_rows

        # row count from block headers only — no payload decode on the
        # driver; column stats ride in from the distributed pass
        vc = nc = nanc = lo = up = None
        if file_stats:
            vc, nc, nanc, lo, up = _counts_and_bounds(schema, file_stats)
        return DataFile(
            file_path=path,
            file_format="AVRO",
            record_count=count_ocf_rows(strip_scheme(path)),
            file_size_in_bytes=size,
            partition=partition,
            value_counts=vc,
            null_value_counts=nc,
            nan_value_counts=nanc,
            lower_bounds=lo,
            upper_bounds=up,
        )
    import pyarrow.parquet as pq

    try:
        with io.open_input(path) as fh:
            meta = pq.ParquetFile(fh).metadata
    except OSError:
        # pyarrow refuses footers carrying logical types it doesn't know
        # (today: the parquet `variant` annotation Spark writes for
        # VariantType columns — "Thrift LogicalType that is not
        # recognized"). The file is perfectly valid and Spark reads it;
        # only the stats pass is blind. Fall back to a minimal
        # thrift-compact parse of the footer for the ONE required
        # field, record_count — bounds/counts stay absent (unshredded
        # variant is unprunable anyway; other columns merely lose
        # pruning on these files).
        from .manifests import (
            LAST_UPDATED_SEQ_COL as _LSC,
            LAST_UPDATED_SEQ_FIELD_ID as _LSF,
            ROW_ID_COL as _RIC,
            ROW_ID_FIELD_ID as _RIF,
        )

        nrows, top_names = _footer_summary(io, path)
        # lineage-preserving rewrites materialize _row_id physically and
        # are DETECTED via value_counts under the reserved ids — losing
        # that here would make the id allocator re-consume and scans
        # synthesize fresh ids, silently rewriting every row's lineage
        # (r8 review). The rewrite path never writes NULL ids, so the
        # reconstructed null count is 0 by construction.
        vc = nc = None
        if _RIC in top_names:
            vc = {_RIF: nrows, _LSF: nrows} if _LSC in top_names else {_RIF: nrows}
            nc = {fid: 0 for fid in vc}
        return DataFile(
            file_path=path,
            file_format="PARQUET",
            record_count=nrows,
            file_size_in_bytes=size,
            partition=partition,
            value_counts=vc,
            null_value_counts=nc,
        )
    name_to_field = {field.name: field for field in schema.fields}
    # Reserved V3 lineage columns (materialized by lineage-preserving
    # rewrites, e.g. compaction): count them under the reserved field
    # ids — the scan detects materialization from value_counts alone —
    # but never record bounds for them (reserved ids don't resolve
    # through the table schema's single-value encoding path).
    from .manifests import (
        LAST_UPDATED_SEQ_COL,
        LAST_UPDATED_SEQ_FIELD_ID,
        ROW_ID_COL,
        ROW_ID_FIELD_ID,
    )
    from .types import NestedField

    _reserved = {
        ROW_ID_COL: ROW_ID_FIELD_ID,
        LAST_UPDATED_SEQ_COL: LAST_UPDATED_SEQ_FIELD_ID,
    }
    pq_names = {meta.schema.column(i).path.split(".")[0] for i in range(meta.num_columns)}
    for cname, cfid in _reserved.items():
        if cname in pq_names:
            name_to_field[cname] = NestedField(cfid, cname, LongType(), False)

    column_sizes: dict[int, int] = {}
    value_counts: dict[int, int] = {}
    null_counts: dict[int, int] = {}
    lower: dict[int, tuple] = {}
    upper: dict[int, tuple] = {}
    split_offsets: list[int] = []

    import math as _math

    from .types import VariantType as _VarT

    def _nanish(x) -> bool:
        return isinstance(x, float) and _math.isnan(x)

    bad_bounds: set[int] = set(_reserved.values())
    # fids where ANY group's null count is unknowable: a PARTIAL sum
    # understates nulls and would let IsNull pruning drop rows — strip
    # such fids from null_counts entirely (unknown, not zero)
    bad_nulls: set[int] = set()
    # NaN inference (sound for parquet-mr ONLY): Spark's writer computes
    # min/max with standard double compareTo, where NaN sorts above
    # everything — so a float column whose every row group has complete,
    # non-NaN bounds PROVABLY holds no NaN (a single NaN would have
    # become the max). pyarrow SKIPS NaN in stats (verified), so no such
    # inference for other writers; their files keep nan counts unknown
    # and the metrics evaluator stays conservative for gt/ge (r6).
    from .types import DoubleType as _DT, FloatType as _FT

    float_fids = {
        f.field_id for f in schema.fields if isinstance(f.field_type, (_FT, _DT))
    }
    is_parquet_mr = (meta.created_by or "").startswith("parquet-mr")
    for rg in range(meta.num_row_groups):
        g = meta.row_group(rg)
        if g.num_columns:
            # row-group START: min of first column's page offsets —
            # ColumnChunk.file_offset is deprecated and common writers
            # set it to the chunk END (PARQUET-2188; r5 review)
            c0 = g.column(0)
            off = c0.data_page_offset
            if c0.dictionary_page_offset is not None:
                off = min(off, c0.dictionary_page_offset)
            split_offsets.append(off)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema.split(".")[0]
            field = name_to_field.get(name)
            if field is None or not field.field_type.is_primitive:
                continue
            if isinstance(field.field_type, _VarT):
                # variant is logically primitive but physically a
                # struct<metadata, value> — two parquet chunks per
                # column, so summing num_values here would double the
                # value count, and binary sub-chunk min/max are not
                # variant bounds. Unshredded variant carries no stats.
                continue
            fid = field.field_id
            column_sizes[fid] = column_sizes.get(fid, 0) + col.total_compressed_size
            value_counts[fid] = value_counts.get(fid, 0) + col.num_values
            # pyarrow can't decode stats for every physical/logical type
            # pairing (e.g. INT32-backed decimals raise
            # ArrowNotImplementedError from the .min/.max cast): treat
            # any decode failure as unknown contents — the column is
            # merely unprunable, never a write failure
            try:
                st = col.statistics
                st_null = st.null_count if st is not None else None
                if st is None or not st.has_min_max:
                    mn = mx = None
                else:
                    mn, mx = st.min, st.max
            except Exception:  # noqa: BLE001
                st_null = mn = mx = None
            if st_null is not None:
                null_counts[fid] = null_counts.get(fid, 0) + st_null
            else:
                bad_nulls.add(fid)
            if st_null is not None and st_null == col.num_values:
                continue  # all-null group contributes no values: other
                # groups' bounds hold
            if mn is None or mx is None:
                # a group with UNKNOWN contents invalidates the file
                # bounds — keeping other groups' min/max would over-
                # prune rows hiding in this group (r5; was silently
                # skipped)
                bad_bounds.add(fid)
                continue
            if _nanish(mn) or _nanish(mx):
                # NaN stats: the group's true extremes are unknowable
                # from the footer (and a NaN bound is spec-illegal)
                bad_bounds.add(fid)
                continue
            if fid not in lower or mn < lower[fid][0]:
                lower[fid] = (mn,)
            if fid not in upper or mx > upper[fid][0]:
                upper[fid] = (mx,)

    lower_b = {
        fid: b
        for fid, (v,) in lower.items()
        if fid not in bad_bounds
        and (b := _bound_value(v, name_to_field_by_id(schema, fid).field_type, False))
        is not None
    }
    upper_b = {
        fid: b
        for fid, (v,) in upper.items()
        if fid not in bad_bounds
        and (b := _bound_value(v, name_to_field_by_id(schema, fid).field_type, True))
        is not None
    }
    nan_counts = nan_value_counts  # caller-supplied (e.g. counted at write)
    if nan_counts is None and is_parquet_mr and float_fids:
        # complete non-NaN bounds for every row group => zero NaNs.
        # bad_bounds covers both "stats missing" and "NaN in stats";
        # all-null columns never enter lower/upper but hold no NaN
        # either (value_counts == null_counts proves emptiness).
        nan_counts = {}
        for fid in float_fids:
            all_null = (
                value_counts.get(fid, 0) > 0
                and null_counts.get(fid) == value_counts.get(fid)
            )
            if fid in bad_bounds:
                continue  # unknowable: leave absent (might contain NaN)
            if fid in lower or all_null or value_counts.get(fid, 0) == 0:
                nan_counts[fid] = 0
        nan_counts = nan_counts or None
    return DataFile(
        file_path=path,
        record_count=meta.num_rows,
        file_size_in_bytes=size,
        partition=partition,
        column_sizes=column_sizes or None,
        value_counts=value_counts or None,
        null_value_counts={
            fid: n for fid, n in null_counts.items() if fid not in bad_nulls
        }
        or None,
        nan_value_counts=nan_counts,
        lower_bounds=lower_b or None,
        upper_bounds=upper_b or None,
        split_offsets=split_offsets or None,
    )


def name_to_field_by_id(schema: Schema, fid: int):
    f = schema.find_field(fid)
    assert f is not None
    return f


# --------------------------------------------------------------------------
# Append / overwrite / delete
# --------------------------------------------------------------------------


def _range_partitions(table: Table) -> int | None:
    """Parse write.range-partitions: a positive int pins the range
    exchange's partition count (AQE coalesces an unspecified one on
    small inputs to a single file); 0/unset means let the planner
    decide; anything else fails naming the property (r7 review: '0'
    was truthy as a string and crashed repartitionByRange(0))."""
    raw = table.properties.get("write.range-partitions")
    if raw in (None, ""):
        return None
    try:
        n = int(raw)
    except ValueError:
        raise ValueError(
            f"table property write.range-partitions must be an integer, got {raw!r}"
        ) from None
    if n < 0:
        raise ValueError(f"write.range-partitions must be >= 0, got {n}")
    return n or None


def _sort_order_columns(table: Table) -> list:
    """The table's default sort order as Spark sort Columns."""
    order = table.metadata.default_sort_order
    schema = table.schema
    cols = []
    for sf in order.fields:
        src = schema.find_field(sf.source_id)
        if src is None:
            continue
        from .transforms import parse_transform

        c = parse_transform(sf.transform).to_column(F.col(src.name), src.field_type)
        if sf.direction == "desc":
            c = c.desc_nulls_last() if sf.null_order == "nulls-last" else c.desc_nulls_first()
        else:
            c = c.asc_nulls_last() if sf.null_order == "nulls-last" else c.asc_nulls_first()
        cols.append(c)
    return cols


def _apply_sort_order(table: Table, df: DataFrame) -> DataFrame:
    """Cluster rows inside each write task by the table's sort order
    (reference surface: table/sorting.go:29-122; write-path application
    per SURVEY §1.1 — sortWithinPartitions, NOT a global sort: no extra
    shuffle, better column compression + tighter min/max bounds for the
    metrics evaluator). Must run AFTER any distribution repartition —
    a later shuffle would destroy the clustering."""
    cols = _sort_order_columns(table)
    return df.sortWithinPartitions(*cols) if cols else df


def _write_data_files(
    table: Table,
    df: DataFrame,
    data_dir: str,
    cluster_by: Column | None = None,
    n_ranges: int | None = None,
    carry_lineage: bool = False,
) -> list[tuple[str, dict[str, Any]]]:
    """Write parquet clustered by the partition transforms; returns
    (path, partition tuple) pairs. Partition evaluation uses the
    transform Column expressions — executor-side, fully parallel.

    ``cluster_by`` (an expression over the data columns, e.g. a Morton
    z-value) overrides the distribution-mode logic: rows are range
    partitioned on (partition fields…, cluster expression) into
    ``n_ranges`` tasks and sorted the same way inside each, so every
    output file owns a contiguous cluster-value range WITHIN its
    partition — the rewrite_data_files sort-strategy layout."""
    spec = table.spec
    schema = table.schema
    # catalog tables carry file:// locations; recorded paths are plain
    data_dir = strip_scheme(data_dir)
    # align the incoming frame to the table schema (column order + types)
    # so e.g. a decimal literal lands as the declared double — writers
    # must never produce files whose physical types drift from the schema
    from .types import to_spark_type

    in_cols = set(df.columns)
    sel = []
    # V3 lineage-preserving rewrites (delete_where / update_where /
    # rewrite_clustered on v3 tables) OPT IN to carrying the reserved
    # lineage columns into the files (collect_data_file records them
    # under the reserved field ids; the scan coalesces them). This is
    # an explicit parameter, NOT name-sniffing: a user append of a
    # frame that happens to carry _row_id (scan-with-lineage copy /
    # backfill pattern) must get FRESH ids, not silently duplicate
    # live ones (r6 review).
    from .manifests import LAST_UPDATED_SEQ_COL, ROW_ID_COL

    lineage_extras = (
        [
            F.col(c).cast("bigint").alias(c)
            for c in (ROW_ID_COL, LAST_UPDATED_SEQ_COL)
            if c in in_cols
        ]
        if carry_lineage
        else []
    )
    for f in schema.fields:
        if f.name in in_cols:
            sel.append(F.col(f.name).cast(to_spark_type(f.field_type)).alias(f.name))
        else:
            # V3 write-default: a column absent from the incoming frame
            # is filled with the field's write-default. Absent columns
            # WITHOUT a write-default stay an error (resolved below by
            # F.col raising), matching the strict pre-default behavior.
            from .defaults import default_column

            dc = default_column(f, "write")
            sel.append(
                dc.alias(f.name) if dc is not None else F.col(f.name).cast(to_spark_type(f.field_type)).alias(f.name)
            )
    df = df.select(*sel, *lineage_extras)
    fmt = table.properties.get("write.format.default", "parquet").lower()
    # write.distribution-mode (Iceberg table property): how rows reach
    # write tasks. none = no shuffle (one file per task×partition — most
    # files, zero exchange); hash = cluster on partition keys (default
    # for partitioned tables: one task per partition); range = global
    # range-partition on partition keys + sort order (fewest overlapping
    # min/max bounds → best scan pruning on sorted tables).
    mode = table.properties.get(
        "write.distribution-mode", "none" if spec.is_unpartitioned else "hash"
    ).lower()
    ext = f".{fmt}" if fmt != "parquet" else ".parquet"
    if spec.is_unpartitioned:
        if cluster_by is not None:
            df = df.withColumn("_zcluster", cluster_by)
            df = (
                df.repartitionByRange(n_ranges, "_zcluster")
                if n_ranges
                else df.repartitionByRange("_zcluster")
            )
            df = df.sortWithinPartitions("_zcluster").drop("_zcluster")
        elif mode == "range":
            sort_cols = _sort_order_columns(table)
            if sort_cols:
                # engine-specific knob: an EXPLICIT range-partition count
                # pins the file fan-out (AQE coalesces an unspecified
                # range exchange on small inputs down to one file, which
                # defeats the disjoint-bounds layout range mode exists
                # for); unset -> planner/AQE decides
                n_range = _range_partitions(table)
                df = (
                    df.repartitionByRange(n_range, *sort_cols)
                    if n_range
                    else df.repartitionByRange(*sort_cols)
                )
        if cluster_by is None:
            df = _apply_sort_order(table, df)
        out = f"{data_dir}/{_uuid.uuid4().hex[:16]}"
        if fmt == "avro":
            # no bundled spark-avro source: distributed pure-Python OCF
            # encode via mapInPandas (pyreaders.write_avro_files) —
            # executor-side, nothing materializes on the driver
            from .pyreaders import write_avro_files

            paths = write_avro_files(df, schema, out)
            return [(p, {}) for p in sorted(paths)]
        df.write.mode("overwrite").format(fmt).save(out)
        return [
            (f"{out}/{f}", {})
            for f in sorted(table.io.list_dir(out))
            if f.endswith(ext)
        ]
    # partitioned: materialize transform columns, write with partitionBy.
    # A partition field named like its source column (typical for
    # identity transforms) collides with the data column — and Spark's
    # partitionBy would drop the data column from the files. Alias such
    # fields to a temp name for the write and map dir names back.
    pcols = []
    write_names: dict[str, str] = {}  # dir name -> spec field name
    for pf in spec.fields:
        src = schema.find_field(pf.source_id)
        assert src is not None
        wname = pf.name if pf.name not in df.columns else f"__p_{pf.name}"
        write_names[wname] = pf.name
        pcols.append(pf.transform.to_column(F.col(src.name), src.field_type).alias(wname))
    out = f"{data_dir}/{_uuid.uuid4().hex[:16]}"
    names = list(write_names)
    staged = df.select("*", *pcols)
    if cluster_by is not None:
        # per-partition clustering rewrite: joint range distribution on
        # (partition fields…, cluster value), then the same in-task sort
        # — each file covers a contiguous cluster range within its
        # partition dir, across however many tasks the partition spans
        staged = staged.withColumn("_zcluster", cluster_by)
        rb = [*[F.col(n) for n in names], F.col("_zcluster")]
        staged = (
            staged.repartitionByRange(n_ranges, *rb)
            if n_ranges
            else staged.repartitionByRange(*rb)
        )
        staged = staged.sortWithinPartitions(*rb).drop("_zcluster")
    elif mode == "hash":
        staged = staged.repartition(*[F.col(n) for n in names])
    elif mode == "range":
        n_range = _range_partitions(table)
        rcols = [*[F.col(n) for n in names], *_sort_order_columns(table)]
        staged = (
            staged.repartitionByRange(n_range, *rcols)
            if n_range
            else staged.repartitionByRange(*rcols)
        )
    # sort INSIDE write tasks after the distribution shuffle (a shuffle
    # after sortWithinPartitions would destroy the clustering). The sort
    # leads with the partition columns: FileFormatWriter requires rows
    # ordered by partition cols and re-sorts (unstably) if they aren't —
    # satisfying its required ordering up front both skips that sort and
    # preserves the table sort order inside every file.
    sort_cols = _sort_order_columns(table)
    if cluster_by is None and sort_cols:
        staged = staged.sortWithinPartitions(*[F.col(n) for n in names], *sort_cols)
    if fmt == "avro":
        from .pyreaders import write_avro_files

        # hive-style dirs written executor-side under a task-attempt
        # staging protocol; harvest ONLY the promoted paths it returns
        # (a recursive listing would also pick up files a failed/
        # speculative attempt left behind)
        files = sorted(write_avro_files(staged, schema, out, partition_cols=names))
    else:
        (
            staged.write.mode("overwrite")
            .partitionBy(*names)
            .format(fmt)
            .save(out)
        )
        # Spark's committer has already cleaned up failed attempts; the
        # final tree contains only committed files
        files = [f.path for f in table.io.list_prefix(out) if f.path.endswith(ext)]
    pairs: list[tuple[str, dict[str, Any]]] = []
    for path in files:
        rel = os.path.relpath(os.path.dirname(path), out)
        partition: dict[str, Any] = {}
        for comp in rel.split(os.sep):
            if "=" in comp:
                k, v = comp.split("=", 1)
                k = write_names.get(k, k)
                partition[k] = _parse_partition_value(k, v, spec, schema)
        pairs.append((path, partition))
    return pairs


def _parse_partition_value(name: str, raw: str, spec: PartitionSpec, schema: Schema) -> Any:
    from urllib.parse import unquote

    from .types import BooleanType as BT
    from .types import DateType as DT
    from .types import DoubleType as DBT
    from .types import FloatType as FT
    from .types import IntegerType as IT
    from .types import LongType as LT
    from .types import StringType as ST
    from .types import TimestampType as TT
    from .types import TimestampTzType as TTZ

    if raw == "__HIVE_DEFAULT_PARTITION__":
        return None
    # Spark writes Hive-escaped dir components (%2F for '/', %3A for
    # ':', …); manifests must carry the REAL value or scans on it
    # prune the file away (r5 review)
    raw = unquote(raw)
    for pf in spec.fields:
        if pf.name == name:
            src = schema.find_field(pf.source_id)
            rt = pf.transform.result_type(src.field_type if src else ST())
            if isinstance(rt, (IT, LT)):
                return int(raw)
            if isinstance(rt, DT):
                try:
                    return (date.fromisoformat(raw) - date(1970, 1, 1)).days
                except ValueError:
                    # int epoch-day ordinal dir (legacy layout) → as-is
                    return int(raw)
            if isinstance(rt, (TT, TTZ)):
                # Spark dir format: 'YYYY-MM-DD HH:MM:SS[.ffffff]'
                ts = datetime.fromisoformat(raw)
                if ts.tzinfo is None and isinstance(rt, TTZ):
                    # Spark renders timestamptz partition values in the
                    # SESSION timezone; parsing them as UTC shifted the
                    # manifest value by the tz offset and partition
                    # pruning silently dropped matching files (r6)
                    from zoneinfo import ZoneInfo

                    from pyspark.sql import SparkSession

                    sess = SparkSession.getActiveSession()
                    tz = (
                        sess.conf.get("spark.sql.session.timeZone", "UTC")
                        if sess is not None
                        else "UTC"
                    )
                    ts = ts.replace(tzinfo=ZoneInfo(tz))
                return _micros_since_epoch(
                    ts if ts.tzinfo else ts.replace(tzinfo=timezone.utc)
                )
            if isinstance(rt, (FT, DBT)):
                return float(raw)
            if isinstance(rt, BT):
                return raw.lower() == "true"
            from .types import DecimalType as DECT
            from .types import UUIDType as UT

            if isinstance(rt, DECT):
                # raw dir string would crash literal_to_bytes at commit
                # (str has no .scaleb) and TypeError in the partition
                # evaluator's compare (r6 review)
                from decimal import Decimal as _D

                return _D(raw)
            if isinstance(rt, UT):
                import uuid as _uuid

                return _uuid.UUID(raw)
            return raw
    return raw


def _next_ids(md: TableMetadata) -> tuple[int, int]:
    snap_id = max((s.snapshot_id for s in md.snapshots), default=0) + 1
    seq = md.last_sequence_number + 1
    return snap_id, seq


def _partition_summaries(
    spec: PartitionSpec, schema: Schema, files: list[DataFile]
) -> list[FieldSummary]:
    import math as _math

    ptype = spec.partition_type(schema)
    out = []
    for f in ptype.fields:
        vals = [df.partition.get(f.name) for df in files]
        nonnull = [v for v in vals if v is not None]
        # NaN partition values must not poison min()/max() (a NaN bound
        # nulls out in the evaluators and the whole manifest would be
        # pruned for matching filters) and must be DECLARED so
        # NaN-sensitive prunes stay sound (r5 review)
        has_nan = any(isinstance(v, float) and _math.isnan(v) for v in nonnull)
        comparable = [v for v in nonnull if not (isinstance(v, float) and _math.isnan(v))]
        lo = hi = None
        if comparable:
            lo = literal_to_bytes(Literal(min(comparable), f.field_type))
            hi = literal_to_bytes(Literal(max(comparable), f.field_type))
        out.append(
            FieldSummary(
                contains_null=any(v is None for v in vals),
                contains_nan=has_nan,
                lower_bound=lo,
                upper_bound=hi,
            )
        )
    return out


def _maybe_merge_manifests(
    table: Table,
    manifests: list[ManifestFile],
    snap_id: int,
    seq: int,
    pfields,
    spec,
    schema,
) -> list[ManifestFile]:
    """Auto manifest-merge on commit (Iceberg's
    ``commit.manifest-merge.enabled`` / ``commit.manifest.
    min-count-to-merge`` / ``commit.manifest.target-size-bytes``
    properties; semantics anchor: reference manifest.go:47-53 — the
    merged manifests' added/existing counts must be preserved, here as
    EXISTING entries keeping their original snapshot/sequence ids).

    Every append adds one manifest; without merging, a 100k-commit
    table walks 100k manifests per plan and only a MANUAL
    rewrite_manifests collapses them (r7 verdict #4). When the
    current-spec data-manifest count reaches the threshold, carried
    manifests are bin-packed by on-disk size toward the target and each
    multi-manifest bin is rewritten as one manifest of EXISTING entries
    (explicit seq + first-row-id via fetch_entries inheritance, so
    nothing shifts). V3 guard: a bin containing any data file without
    an assigned first_row_id is left unmerged — merging it would force
    re-assignment and break row lineage."""
    import json as _json

    from .manifests import fetch_entries, has_materialized_row_ids

    props = table.properties
    if props.get("commit.manifest-merge.enabled", "true").lower() != "true":
        return manifests
    min_count = int(props.get("commit.manifest.min-count-to-merge", "100"))
    target = int(
        props.get("commit.manifest.target-size-bytes", str(8 * 1024 * 1024))
    )
    md = table.metadata
    mergeable = [
        m
        for m in manifests
        if m.content == ManifestContent.DATA
        and m.partition_spec_id == md.default_spec_id
    ]
    # +1 counts the new manifest this commit is about to add
    if len(mergeable) + 1 < min_count:
        return manifests
    io = table.io
    out = [m for m in manifests if m not in mergeable]
    bins: list[list[ManifestFile]] = []
    cur: list[ManifestFile] = []
    cur_sz = 0
    for m in mergeable:
        if cur and cur_sz + m.manifest_length > target:
            bins.append(cur)
            cur, cur_sz = [], 0
        cur.append(m)
        cur_sz += m.manifest_length
    if cur:
        bins.append(cur)
    for b in bins:
        if len(b) == 1:
            out.append(b[0])
            continue
        entries: list[ManifestEntry] = []
        skip_bin = False
        for m in b:
            es = fetch_entries(m, io.read(m.manifest_path), discard_deleted=True)
            if md.format_version >= 3 and any(
                e.data_file.content == DataFileContent.DATA
                and e.data_file.first_row_id is None
                and not has_materialized_row_ids(e.data_file)
                for e in es
            ):
                skip_bin = True
                break
            entries.extend(es)
        if skip_bin or not entries:
            out.extend(b)
            continue
        for e in entries:
            e.status = ManifestEntryStatus.EXISTING
        data = write_manifest(
            entries,
            pfields,
            schema.to_json(),
            _json.dumps(spec.to_json_dict().get("fields", [])),
            ManifestContent.DATA,
            spec_id=spec.spec_id,
            schema_id=schema.schema_id,
            format_version=md.format_version,
        )
        path = f"{md.location}/metadata/{_uuid.uuid4().hex}-mm.avro"
        io.write(path, data)
        frid = None
        if md.format_version >= 3:
            ids = [
                e.data_file.first_row_id
                for e in entries
                if e.data_file.first_row_id is not None
            ]
            # entries carry explicit ids (checked above), so this value
            # is never inherited from — it only marks the manifest as
            # already-assigned for the list-write id allocator
            frid = min(ids) if ids else 0
        out.append(
            ManifestFile(
                manifest_path=path,
                manifest_length=len(data),
                partition_spec_id=spec.spec_id,
                content=ManifestContent.DATA,
                sequence_number=seq,
                # `or seq` would replace a LEGITIMATE sequence 0 (v1-era
                # upgraded manifests) with the new commit's, overstating
                # min-sequence-number and letting external readers skip
                # applicable deletes (r8 review wave 2)
                min_sequence_number=min(
                    (
                        e.sequence_number if e.sequence_number is not None else seq
                        for e in entries
                    ),
                    default=seq,
                ),
                added_snapshot_id=snap_id,
                added_files_count=0,
                existing_files_count=len(entries),
                deleted_files_count=0,
                added_rows_count=0,
                existing_rows_count=sum(
                    e.data_file.record_count for e in entries
                ),
                deleted_rows_count=0,
                partitions=_partition_summaries(
                    spec, schema, [e.data_file for e in entries]
                )
                if not spec.is_unpartitioned
                else [],
                first_row_id=frid,
            )
        )
    return out


def _commit_snapshot(
    table: Table,
    new_files: list[DataFile],
    operation: str,
    keep_manifests: list[ManifestFile] | None = None,
    retained_entries: list[ManifestEntry] | None = None,
    delete_files: list[DataFile] | None = None,
    extra_summary: dict[str, str] | None = None,
    branch: str = "main",
) -> Table:
    """Write manifest + manifest list + metadata; bump version.

    ``branch`` targets the commit at a named branch head (the
    write-audit-publish pattern): the new snapshot's parent is the
    BRANCH head, only that ref retargets, and main /
    current-snapshot-id stay untouched until a publish fast-forwards
    them."""
    md = table.metadata
    existing_ref = md.refs.get(branch)
    if existing_ref is not None and existing_ref.snapshot_ref_type == "tag":
        # tags are immutable pins: committing here would silently
        # convert the tag into a branch and move it (r6 review)
        raise ValueError(f"ref {branch!r} is a tag; cannot commit to a tag")
    location = md.location
    io = table.io
    snap_id, seq = _next_ids(md)
    ts_ms = int(time.time() * 1000)
    spec, schema = table.spec, table.schema
    pfields = partition_avro_fields_for(spec, schema)

    manifests: list[ManifestFile] = list(keep_manifests or [])
    if operation == OP_APPEND and manifests:
        manifests = _maybe_merge_manifests(
            table, manifests, snap_id, seq, pfields, spec, schema
        )

    all_new_entries: list[ManifestEntry] = [
        ManifestEntry(
            status=ManifestEntryStatus.ADDED,
            snapshot_id=snap_id,
            sequence_number=seq,
            file_sequence_number=seq,
            data_file=f,
        )
        for f in new_files
    ]
    if retained_entries:
        all_new_entries += [
            ManifestEntry(
                status=ManifestEntryStatus.EXISTING,
                snapshot_id=e.snapshot_id,
                sequence_number=e.sequence_number,
                file_sequence_number=e.file_sequence_number,
                data_file=e.data_file,
            )
            for e in retained_entries
        ]

    if all_new_entries:
        manifest_path = f"{location}/metadata/{_uuid.uuid4().hex}-m0.avro"
        data = write_manifest(
            all_new_entries,
            pfields,
            schema.to_json(),
            __import__("json").dumps(spec.to_json_dict().get("fields", [])),
            ManifestContent.DATA,
            spec_id=spec.spec_id,
            schema_id=schema.schema_id,
            format_version=md.format_version,
        )
        io.write(manifest_path, data)
        manifests.insert(
            0,
            ManifestFile(
                manifest_path=manifest_path,
                manifest_length=len(data),
                partition_spec_id=spec.spec_id,
                content=ManifestContent.DATA,
                sequence_number=seq,
                min_sequence_number=min(
                    (e.sequence_number or seq for e in all_new_entries), default=seq
                ),
                added_snapshot_id=snap_id,
                added_files_count=len(new_files),
                existing_files_count=len(retained_entries or ()),
                deleted_files_count=0,
                added_rows_count=sum(f.record_count for f in new_files),
                existing_rows_count=sum(
                    e.data_file.record_count for e in (retained_entries or ())
                ),
                deleted_rows_count=0,
                partitions=_partition_summaries(
                    spec, schema, [e.data_file for e in all_new_entries]
                )
                if not spec.is_unpartitioned
                else [],
            ),
        )

    if delete_files:
        dm_path = f"{location}/metadata/{_uuid.uuid4().hex}-d0.avro"
        dentries = [
            ManifestEntry(
                status=ManifestEntryStatus.ADDED,
                snapshot_id=snap_id,
                sequence_number=seq,
                file_sequence_number=seq,
                data_file=f,
            )
            for f in delete_files
        ]
        ddata = write_manifest(
            dentries,
            pfields,
            schema.to_json(),
            __import__("json").dumps(spec.to_json_dict().get("fields", [])),
            ManifestContent.DELETES,
            spec_id=spec.spec_id,
            schema_id=schema.schema_id,
            format_version=md.format_version,
        )
        io.write(dm_path, ddata)
        manifests.insert(
            0,
            ManifestFile(
                manifest_path=dm_path,
                manifest_length=len(ddata),
                partition_spec_id=spec.spec_id,
                content=ManifestContent.DELETES,
                sequence_number=seq,
                min_sequence_number=seq,
                added_snapshot_id=snap_id,
                added_files_count=len(delete_files),
                added_rows_count=sum(f.record_count for f in delete_files),
            ),
        )

    # V3 row lineage: assign first-row-id ranges at manifest-list write
    # time (spec v3). Each still-unassigned DATA manifest takes the
    # running next-row-id; it consumes one id per row of its data files
    # that don't already carry an explicit first_row_id (entries
    # materialized from older manifests keep their ids and consume
    # nothing). Manifests carried over from before a v2->v3 upgrade
    # have no per-file ids at all, so they consume their full row
    # counts — the first post-upgrade commit assigns the whole table.
    snap_first_row_id: int | None = None
    next_row_id = md.next_row_id if md.format_version >= 3 else None
    if next_row_id is not None:
        snap_first_row_id = next_row_id
        from .manifests import has_materialized_row_ids

        new_entry_rows = sum(
            e.data_file.record_count
            for e in all_new_entries
            if e.data_file.content == DataFileContent.DATA
            and e.data_file.first_row_id is None
            # lineage-preserving rewrites carry ids physically: they
            # consume nothing (and fetch_entries skips them — the two
            # sites must agree or ranges overlap)
            and not has_materialized_row_ids(e.data_file)
        )
        for m in manifests:
            if m.content != ManifestContent.DATA or m.first_row_id is not None:
                continue
            if m.added_snapshot_id == snap_id:
                consumed = new_entry_rows
            else:
                consumed = m.added_rows_count + m.existing_rows_count
                if consumed == 0:
                    # 0 is ambiguous: v1 manifest lists may legally OMIT
                    # row counts (our reader defaults them to 0), and
                    # under-consuming would hand the next manifest an
                    # overlapping id range. Count directly from the
                    # manifest — this runs at most once per carried-over
                    # manifest (the first post-upgrade commit).
                    from .manifests import read_manifest_entries

                    consumed = sum(
                        e.data_file.record_count
                        for e in read_manifest_entries(io.read(m.manifest_path))
                        if e.data_file.content == DataFileContent.DATA
                        and e.data_file.first_row_id is None
                        and e.status != ManifestEntryStatus.DELETED
                        and not has_materialized_row_ids(e.data_file)
                    )
            m.first_row_id = next_row_id
            next_row_id += consumed

    # a new branch forks from main's head
    parent_id = existing_ref.snapshot_id if existing_ref else md.current_snapshot_id
    list_path = f"{location}/metadata/snap-{snap_id}-{_uuid.uuid4().hex}.avro"
    io.write(
        list_path,
        write_manifest_list(
            manifests,
            snap_id,
            sequence_number=seq,
            parent_snapshot_id=parent_id,
            format_version=md.format_version,
        ),
    )

    # DATA manifests only: counting DELETES manifests reported delete
    # files/rows as table data in every subsequent summary (r6 review)
    data_ms = [m for m in manifests if m.content == ManifestContent.DATA]
    total_files = sum(m.added_files_count + m.existing_files_count for m in data_ms)
    total_rows = sum(m.added_rows_count + m.existing_rows_count for m in data_ms)
    snapshot = Snapshot(
        snapshot_id=snap_id,
        parent_snapshot_id=parent_id,
        sequence_number=seq,
        timestamp_ms=ts_ms,
        manifest_list=list_path,
        summary={
            **(extra_summary or {}),
            "operation": operation,
            "added-data-files": str(len(new_files)),
            "added-records": str(sum(f.record_count for f in new_files)),
            "total-data-files": str(total_files),
            "total-records": str(total_rows),
            # spec SnapshotSummary delete fields (r9): record_count of
            # a delete file is its row count (DV cardinality /
            # positional rows / eq-delete rows), so these stamp what
            # this commit newly deletes — upstream engines surface them
            # in the snapshots metadata table and ops dashboards key
            # on them
            "added-delete-files": str(len(delete_files or [])),
            "added-position-deletes": str(
                sum(
                    f.record_count
                    for f in (delete_files or [])
                    if f.content != DataFileContent.EQUALITY_DELETES
                )
            ),
            "added-equality-deletes": str(
                sum(
                    f.record_count
                    for f in (delete_files or [])
                    if f.content == DataFileContent.EQUALITY_DELETES
                )
            ),
        },
        schema_id=schema.schema_id,
        first_row_id=snap_first_row_id,
        added_rows=(
            next_row_id - snap_first_row_id if snap_first_row_id is not None else None
        ),
    )

    # a branch keeps its retention settings when its head moves
    ref = (
        dataclasses.replace(existing_ref, snapshot_id=snap_id)
        if existing_ref is not None
        else SnapshotRef(snap_id, "branch")
    )
    # the branch must still be where this writer found it; for a new
    # branch that is absent (snapshot-id null per the REST spec)
    requirements = [
        {"type": "assert-table-uuid", "uuid": md.table_uuid},
        {
            "type": "assert-ref-snapshot-id",
            "ref": branch,
            "snapshot-id": existing_ref.snapshot_id if existing_ref else None,
        },
    ]
    updates = [
        {"action": "add-snapshot", "snapshot": snapshot.to_json_dict()},
        _ref_update(branch, ref),
    ]
    return commit_metadata_update(table, updates, requirements)


def append(
    table: Table,
    df: DataFrame,
    branch: str = "main",
    extra_summary: dict[str, str] | None = None,
) -> Table:
    """Append rows; one new manifest, prior manifests carried forward.
    ``branch`` stages the append on a branch head (write-audit-publish);
    publish by fast-forwarding main (refs.rollback_to). ``extra_summary``
    entries land in the snapshot summary ATOMICALLY with the commit
    (idempotency markers must never ride a second commit — r5 review)."""
    md = table.metadata
    if branch != "main" and branch in md.refs:
        snap = md.snapshot_by_id(md.refs[branch].snapshot_id)
    else:
        snap = table.current_snapshot()
    keep: list[ManifestFile] = []
    if snap is not None:
        from .manifests import read_manifest_list

        keep = read_manifest_list(table.io.read(snap.manifest_list))
    pairs = _write_data_files(table, df, f"{table.location}/data")
    files = collect_data_files(table, df.sparkSession, pairs)
    return _commit_snapshot(
        table,
        files,
        OP_APPEND,
        keep_manifests=keep,
        branch=branch,
        extra_summary=extra_summary,
    )


def overwrite(table: Table, df: DataFrame) -> Table:
    """Replace the whole table contents in one atomic snapshot."""
    pairs = _write_data_files(table, df, f"{table.location}/data")
    files = collect_data_files(table, df.sparkSession, pairs)
    return _commit_snapshot(table, files, OP_OVERWRITE, keep_manifests=[])


def _write_pos_delete_files(table: Table, matches: DataFrame) -> list[DataFile]:
    """Write a (file_path, pos) frame as V2 positional-delete parquet
    under the table and return its DataFile entries (path bounds from
    the just-written FOOTER stats — materializing every deleted row's
    path on the driver was O(deleted rows) driver memory, r5 review).
    Empty frame -> []."""
    import pyarrow.parquet as pq

    matches = matches.select("file_path", "pos").orderBy("file_path", "pos")
    out_dir = f"{table.location}/data/deletes-{_uuid.uuid4().hex[:12]}"
    matches.coalesce(1).write.mode("overwrite").parquet(out_dir)

    delete_files = []
    for fi in table.io.list_prefix(out_dir):
        if not fi.path.endswith(".parquet"):
            continue
        with table.io.open_input(fi.path) as fh:
            meta = pq.ParquetFile(fh).metadata
        if meta.num_rows == 0:
            continue
        # file_path is column 0 of the delete file layout
        lo_path = hi_path = None
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(0).statistics
            if st is None or not st.has_min_max:
                lo_path = hi_path = None
                break
            mn = st.min if isinstance(st.min, str) else st.min.decode()
            mx = st.max if isinstance(st.max, str) else st.max.decode()
            lo_path = mn if lo_path is None else min(lo_path, mn)
            hi_path = mx if hi_path is None else max(hi_path, mx)
        bounds = {}
        if lo_path is not None:
            bounds = {
                "lower_bounds": {2147483546: lo_path.encode()},
                "upper_bounds": {2147483546: hi_path.encode()},
            }
        delete_files.append(
            DataFile(
                file_path=fi.path,
                content=DataFileContent.POSITION_DELETES,
                record_count=meta.num_rows,
                file_size_in_bytes=fi.size,
                partition={},
                # path bounds let the planner skip non-overlapping data
                # files (reference scanner.go:162-193 bounds check)
                **bounds,
            )
        )
    return delete_files


def _live_matches(table: Table, spark: SparkSession, row_filter):
    """(planned tasks, live rows matching ``row_filter`` led by
    ``file_path``/``pos``) — the shared prelude of the merge-on-read
    deletes; rows None for an empty plan. ``row_filter`` is a bound
    Iceberg expression (prunes files via manifest stats) or a Spark
    Column (scans every file and filters row-level: predicates like
    ``col % 9 == 0`` are not expressible as bound expressions). Rows
    already deleted (equality, positional, DV) are anti-joined out: a
    row deleted twice would double-decrement incremental MVs
    downstream."""
    from pyspark.sql import Column

    from .expressions import to_spark_column

    if isinstance(row_filter, Column):
        spark_pred, scan = row_filter, table.scan()
    else:
        spark_pred, scan = to_spark_column(row_filter), table.scan(row_filter=row_filter)
    tasks = scan.plan_files()
    return tasks, read_tasks(table, spark, tasks, positions=True, pre_filter=spark_pred)


def delete_where_mor(table: Table, spark: SparkSession, row_filter) -> Table:
    """Merge-on-read delete: instead of rewriting data files, write
    positional delete files (file_path, pos) for matching rows and
    commit them in a DELETES manifest. Reads apply them as a left-anti
    join (table.py). At scale this turns deletes from O(affected bytes)
    rewrites into O(matching rows) appends — the trade the Iceberg V2
    spec exists for.

    ``row_filter`` is either a bound Iceberg expression (prunes files
    via manifest stats before the scan) or a plain Spark Column (r11
    verdict task #4: predicates like ``col % 9 == 0`` aren't
    expressible as bound predicates and previously forced callers to
    collect() matching keys into an IN-list — a driver-memory path at
    scale). A Column scans all files and filters row-level; use a
    bound expression whenever the predicate allows pruning."""
    from .manifests import read_manifest_list

    snap = table.current_snapshot()
    if snap is None:
        return table
    _, live = _live_matches(table, spark, row_filter)
    if live is None:
        return table
    delete_files = _write_pos_delete_files(table, live)
    if not delete_files:
        return table

    keep = read_manifest_list(table.io.read(snap.manifest_list))
    return _commit_snapshot(
        table,
        [],
        OP_DELETE,
        keep_manifests=keep,
        delete_files=delete_files,
    )

def write_dv_files(
    table: Table,
    union_df: DataFrame,
    n_shards: int = 32,
    partitions: dict[str, tuple[int, dict]] | None = None,
) -> list[DataFile]:
    """Build one roaring-bitmap deletion vector per data file from a
    ``(file_path, pos)`` DataFrame and write them as Puffin files.

    ``partitions`` maps (scheme-stripped) data-file paths to
    ``(spec_id, partition_dict)`` pairs so each DV entry records its
    referenced file's partition (the spec's partition-scoped delete
    pruning; previously DV entries carried empty partitions). Only
    values whose ``spec_id`` equals the table's CURRENT default spec
    are stamped — delete manifests are written under it, and an
    old-era partition dict would mis-encode. The spec check lives HERE
    (r8 advice #2): a name-set guard alone cannot distinguish an
    evolved spec that reuses field names with different transforms,
    and relying on every caller to pre-filter by spec_id is fragile.

    The heavy lifting is EXECUTOR-side: positions shuffle once on a
    hash of ``file_path`` into ``n_shards`` shards, each shard builds
    its files' bitmaps and writes ONE Puffin file (``applyInPandas``),
    and only one metadata row per affected data file reaches the
    driver. Shared by ``delete_where_dv`` and the positional-delete ->
    DV migration (maintenance.rewrite_position_delete_files)."""
    import pandas as pd

    from .manifests import FORMAT_PUFFIN
    from .table import strip_file_scheme as _strip_p

    loc = table.location
    props = dict(table.properties or {})
    spec_names = {f.name for f in table.spec.fields}
    default_spec = table.metadata.default_spec_id
    part_map = {
        _strip_p(k): dict(v)
        for k, (sid, v) in (partitions or {}).items()
        if sid == default_spec and set(v.keys()) == spec_names
    }

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        import uuid as _u

        from .io import load_io
        from .puffin import DV_BLOB_TYPE, dv_blob, write_puffin

        blobs, rows = [], []
        for fp, grp in pdf.groupby("file_path", sort=True):
            blob, card = dv_blob(
                grp["pos"].to_numpy(dtype="int64").astype("uint64")
            )
            blobs.append(
                (
                    blob,
                    {
                        "type": DV_BLOB_TYPE,
                        "properties": {
                            "referenced-data-file": fp,
                            "cardinality": str(card),
                        },
                    },
                )
            )
            rows.append([fp, card])
        if not blobs:
            return pd.DataFrame(
                columns=[
                    "file_path", "puffin_path", "off", "len",
                    "cardinality", "puffin_size",
                ]
            )
        data, metas = write_puffin(blobs)
        puffin_path = f"{loc}/data/dv-{_u.uuid4().hex}.puffin"
        load_io(puffin_path, props).write(puffin_path, data)
        return pd.DataFrame(
            [
                [r[0], puffin_path, m["offset"], m["length"], r[1], len(data)]
                for r, m in zip(rows, metas)
            ],
            columns=[
                "file_path", "puffin_path", "off", "len",
                "cardinality", "puffin_size",
            ],
        )

    dv_rows = (
        union_df.withColumn(
            "_shard", F.pmod(F.xxhash64("file_path"), F.lit(n_shards))
        )
        .groupBy("_shard")
        .applyInPandas(
            lambda pdf: _build(pdf.drop(columns=["_shard"])),
            "file_path string, puffin_path string, off bigint, len bigint, "
            "cardinality bigint, puffin_size bigint",
        )
        .collect()  # one row per AFFECTED DATA FILE — metadata-scale
    )
    return [
        DataFile(
            file_path=r.puffin_path,
            file_format=FORMAT_PUFFIN,
            content=DataFileContent.POSITION_DELETES,
            record_count=r.cardinality,
            file_size_in_bytes=r.puffin_size,
            partition=part_map.get(_strip_p(r.file_path), {}),
            referenced_data_file=r.file_path,
            content_offset=r.off,
            content_size_in_bytes=r["len"],
            lower_bounds={2147483546: r.file_path.encode()},
            upper_bounds={2147483546: r.file_path.encode()},
        )
        for r in dv_rows
    ]


def delete_where_dv(
    table: Table, spark: SparkSession, row_filter, n_shards: int = 32
) -> Table:
    """Merge-on-read delete via Iceberg V3 deletion vectors.

    V2 positional deletes (``delete_where_mor``) scatter one data
    file's delete state across every delete commit and re-join full
    path strings at read time. A deletion vector is ONE roaring bitmap
    per data file carried in a Puffin file (puffin.py): the new DV for
    an affected file is the union of its newly-matching rows and ALL
    its prior deletes (prior DV + prior positional-delete rows — the
    V3 invariant: a replacement DV must be a superset), so repeated
    deletes COMPACT per file instead of accumulating join inputs.
    Superseded DV entries are dropped from the kept delete manifests;
    prior positional-delete FILES stay (they may cover untouched
    files) and re-apply idempotently.

    Scale shape: matching rows shuffle once as narrow (path, pos)
    pairs, bitmaps are built and Puffin files written EXECUTOR-side
    (``applyInPandas`` over ``n_shards`` shards of data files, one
    Puffin file per non-empty shard), and the driver handles one
    metadata row per affected data file. The reference predates V3 and
    has no DV support — this is beyond-reference surface from the
    public spec."""
    snap = table.current_snapshot()
    if snap is None:
        return table
    tasks, live = _live_matches(table, spark, row_filter)
    if live is None:
        return table
    dv_files = _write_superset_dvs(table, spark, live, tasks, n_shards)
    if not dv_files:
        return table

    kept, _ = _carry_manifests_superseding_dvs(table, snap, dv_files)

    return _commit_snapshot(
        table,
        [],
        OP_DELETE,
        keep_manifests=kept,
        delete_files=dv_files,
    )


def _write_superset_dvs(
    table: Table,
    spark: SparkSession,
    matches: DataFrame,
    tasks: list,
    n_shards: int = 32,
) -> list[DataFile]:
    """One replacement DV per data file with new ``(file_path, pos)``
    matches: the union of its new matches and ALL its prior deletes
    (prior DV + positional-delete rows — the V3 superset invariant).
    Files scanned but unmatched keep their delete state untouched (no
    churn). Positions shuffle as narrow pairs; bitmaps and Puffin files
    are built executor-side (write_dv_files). Shared by
    delete_where_dv, the v3 merge_matrix_mor path and
    maintenance.rewrite_equality_deletes."""
    from .table import position_deletes_df, strip_file_scheme

    # (path, pos) pairs only — narrow enough to persist, and reused
    # twice (bitmap union + affected-file list)
    matches = matches.select("file_path", "pos").persist()
    try:
        if matches.limit(1).count() == 0:
            return []
        union_df = matches
        prior = position_deletes_df(
            spark, [d for t in tasks for d in t.delete_files], table.properties
        )
        if prior is not None:
            affected = F.broadcast(matches.select("file_path").distinct())
            union_df = union_df.unionByName(
                prior[0].toDF("file_path", "pos").join(affected, "file_path", "left_semi")
            )
        # (spec_id, partition) pairs — write_dv_files stamps only
        # current-default-spec values centrally (r8 advice #2: a spec
        # evolution reusing a field NAME with a different transform
        # would mis-encode old-era values, and an external reader
        # pruning delete files by partition would resurrect rows)
        fp_parts = {
            strip_file_scheme(t.file.file_path): (t.spec_id, dict(t.file.partition or {}))
            for t in tasks
        }
        return write_dv_files(table, union_df, n_shards=n_shards, partitions=fp_parts)
    finally:
        matches.unpersist()


def _carry_manifests_superseding_dvs(
    table: Table, snap, dv_files: list[DataFile], retire=None
) -> tuple[list["ManifestFile"], int]:
    """Carry the snapshot's manifests forward, dropping DV entries
    superseded by the replacement DVs (at most one live DV per data
    file — V3 invariant) and every delete entry whose ``DataFile`` the
    ``retire`` predicate selects; returns the kept manifests and how
    many entries were dropped. The one walk that rewrites delete
    manifests: delete_where_dv, the v3 merge_matrix_mor path, and the
    positional/equality-delete → DV migrations (maintenance)."""
    from .manifests import fetch_entries, read_manifest_list
    from .table import strip_file_scheme

    covered = {strip_file_scheme(f.referenced_data_file) for f in dv_files}

    def dropped(f) -> bool:
        if f.is_deletion_vector and strip_file_scheme(f.referenced_data_file or "") in covered:
            return True
        return retire is not None and retire(f)

    kept: list[ManifestFile] = []
    n_dropped = 0
    for m in read_manifest_list(table.io.read(snap.manifest_list)):
        if m.content != ManifestContent.DELETES:
            kept.append(m)
            continue
        entries = fetch_entries(m, table.io.read(m.manifest_path), discard_deleted=True)
        survivors = [e for e in entries if not dropped(e.data_file)]
        n_dropped += len(entries) - len(survivors)
        if len(survivors) == len(entries):
            kept.append(m)
        elif survivors:
            kept.append(
                _rewrite_manifest_for_spec(
                    table, m, survivors, content=ManifestContent.DELETES
                )
            )
        # else: every entry dropped — drop the manifest
    return kept, n_dropped


def _write_eq_delete_files(
    table: Table, keys_df: DataFrame, key_columns: list[str]
) -> list[DataFile]:
    """Write an equality-delete parquet over the distinct key tuples and
    return its DataFile entries (empty list for an empty key set).
    Shared by delete_keys and merge_upsert — the two previously carried
    verbatim copies of this block (r6 review)."""
    import pyarrow.parquet as pq

    schema = table.schema
    fids = []
    for c in key_columns:
        f = schema.find_field(c)
        if f is None:
            raise ValueError(f"key column {c!r} not in schema")
        fids.append(f.field_id)

    out_dir = f"{table.location}/data/eqdel-{_uuid.uuid4().hex[:12]}"
    keys_df.select(*key_columns).distinct().coalesce(1).write.mode("overwrite").parquet(out_dir)

    delete_files = []
    for fi in table.io.list_prefix(out_dir):
        if not fi.path.endswith(".parquet"):
            continue
        with table.io.open_input(fi.path) as fh:
            meta = pq.ParquetFile(fh).metadata
        if meta.num_rows == 0:
            continue
        delete_files.append(
            DataFile(
                file_path=fi.path,
                content=DataFileContent.EQUALITY_DELETES,
                record_count=meta.num_rows,
                file_size_in_bytes=fi.size,
                partition={},
                equality_ids=fids,
            )
        )
    return delete_files


def delete_keys(
    table: Table, spark: SparkSession, keys_df: DataFrame, key_columns: list[str]
) -> Table:
    """Equality delete: drop every row whose key tuple appears in
    ``keys_df`` — written as an equality-delete file (distinct keys +
    equality field ids) in a DELETES manifest. Applies to all data
    files with a smaller sequence number; later appends are untouched.
    The streaming-upsert primitive: O(|keys|) to commit, applied at
    read time as a broadcast anti-join (reference enum
    manifest.go:306-312; field-ids surface manifest.go:438-444)."""
    snap = table.current_snapshot()
    if snap is None:
        return table
    from .manifests import read_manifest_list

    delete_files = _write_eq_delete_files(table, keys_df, key_columns)
    if not delete_files:
        return table
    keep = read_manifest_list(table.io.read(snap.manifest_list))
    return _commit_snapshot(
        table, [], OP_DELETE, keep_manifests=keep, delete_files=delete_files
    )


def _rewrite_manifest_for_spec(
    table: Table,
    m: "ManifestFile",
    survivors: list[ManifestEntry],
    content: ManifestContent = ManifestContent.DATA,
) -> "ManifestFile":
    """Rewrite a manifest's surviving entries under the manifest's OWN
    partition spec (EXISTING status, sequence numbers preserved) — used
    when a CoW rewrite removes files from an older-spec manifest, and
    (content=DELETES) when a new deletion vector supersedes a file's
    old DV entry."""
    import json as _json

    md = table.metadata
    spec = md.spec_by_id(m.partition_spec_id)
    if spec is None:
        raise ValueError(f"manifest {m.manifest_path} has unknown spec {m.partition_spec_id}")
    pfields = partition_avro_fields_for(spec, table.schema)
    entries = [
        ManifestEntry(
            status=ManifestEntryStatus.EXISTING,
            snapshot_id=e.snapshot_id,
            sequence_number=e.sequence_number,
            file_sequence_number=e.file_sequence_number,
            data_file=e.data_file,
        )
        for e in survivors
    ]
    data = write_manifest(
        entries,
        pfields,
        table.schema.to_json(),
        _json.dumps(spec.to_json_dict().get("fields", [])),
        content,
        spec_id=spec.spec_id,
        schema_id=table.schema.schema_id,
        format_version=table.metadata.format_version,
    )
    path = f"{md.location}/metadata/{_uuid.uuid4().hex}-m0.avro"
    table.io.write(path, data)
    seqs = [e.sequence_number or 0 for e in entries]
    return ManifestFile(
        manifest_path=path,
        manifest_length=len(data),
        partition_spec_id=spec.spec_id,
        content=content,
        sequence_number=m.sequence_number,
        min_sequence_number=min(seqs, default=m.min_sequence_number),
        added_snapshot_id=m.added_snapshot_id,
        added_files_count=0,
        existing_files_count=len(entries),
        deleted_files_count=0,
        added_rows_count=0,
        existing_rows_count=sum(e.data_file.record_count for e in entries),
        deleted_rows_count=0,
        partitions=_partition_summaries(spec, table.schema, [e.data_file for e in entries])
        if not spec.is_unpartitioned
        else [],
    )


def delete_where(table: Table, spark: SparkSession, row_filter) -> Table:
    """Copy-on-write delete: files that may contain matches are
    rewritten without matching rows; untouched files are retained.
    The scan pruning makes this proportional to affected files, not
    table size."""
    from .expressions import to_spark_column
    from .manifests import ManifestContent, fetch_entries, read_manifest_list

    snap = table.current_snapshot()
    if snap is None:
        return table

    # V3 row lineage: surviving rows of a rewritten file are the SAME
    # rows, so the rewrite materializes _row_id/_last_updated_sequence_
    # number physically (like compaction). Non-parquet output can't
    # carry the reserved columns through this path — refuse rather than
    # silently reassign ids (delete_where_mor/_dv preserve ids on any
    # format since they never rewrite data files).
    preserve_lineage = table.metadata.format_version >= 3
    out_fmt = table.properties.get("write.format.default", "parquet").lower()
    if preserve_lineage and out_fmt != "parquet":
        raise ValueError(
            "lineage-preserving copy-on-write delete requires parquet "
            f"output; write.format.default={out_fmt!r} on a v3 table "
            "would reassign row ids — use delete_where_mor/_dv instead"
        )

    tasks = table.scan(row_filter=row_filter).plan_files()
    affected = {t.file.file_path for t in tasks}

    # untouched DATA entries carry forward; DELETE manifests carry
    # forward WHOLE so merge-on-read deletes keep applying to untouched
    # files (entries pointing at rewritten paths no longer match
    # anything — rewritten files take the new, higher sequence number).
    # Manifests of OLDER partition specs cannot have their entries
    # re-encoded under the current spec (the partition dicts don't
    # match — r5 review: values silently nulled): untouched foreign
    # manifests carry forward whole, and a foreign manifest containing
    # affected files is re-written under ITS OWN spec.
    md = table.metadata
    untouched: list[ManifestEntry] = []
    keep_delete_manifests = []
    for m in read_manifest_list(table.io.read(snap.manifest_list)):
        if m.content != ManifestContent.DATA:
            keep_delete_manifests.append(m)
            continue
        entries = fetch_entries(m, table.io.read(m.manifest_path), discard_deleted=True)
        if m.partition_spec_id != md.default_spec_id:
            survivors = [e for e in entries if e.data_file.file_path not in affected]
            if len(survivors) == len(entries):
                keep_delete_manifests.append(m)  # untouched: keep whole
            elif survivors:
                keep_delete_manifests.append(
                    _rewrite_manifest_for_spec(table, m, survivors)
                )
            continue
        for e in entries:
            if e.data_file.file_path not in affected:
                untouched.append(e)

    new_files: list[DataFile] = []
    if affected:
        # read ONLY the affected tasks through the scan path so existing
        # positional/equality deletes are APPLIED before the rewrite —
        # a raw file read would resurrect merge-on-read-deleted rows
        # survivors = predicate FALSE **or NULL**: a bare ~cond drops
        # NULL-evaluating rows too, silently deleting rows the predicate
        # does not match (r5 review — data loss on nullable columns)
        keep_rows = (
            table.scan(with_lineage=preserve_lineage)
            .to_df(spark, tasks=tasks)
            .filter(~F.coalesce(to_spark_column(row_filter), F.lit(False)))
        )
        if keep_rows.limit(1).count() > 0:
            pairs = _write_data_files(
                table,
                keep_rows,
                f"{table.location}/data",
                carry_lineage=preserve_lineage,
            )
            new_files = collect_data_files(table, spark, pairs)

    return _commit_snapshot(
        table,
        new_files,
        OP_DELETE,
        keep_manifests=keep_delete_manifests,
        retained_entries=untouched,
    )


def update_where(
    table: Table,
    spark: SparkSession,
    row_filter,
    assignments: dict[str, Any],
) -> Table:
    """Copy-on-write UPDATE: files that may contain matches are
    rewritten with ``assignments`` (column name -> Column expression or
    literal, evaluated against the PRE-update row) applied to matching
    rows; untouched files are retained. One atomic snapshot.

    V3 row lineage (spec: updates carry _row_id forward and bump
    _last_updated_sequence_number): updated rows keep their _row_id and
    get a NULL materialized sequence — inheriting the committing data
    sequence at read time — while carried rows materialize their old
    sequence. This is what makes `changelog_by_lineage` report true
    update pre/post image pairs instead of delete+insert."""
    from .expressions import to_spark_column
    from .manifests import (
        LAST_UPDATED_SEQ_COL,
        ManifestContent,
        ROW_ID_COL,
        fetch_entries,
        read_manifest_list,
    )
    from .types import to_spark_type

    snap = table.current_snapshot()
    if snap is None:
        return table
    schema = table.schema
    known = {f.name for f in schema.fields}
    bad = set(assignments) - known
    if bad:
        raise ValueError(f"update_where assigns unknown columns: {sorted(bad)}")

    preserve_lineage = table.metadata.format_version >= 3
    out_fmt = table.properties.get("write.format.default", "parquet").lower()
    if preserve_lineage and out_fmt != "parquet":
        raise ValueError(
            "lineage-preserving copy-on-write update requires parquet "
            f"output; write.format.default={out_fmt!r} on a v3 table "
            "would reassign row ids"
        )

    tasks = table.scan(row_filter=row_filter).plan_files()
    affected = {t.file.file_path for t in tasks}
    if not affected:
        return table

    md = table.metadata
    untouched: list[ManifestEntry] = []
    keep_delete_manifests = []
    for m in read_manifest_list(table.io.read(snap.manifest_list)):
        if m.content != ManifestContent.DATA:
            keep_delete_manifests.append(m)
            continue
        entries = fetch_entries(m, table.io.read(m.manifest_path), discard_deleted=True)
        if m.partition_spec_id != md.default_spec_id:
            survivors = [e for e in entries if e.data_file.file_path not in affected]
            if len(survivors) == len(entries):
                keep_delete_manifests.append(m)
            elif survivors:
                keep_delete_manifests.append(
                    _rewrite_manifest_for_spec(table, m, survivors)
                )
            continue
        for e in entries:
            if e.data_file.file_path not in affected:
                untouched.append(e)

    rows = table.scan(with_lineage=preserve_lineage).to_df(spark, tasks=tasks)
    # NULL-evaluating rows are NOT matches (same rule as delete_where)
    cond = F.coalesce(to_spark_column(row_filter), F.lit(False))
    cols = []
    for f in schema.fields:
        if f.name in assignments:
            v = assignments[f.name]
            vcol = v if isinstance(v, Column) else F.lit(v)
            cols.append(
                F.when(cond, vcol.cast(to_spark_type(f.field_type)))
                .otherwise(F.col(f.name))
                .alias(f.name)
            )
        else:
            cols.append(F.col(f.name))
    if preserve_lineage:
        cols.append(F.col(ROW_ID_COL))
        cols.append(
            F.when(cond, F.lit(None).cast("bigint"))
            .otherwise(F.col(LAST_UPDATED_SEQ_COL))
            .alias(LAST_UPDATED_SEQ_COL)
        )
    new_rows = rows.select(*cols)
    pairs = _write_data_files(
        table, new_rows, f"{table.location}/data", carry_lineage=preserve_lineage
    )
    new_files = collect_data_files(table, spark, pairs)
    return _commit_snapshot(
        table,
        new_files,
        OP_OVERWRITE,
        keep_manifests=keep_delete_manifests,
        retained_entries=untouched,
    )


def add_files(
    table: Table,
    paths: list[str],
    partition: dict | None = None,
) -> Table:
    """Adopt existing parquet/ORC files as table data files WITHOUT
    rewriting them (Iceberg's add_files import procedure): read each
    footer for stats, emit DataFile entries, commit one append
    snapshot. O(#files) metadata work regardless of data volume — the
    way 100 TB gets onboarded in place.

    Files must contain every required field of the table schema
    (missing optional columns read back as nulls). ``partition``
    applies to all given paths; call per-partition for partitioned
    imports. The reference models the operation's output state
    (manifest.go DataFile entries) but has no import path (main.go:314).
    """
    import pyarrow.parquet as pq

    required = [f.name for f in table.schema.fields if f.required]
    for p in paths:
        if p.endswith((".orc", ".avro")):
            # non-parquet adoptables: collect_data_file has dedicated
            # branches; pq.ParquetFile on them raised magic-byte errors
            # before the commit even started (r6)
            continue
        with table.io.open_input(p) as fh:
            have = {c.split(".")[0] for c in pq.ParquetFile(fh).schema_arrow.names}
        missing = [n for n in required if n not in have]
        if missing:
            raise ValueError(f"file {p} lacks required fields {missing}")

    snap = table.current_snapshot()
    keep: list[ManifestFile] = []
    if snap is not None:
        from .manifests import read_manifest_list

        keep = read_manifest_list(table.io.read(snap.manifest_list))
    files = [collect_data_file(p, table.schema, dict(partition or {})) for p in paths]
    return _commit_snapshot(table, files, OP_APPEND, keep_manifests=keep)


def merge_upsert(
    table: Table,
    spark: SparkSession,
    source: DataFrame,
    key_columns: list[str],
    extra_summary: dict[str, str] | None = None,
) -> Table:
    """MERGE-style upsert in ONE atomic snapshot: every target row whose
    key tuple appears in ``source`` is replaced by the source rows;
    source rows with new keys are inserts.

    Mechanics: an equality-delete file over the source keys plus the
    source's new data files commit together with the SAME sequence
    number. Equality deletes apply only to files with strictly smaller
    sequence numbers (Iceberg spec; plan_files enforces it), so the
    delete erases old versions of the keys while leaving the new files
    untouched — no read-modify-write of existing data, O(|source|)
    work regardless of table size. Readers see either the pre-merge or
    post-merge table, never an intermediate.

    The reference enumerates the operation (table/snapshots.go:32-39
    'overwrite') but has no write path (main.go:314).
    """
    snap = table.current_snapshot()
    if snap is None:
        # the degenerate first-commit path carries the idempotency
        # marker IN the append commit itself — a second stamping commit
        # left a crash window where the snapshot existed without its
        # marker and a restarted sink re-applied the batch (r5 review)
        return append(table, source, extra_summary=extra_summary)
    from .manifests import read_manifest_list

    delete_files = _write_eq_delete_files(table, source, key_columns)
    schema = table.schema
    pairs = _write_data_files(table, source, f"{table.location}/data")
    files = collect_data_files(table, spark, pairs)
    keep = read_manifest_list(table.io.read(snap.manifest_list))
    return _commit_snapshot(
        table,
        files,
        OP_OVERWRITE,
        keep_manifests=keep,
        delete_files=delete_files,
        extra_summary=extra_summary,
    )


def merge_matrix_mor(
    table: Table,
    spark: SparkSession,
    source: DataFrame,
    key_columns: list[str],
    *,
    when_matched_update: dict[str, str] | str | None = "all",
    matched_condition: str | None = None,
    when_matched_delete: str | bool | None = None,
    when_not_matched_insert: bool = True,
    not_matched_condition: str | None = None,
    when_not_matched_by_source_delete: str | bool | None = None,
) -> Table:
    """Full MERGE WHEN-clause matrix on the merge-on-read path: matched
    rows falling to a delete/update clause (and by-source sweeps) become
    V2 positional deletes; update post-images and conditional inserts
    land as new data files — ALL in one atomic snapshot (deletes and
    data at the same sequence number; positional deletes name explicit
    (file, pos) pairs, so the new files are untouched by construction).

    Same clause surface and t/s SQL-string contract as the Delta face
    (delta_write.merge_delta); delete-then-update precedence on matched
    rows; duplicate source keys refused. O(|source| + affected rows) —
    untouched files are never rewritten, unlike the CoW update_where.

    V3 row-lineage tables (r12 verdict task #4 — previously a
    documented refusal): matched-update post-images carry the target
    row's ``_row_id`` physically with a NULL
    ``_last_updated_sequence_number`` (read-side coalesce yields the
    committing sequence — spec v3 update semantics), inserts land in
    SEPARATE files with no lineage columns so they draw fresh ids from
    the table's next-row-id at commit, and all delete state goes
    through deletion vectors (v3 forbids new v2 positional-delete
    files), superseding any prior DV per affected file as a superset.
    """
    from .manifests import LAST_UPDATED_SEQ_COL, ROW_ID_COL, read_manifest_list

    is_v3 = table.metadata.format_version >= 3
    out_fmt = table.properties.get("write.format.default", "parquet").lower()
    if is_v3 and out_fmt != "parquet":
        raise ValueError(
            "lineage-preserving MERGE requires parquet output; "
            f"write.format.default={out_fmt!r} on a v3 table would "
            "reassign updated rows' _row_id"
        )
    dup = (
        source.groupBy(*key_columns).count().filter(F.col("count") > 1).limit(1).count()
    )
    if dup:
        raise ValueError(
            "merge_matrix_mor: source has duplicate key tuples — "
            "ambiguous MERGE (multiple source rows match one target row)"
        )

    def cond(expr, default: bool):
        if expr is None:
            return F.lit(default)
        if expr is True:
            return F.lit(True)
        return F.expr(expr)

    snap = table.current_snapshot()
    tasks = table.scan().plan_files()
    live = read_tasks(table, spark, tasks, positions=True, lineage=is_v3)
    if live is None:
        # empty table: only the insert clause can apply
        if not when_not_matched_insert:
            return table
        ins = source.alias("s").filter(cond(not_matched_condition, True))
        return append(table, ins.select(*[f.name for f in table.schema.fields]))

    cols = [f.name for f in table.schema.fields]
    # validate clause arguments BEFORE any side effect (pos-delete files
    # land under the table directory)
    if when_matched_update == "all":
        upd_exprs = {c: f"s.{c}" for c in cols}
    else:
        upd_exprs = dict(when_matched_update or {})
        unknown = set(upd_exprs) - set(cols)
        if unknown:
            raise ValueError(
                f"merge_matrix_mor: unknown update columns {sorted(unknown)}"
            )
    # same persist rationale as merge_delta: three action subtrees read
    # the full positions scan
    live = live.persist()
    t = live.alias("t")
    s = source.alias("s")
    joined = t.join(s, [F.col(f"t.{k}") == F.col(f"s.{k}") for k in key_columns])
    del_c = (
        cond(when_matched_delete, False)
        if when_matched_delete is not None
        else F.lit(False)
    )
    upd_c = (
        cond(matched_condition, True)
        if when_matched_update is not None
        else F.lit(False)
    )
    verdict = (
        F.when(del_c, F.lit("delete"))
        .when(upd_c, F.lit("update"))
        .otherwise(F.lit("keep"))
    )
    affected = (
        joined.withColumn("_verdict", verdict)
        .filter(F.col("_verdict") != "keep")
        .persist()
    )
    try:
        masks = affected.select(
            F.col("t.file_path").alias("file_path"), F.col("t.pos").alias("pos")
        )
        if when_not_matched_by_source_delete is not None:
            nmbs = live.alias("t").join(
                source.select(*key_columns).alias("s"),
                [F.col(f"t.{k}") == F.col(f"s.{k}") for k in key_columns],
                "left_anti",
            )
            nmbs_df = nmbs.filter(cond(when_not_matched_by_source_delete, True))
            masks = masks.unionByName(nmbs_df.select("file_path", "pos"))
        if is_v3:
            # v3 forbids new v2 positional-delete files: delete state
            # becomes one replacement DV per affected file — the union
            # of its new masks and ALL its prior deletes. masks came
            # from `live`, which already excludes prior-deleted rows,
            # so the union never double-counts.
            delete_files = _write_superset_dvs(table, spark, masks, tasks)
        else:
            delete_files = _write_pos_delete_files(table, masks)

        # (update-column names validated above, before any file writes)
        lineage_cols = (
            [
                F.col(f"t.{ROW_ID_COL}").alias(ROW_ID_COL),
                F.lit(None).cast("bigint").alias(LAST_UPDATED_SEQ_COL),
            ]
            if is_v3
            else []
        )
        post_parts = []
        if when_matched_update is not None:
            post_parts.append(
                affected.filter(F.col("_verdict") == "update").select(
                    *[
                        F.expr(upd_exprs[c]).alias(c)
                        if c in upd_exprs
                        else F.col(f"t.{c}").alias(c)
                        for c in cols
                    ],
                    *lineage_cols,
                )
            )
        insert_part = None
        if when_not_matched_insert:
            unmatched = source.alias("s").join(
                live.select(*key_columns).alias("t"),
                [F.col(f"s.{k}") == F.col(f"t.{k}") for k in key_columns],
                "left_anti",
            )
            insert_part = unmatched.filter(cond(not_matched_condition, True)).select(
                *[F.col(c).alias(c) for c in cols]
            )
            if not is_v3:
                # v2: one combined write. v3 keeps inserts in separate
                # files — a file is lineage-materialized only when EVERY
                # row carries _row_id (manifests.has_materialized_row_
                # ids), so mixing carried updates with fresh inserts
                # would force the whole file to consume fresh ids.
                post_parts.append(insert_part)
                insert_part = None
        new_files = []
        if post_parts:
            post = post_parts[0]
            for extra in post_parts[1:]:
                post = post.unionByName(extra)
            pairs = _write_data_files(
                table, post, f"{table.location}/data", carry_lineage=is_v3
            )
            new_files = collect_data_files(table, spark, pairs)
        if insert_part is not None:
            pairs = _write_data_files(table, insert_part, f"{table.location}/data")
            new_files += collect_data_files(table, spark, pairs)
    finally:
        affected.unpersist()
        live.unpersist()
    if not delete_files and not new_files:
        return table
    if is_v3 and delete_files:
        keep, _ = _carry_manifests_superseding_dvs(table, snap, delete_files)
    else:
        keep = read_manifest_list(table.io.read(snap.manifest_list))
    return _commit_snapshot(
        table,
        new_files,
        OP_OVERWRITE,
        keep_manifests=keep,
        delete_files=delete_files,
    )
