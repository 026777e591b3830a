"""Table maintenance: small-file compaction, manifest consolidation,
snapshot expiration, orphan-file detection.

The reference has none of this (its write path is WIP,
cmd/icegopher/main.go:314); the semantics follow the Iceberg spec's
maintenance actions (rewrite_data_files / rewrite_manifests /
expire_snapshots / remove_orphan_files). At 100 TB these are not
optional: streaming appends produce thousands of sub-target files whose
per-file overhead (task scheduling, footer reads, manifest entries)
dominates scan cost, and every retained snapshot pins dead data files
on storage.

Scale posture:
  * compaction reads + rewrites ONLY the affected partition groups via
    Spark (executor-side, parallel); planning stays driver-side over
    manifest entries, never touching data.
  * expiration computes reachability over metadata only (manifest
    lists + manifests), then deletes unreachable files; no data reads.
  * all operations commit through the same metadata commit as writes
    (write.py::commit_metadata_update: one list of Iceberg update
    actions, applied by metadata.apply_updates or sent to the table's
    catalog), so a concurrent append raises CommitFailedError and can
    be retried after refresh().
"""

from __future__ import annotations

import math
import os
import uuid as _uuid
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .io import strip_scheme
from .manifests import (
    DataFileContent,
    ManifestContent,
    ManifestEntry,
    ManifestFile,
    fetch_entries,
    read_manifest_list,
)
from .metadata import OP_REPLACE
from .table import (
    FileScanTask,
    Table,
    strip_file_scheme,
)
from .types import to_spark_type
from .write import (
    _commit_snapshot,
    collect_data_files,
)

DEFAULT_TARGET_FILE_SIZE = 128 * 1024 * 1024  # Iceberg's write.target-file-size-bytes default


def _data_and_delete_manifests(
    table: Table,
) -> tuple[list[ManifestFile], list[ManifestFile]]:
    snap = table.current_snapshot()
    if snap is None:
        return [], []
    manifests = read_manifest_list(table.io.read(snap.manifest_list))
    data = [m for m in manifests if m.content != ManifestContent.DELETES]
    deletes = [m for m in manifests if m.content == ManifestContent.DELETES]
    return data, deletes


def _schema_fallback_renames(md) -> set[str]:
    """Field names that differ for the same field id across the table's
    schema history. Non-empty means current-schema fallback for
    expired-snapshot files is NOT rename-safe (parquet reads match by
    name)."""
    current = {f.field_id: f.name for f in md.current_schema.fields}
    out: set[str] = set()
    for s in md.schemas:
        for f in s.fields:
            cur = current.get(f.field_id)
            if cur is not None and cur != f.name:
                out.add(f"{f.name}->{cur}")
    return out


def compact_data_files(
    table: Table,
    spark: SparkSession,
    target_file_size: int | None = None,
    small_file_threshold: int | None = None,
) -> Table:
    """Bin-pack small data files into ~target-size files (Iceberg's
    rewrite_data_files binpack strategy).

    Groups the scan planner's sub-threshold default-spec tasks by
    (partition tuple, written-schema, format, equality-delete set);
    each group with >=2 files is read through
    Spark — with its positional and equality deletes APPLIED — and
    rewritten as ceil(bytes/target) files under the current schema.
    Untouched files carry forward as EXISTING entries keeping their
    original sequence numbers, so older equality deletes still apply
    to them; rewritten files get the new snapshot's sequence number,
    so no prior delete can re-apply. Delete manifests are carried
    forward untouched (entries pointing at rewritten paths simply no
    longer match anything).
    """
    target = int(
        target_file_size
        or int(table.properties.get("write.target-file-size-bytes", DEFAULT_TARGET_FILE_SIZE))
    )
    threshold = int(small_file_threshold or (target * 3 // 4))
    md = table.metadata
    io = table.io
    data_manifests, delete_manifests = _data_and_delete_manifests(table)
    # under partition-spec evolution, only current-spec manifests can be
    # rewritten (the new manifest is written under the default spec);
    # older-spec manifests carry forward untouched
    foreign_spec = [m for m in data_manifests if m.partition_spec_id != md.default_spec_id]
    data_manifests = [m for m in data_manifests if m.partition_spec_id == md.default_spec_id]
    if not data_manifests:
        return table

    entries: list[ManifestEntry] = []
    for m in data_manifests:
        entries.extend(fetch_entries(m, io.read(m.manifest_path), discard_deleted=True))

    # group the planner's small default-spec tasks (their positional
    # and equality deletes matched by the scan's own seq/spec/partition
    # rules) by (partition, written schema, format, applicable
    # equality-delete set) — each group rewrites as one Spark job
    groups: dict[tuple, list[FileScanTask]] = {}
    for t in table.scan().plan_files():
        if t.spec_id != md.default_spec_id or t.file.file_size_in_bytes >= threshold:
            continue
        key = (
            tuple(sorted(t.file.partition.items())),
            t.schema_id,
            t.file.file_format,
            frozenset(d.file_path for d in t.eq_delete_files),
        )
        groups.setdefault(key, []).append(t)

    rewritten: set[str] = set()
    new_files = []
    schema = table.schema
    fmt_out = table.properties.get("write.format.default", "parquet").lower()
    ext = f".{fmt_out}" if fmt_out != "parquet" else ".parquet"
    # V3 row lineage: compaction moves rows between files, so the
    # rewritten files materialize _row_id / _last_updated_sequence_number
    # as physical parquet columns (spec: rewrites preserve lineage) and
    # their presence is recorded in value_counts under the reserved
    # field ids for metadata-only detection at scan time. Non-parquet
    # output can't carry the extra columns through this path — those
    # rewrites would reassign ids, so refuse loudly rather than silently
    # break lineage.
    preserve_lineage = table.metadata.format_version >= 3
    if preserve_lineage and fmt_out != "parquet":
        if any(len(g) >= 2 for g in groups.values()):
            raise ValueError(
                "lineage-preserving compaction requires parquet output; "
                f"write.format.default={fmt_out!r} on a v3 table would "
                "reassign row ids"
            )
        return table  # nothing to rewrite: a no-op stays a no-op
    scan = table.scan(with_lineage=preserve_lineage)
    fallback_unsafe = _schema_fallback_renames(md)
    for (pkey, schema_id, _fmt, _eq), group in groups.items():
        if len(group) < 2:
            continue
        # a file whose adding snapshot was EXPIRED falls back to the
        # current schema; parquet reads match columns BY NAME, so if any
        # field was ever renamed the fallback reads nulls — and unlike a
        # transient scan misread, compaction would bake those nulls into
        # the replacement files permanently (r6 review). Refuse loudly.
        if schema_id is None and fallback_unsafe:
            raise ValueError(
                "cannot compact files whose adding snapshot has been "
                f"expired: fields {sorted(fallback_unsafe)} were renamed "
                "across schema versions, so the written schema of "
                f"{[t.file.file_path for t in group]} cannot be "
                "reconstructed; compact before expiring snapshots"
            )
        # Read the group THROUGH THE SCAN PATH (to_df with the planned
        # tasks): one implementation of schema projection, ORC/Avro
        # positional readers, partial-key refusal, and by-name
        # delete-column resolution instead of a drifting copy here —
        # the old copy silently dropped missing equality-key fields
        # (over-deleting where the scan raises) and renamed delete
        # columns positionally (r6 review).
        part = scan.to_df(spark, tasks=group)

        total = sum(t.file.file_size_in_bytes for t in group)
        n_out = max(1, math.ceil(total / target))
        out = f"{table.location}/data/compact-{_uuid.uuid4().hex[:16]}"
        part.coalesce(n_out).write.mode("overwrite").format(fmt_out).save(out)
        partition = dict(pkey)
        group_pairs = [
            (f"{out}/{fn}", partition)
            for fn in sorted(table.io.list_dir(out))
            if fn.endswith(ext)
        ]
        # batch wrapper: ORC/Avro rewrites keep their column stats
        # (parquet batches are a no-op pass-through)
        new_files.extend(collect_data_files(table, spark, group_pairs))
        rewritten.update(t.file.file_path for t in group)

    if not new_files:
        return table
    retained = [e for e in entries if e.data_file.file_path not in rewritten]
    return _commit_snapshot(
        table,
        new_files,
        OP_REPLACE,
        keep_manifests=foreign_spec + delete_manifests,
        retained_entries=retained,
    )


def rewrite_manifests(table: Table) -> Table:
    """Consolidate data manifests into one (Iceberg's
    rewrite_manifests). After N streaming appends a snapshot carries N
    manifests; planning cost and manifest-list size grow linearly.
    Entries keep their sequence numbers (EXISTING status). Only
    current-spec manifests consolidate; older-spec ones carry forward
    (the consolidated manifest is written under the default spec)."""
    md = table.metadata
    data_manifests, delete_manifests = _data_and_delete_manifests(table)
    foreign_spec = [m for m in data_manifests if m.partition_spec_id != md.default_spec_id]
    data_manifests = [m for m in data_manifests if m.partition_spec_id == md.default_spec_id]
    if len(data_manifests) <= 1:
        return table
    entries: list[ManifestEntry] = []
    for m in data_manifests:
        entries.extend(fetch_entries(m, table.io.read(m.manifest_path), discard_deleted=True))
    return _commit_snapshot(
        table,
        [],
        OP_REPLACE,
        keep_manifests=foreign_spec + delete_manifests,
        retained_entries=entries,
    )


def _snapshot_file_refs(
    table: Table, snap, _cache: dict[str, set[str]] | None = None
) -> tuple[set[str], set[str]]:
    """(manifest paths, data/delete file paths) referenced by a snapshot.

    ``_cache`` memoizes decoded manifests BY PATH across calls —
    manifests are immutable and heavily shared between snapshots (every
    append carries prior manifests forward), so reachability over N
    snapshots without the cache re-reads each manifest up to N times:
    O(snapshots × manifests) metadata IO (r6 review)."""
    io = table.io
    manifests = read_manifest_list(io.read(snap.manifest_list))
    mpaths: set[str] = set()
    fpaths: set[str] = set()
    for m in manifests:
        mpaths.add(m.manifest_path)
        if _cache is not None and m.manifest_path in _cache:
            fpaths |= _cache[m.manifest_path]
            continue
        refs = {
            e.data_file.file_path
            for e in fetch_entries(m, io.read(m.manifest_path), discard_deleted=False)
        }
        if _cache is not None:
            _cache[m.manifest_path] = refs
        fpaths |= refs
    return mpaths, fpaths


def expire_snapshots(
    table: Table,
    older_than_ms: int | None = None,
    retain_last: int = 1,
    delete_files: bool = True,
) -> Table:
    """Drop expired snapshots from metadata and delete files reachable
    ONLY from them (manifest lists, manifests, data/delete files).

    Kept: the current snapshot, every snapshot referenced by a
    branch/tag, the ``retain_last`` most recent, and any newer than
    ``older_than_ms``. Reachability is computed from metadata alone —
    no data reads — then unreachable files are removed storage-side.
    """
    import time as _time

    from .refs import live_refs, retained_snapshot_ids

    md = table.metadata
    now_ms = int(_time.time() * 1000)
    snaps = sorted(md.snapshots, key=lambda s: s.timestamp_ms)
    if not snaps:
        return table
    keep_ids = {s.snapshot_id for s in snaps[-max(1, retain_last):]}
    if md.current_snapshot_id is not None and md.current_snapshot_id != -1:
        keep_ids.add(md.current_snapshot_id)
    # ref retention (Iceberg spec knobs, reference table/refs.go:38-44):
    # expired refs (max-ref-age) release their snapshots; live branches
    # pin their retained ancestry per min-keep / max-snapshot-age
    keep_ids |= retained_snapshot_ids(md, now_ms)
    surviving_refs = live_refs(md, now_ms)
    if older_than_ms is not None:
        keep_ids.update(s.snapshot_id for s in snaps if s.timestamp_ms >= older_than_ms)
    expired = [s for s in snaps if s.snapshot_id not in keep_ids]
    if not expired and len(surviving_refs) == len(md.refs):
        return table

    # Plan the file deletions BEFORE the commit, but execute them only
    # AFTER it succeeds: if the commit loses a CAS race, the still-current
    # metadata must never reference deleted files (upstream Iceberg's
    # ExpireSnapshots does the same commit-then-clean ordering).
    doomed: list[str] = []
    if delete_files:
        mcache: dict[str, set[str]] = {}  # manifests are immutable + shared
        kept_manifests: set[str] = set()
        kept_files: set[str] = set()
        for s in snaps:
            if s.snapshot_id in keep_ids:
                mp, fp = _snapshot_file_refs(table, s, mcache)
                kept_manifests |= mp
                kept_files |= fp
        exp_manifests: set[str] = set()
        exp_files: set[str] = set()
        for s in expired:
            mp, fp = _snapshot_file_refs(table, s, mcache)
            exp_manifests |= mp
            exp_files |= fp
        doomed.extend(exp_manifests - kept_manifests)
        doomed.extend(exp_files - kept_files)
        doomed.extend(s.manifest_list for s in expired)

    expired_ids = {s.snapshot_id for s in expired}
    # statistics registrations are keyed to a snapshot: drop the ones
    # whose snapshot expired (spec behavior) and delete their files
    # with the same commit-then-clean ordering as everything else
    dropped_stats = [
        (key, e)
        for key, entries in (
            ("statistics", md.statistics),
            ("partition-statistics", md.partition_statistics),
        )
        for e in entries
        if e.get("snapshot-id") in expired_ids
    ]
    if delete_files:
        doomed.extend(e["statistics-path"] for _, e in dropped_stats)
    # a kept snapshot whose parent was expired keeps the dangling
    # parent-snapshot-id, matching Iceberg (history() just stops there)
    from .refs import _ref_update
    from .write import commit_metadata_update

    updates = [
        {"action": "remove-snapshots", "snapshot-ids": sorted(expired_ids)}
    ] + [
        {"action": "remove-snapshot-ref", "ref-name": name}
        for name in md.refs
        if name not in surviving_refs
    ] + [
        _ref_update(name, r)
        for name, r in surviving_refs.items()
        if md.refs.get(name) != r
    ] + [
        {"action": f"remove-{key}", "snapshot-id": e["snapshot-id"]}
        for key, e in dropped_stats
    ]
    table = commit_metadata_update(table, updates)
    for path in doomed:
        _safe_remove(table, path)
    return table


def _safe_remove(table: Table, path: str) -> None:
    try:
        table.io.remove(path)
    except FileNotFoundError:
        pass


DEFAULT_ORPHAN_AGE_MS = 3 * 24 * 3600 * 1000  # Iceberg's 3-day default


def orphan_files(
    table: Table, older_than_ms: int | None = None, refresh: bool = True
) -> list[str]:
    """Files under the table location referenced by NO snapshot and not
    part of the metadata plane — write leftovers from failed commits.
    Returns candidates; ``remove_orphan_files`` deletes them.

    Concurrency safety (Iceberg's RemoveOrphanFiles contract): the
    table is refreshed first so files referenced by commits newer than
    this handle aren't misclassified, and only files whose mtime is
    older than ``older_than_ms`` (default 3 days) qualify — an in-flight
    writer's just-written-but-uncommitted data files are never touched.
    """
    import time as _time

    if refresh:
        table = table.refresh()
    if older_than_ms is None:
        older_than_ms = DEFAULT_ORPHAN_AGE_MS
    cutoff_ms = int(_time.time() * 1000) - older_than_ms
    md = table.metadata
    referenced: set[str] = set()
    location = strip_scheme(md.location)
    # metadata plane: every versioned metadata json + version hint
    for fn in table.io.list_dir(os.path.join(location, "metadata")):
        if fn.endswith(".metadata.json") or fn == "version-hint.text":
            referenced.add(os.path.join(location, "metadata", fn))
    # registered statistics files are LIVE metadata, not orphans —
    # without this, remove_orphan_files deletes every partition-stats
    # parquet older than the age cutoff while still registered (r6)
    for e in [*md.statistics, *md.partition_statistics]:
        p = e.get("statistics-path")
        if p:
            referenced.add(strip_file_scheme(p))
    mcache: dict[str, set[str]] = {}
    for s in md.snapshots:
        referenced.add(strip_file_scheme(s.manifest_list))
        mp, fp = _snapshot_file_refs(table, s, mcache)
        referenced.update(strip_file_scheme(p) for p in mp)
        referenced.update(strip_file_scheme(p) for p in fp)
    # Spark write artifacts that are never referenced but expected
    noise = ("_SUCCESS", ".crc", "_started", "_committed")
    orphans = []
    for fi in table.io.list_prefix(md.location):
        path = fi.path
        if path in referenced:
            continue
        if f"{os.sep}_cache{os.sep}" in path:
            # regenerable sidecar caches (e.g. the MinHash index's
            # snapshot-keyed density stats) are owned and garbage-
            # collected by their writers, not by orphan GC
            continue
        base = os.path.basename(path)
        if base == "_SUCCESS" or base.endswith(".crc") or any(base.startswith(n) for n in noise):
            continue
        if fi.mtime_ms > cutoff_ms:
            continue  # too young: may belong to an in-flight commit
        orphans.append(path)
    return orphans


def orphan_files_distributed(
    table: Table,
    spark: SparkSession,
    older_than_ms: int | None = None,
    refresh: bool = True,
) -> list[str]:
    """Distributed orphan discovery (r8 verdict #2): same result as
    ``orphan_files``, but both heavy sides run as DataFrames —
    upstream Iceberg ships RemoveOrphanFiles as a Spark action for
    exactly this reason.

    - The DRIVER touches only metadata-scale state: metadata jsons,
      registered stats files, manifest LISTS, and the distinct set of
      manifest paths (manifests are immutable and shared across
      snapshots, so `distinct` replaces the driver-side memo cache).
    - The big reachable set — every data/delete path inside every
      manifest — is decoded EXECUTOR-side, a partition of manifests
      per task (`mapInPandas` over the manifest-path frame).
    - The file LISTING fans out one task per top-level directory under
      the table location (on an object store this becomes a parallel
      prefix listing), stamping mtime during the walk.
    - Orphans = listing ANTI-JOIN reachable, with the same mtime guard
      / noise filters / `_cache` exclusion applied in the plan. Only
      the orphan list itself (small by contract — it is write garbage)
      is collected.

    Scale posture: a 100 TB table with millions of files never
    materializes the listing or the reachable set on the driver; the
    anti-join shuffles O(#files) short path strings once.
    """
    import time as _time

    if refresh:
        table = table.refresh()
    if older_than_ms is None:
        older_than_ms = DEFAULT_ORPHAN_AGE_MS
    cutoff_ms = int(_time.time() * 1000) - older_than_ms
    md = table.metadata
    location = strip_scheme(md.location)

    # --- driver side: metadata plane + stats + manifest lists ---------
    small_refs: set[str] = set()
    for fn in table.io.list_dir(os.path.join(location, "metadata")):
        if fn.endswith(".metadata.json") or fn == "version-hint.text":
            small_refs.add(os.path.join(location, "metadata", fn))
    for e in [*md.statistics, *md.partition_statistics]:
        p = e.get("statistics-path")
        if p:
            small_refs.add(strip_file_scheme(p))
    manifest_paths: set[str] = set()
    for s in md.snapshots:
        small_refs.add(strip_file_scheme(s.manifest_list))
        for m in read_manifest_list(table.io.read(s.manifest_list)):
            manifest_paths.add(m.manifest_path)
    small_refs |= {strip_file_scheme(p) for p in manifest_paths}

    props = dict(table.properties or {})

    # --- executor side: decode manifests -> referenced data paths -----
    def _decode_manifests(batches):
        import pandas as pd

        from .io import load_io
        from .manifests import read_manifest_entries

        for pdf in batches:
            out: list[str] = []
            for mp in pdf["manifest"]:
                raw = load_io(mp, props).read(mp)
                out.extend(
                    strip_file_scheme(e.data_file.file_path)
                    for e in read_manifest_entries(raw, discard_deleted=False)
                )
            yield pd.DataFrame({"path": out})

    sc_parallelism = spark.sparkContext.defaultParallelism
    reachable_parts = [
        spark.createDataFrame(
            [(p,) for p in sorted(small_refs)], "path string"
        )
    ]
    if manifest_paths:
        mdf = spark.createDataFrame(
            [(p,) for p in sorted(manifest_paths)], "manifest string"
        ).repartition(min(len(manifest_paths), sc_parallelism))
        reachable_parts.append(mdf.mapInPandas(_decode_manifests, "path string"))
    reachable = reachable_parts[0]
    for p in reachable_parts[1:]:
        reachable = reachable.unionByName(p)

    # --- executor side: one prefix listing per top-level entry ---------
    tops = [os.path.join(location, n) for n in sorted(table.io.list_dir(location))]

    def _walk(batches):
        import pandas as pd

        from .io import load_io

        for pdf in batches:
            found = [f for d in pdf["dir"] for f in load_io(d, props).list_prefix(d)]
            yield pd.DataFrame(
                {"path": [f.path for f in found], "mtime": [f.mtime_ms for f in found]}
            )

    listing = (
        spark.createDataFrame([(d,) for d in tops], "dir string")
        .repartition(max(1, min(len(tops), sc_parallelism)))
        .mapInPandas(_walk, "path string, mtime long")
    )

    base = F.element_at(F.split(F.col("path"), os.sep), -1)
    candidates = (
        listing
        # same guards as the driver path, expressed in the plan:
        .filter(~F.col("path").contains(f"{os.sep}_cache{os.sep}"))
        .filter(~base.endswith(".crc"))
        .filter(~base.startswith("_SUCCESS"))
        .filter(~base.startswith(".crc"))
        .filter(~base.startswith("_started"))
        .filter(~base.startswith("_committed"))
        .filter(F.col("mtime") <= F.lit(cutoff_ms))
    )
    orphans = (
        candidates.join(reachable.distinct(), "path", "left_anti")
        .select("path")
        .collect()
    )
    return sorted(r["path"] for r in orphans)


def remove_orphan_files(
    table: Table,
    older_than_ms: int | None = None,
    spark: SparkSession | None = None,
) -> list[str]:
    """Delete orphan candidates. With ``spark`` the discovery runs
    distributed (orphan_files_distributed — the 100 TB path); without,
    the driver-side walk is kept for metadata-scale tables and
    spark-less callers (CLI)."""
    if spark is not None:
        removed = orphan_files_distributed(table, spark, older_than_ms=older_than_ms)
    else:
        removed = orphan_files(table, older_than_ms=older_than_ms)
    for path in removed:
        _safe_remove(table, path)
    return removed


def rewrite_clustered(
    table: Table,
    spark: SparkSession,
    *cols: str,
    n_files: int = 8,
) -> Table:
    """Z-order clustering rewrite: Iceberg's ``rewrite_data_files``
    sort strategy with ``zorder(col_a, col_b, …)`` — 2 to 6 cluster
    columns (round-5: N-column Morton via operators/zorder.zvalue_n).

    Reads the current snapshot through the scan path (positional and
    equality deletes APPLIED), computes the Morton z-value of the two
    cluster columns (operators/zorder.py — pure codegen, no UDF), range
    partitions on z so each output file owns a contiguous z-range, and
    commits the rewrite as a REPLACE snapshot. Because deletes were
    applied during the read, delete manifests are NOT carried forward.

    After the rewrite every file's (min, max) is tight on BOTH columns,
    so the manifest metrics evaluator prunes files for predicates on
    either — the data-skipping property that makes multi-dimensional
    point/range lookups cheap at 100 TB. The rewrite itself is one
    range-shuffle of the data (executor-side); only per-file stats
    collection touches the driver.

    Partitioned tables (round-5) cluster WITHIN each partition of the
    live default spec: rows are jointly range-partitioned on
    (partition fields…, z) and written through the normal partitioned
    write path, so every file owns a contiguous z-range inside its
    partition dir and all rewritten files land under the current spec
    (older-spec eras are absorbed — the rewrite covers every live row).
    """
    from ..operators.zorder import check_zorder_type, zvalue_n
    from .write import _write_data_files

    snap = table.current_snapshot()
    if snap is None:
        return table

    for c in cols:
        f = next((f for f in table.schema.fields if f.name == c), None)
        if f is None:
            raise ValueError(f"zorder column {c!r} not in the table schema")
        check_zorder_type(c, to_spark_type(f.field_type).simpleString())

    # V3 row lineage: a z-order rewrite moves every row between files —
    # materialize the reserved columns like compaction does; non-parquet
    # output can't carry them, so refuse rather than reassign ids
    preserve_lineage = table.metadata.format_version >= 3
    out_fmt = table.properties.get("write.format.default", "parquet").lower()
    if preserve_lineage and out_fmt != "parquet":
        raise ValueError(
            "lineage-preserving z-order rewrite requires parquet output; "
            f"write.format.default={out_fmt!r} on a v3 table would "
            "reassign row ids"
        )
    df = table.scan(with_lineage=preserve_lineage).to_df(spark)
    lo = df.agg(
        *[F.min(F.col(c).cast("bigint")).alias(f"m{i}") for i, c in enumerate(cols)]
    ).first()
    z = zvalue_n(
        [F.col(c) for c in cols], [int(lo[f"m{i}"] or 0) for i in range(len(cols))]
    )

    schema = table.schema
    pairs = _write_data_files(
        table,
        df,
        f"{table.location}/data",
        cluster_by=z,
        n_ranges=n_files,
        carry_lineage=preserve_lineage,
    )
    new_files = collect_data_files(table, spark, pairs)
    if not new_files:
        return table
    return _commit_snapshot(
        table,
        new_files,
        OP_REPLACE,
        keep_manifests=[],
        retained_entries=[],
        extra_summary={"rewrite": f"zorder({','.join(cols)})"},
    )


def rewrite_position_delete_files(
    table: Table, spark: SparkSession, n_shards: int = 32
) -> Table:
    """Migrate V2 positional-delete FILES to V3 deletion vectors
    (Iceberg's ``rewrite_position_delete_files`` action on a v3 table).

    ``upgrade_format_version(3)`` flips the metadata but leaves prior
    per-commit positional-delete parquet files in place; every scan
    keeps paying their path-string joins until the files happen to be
    superseded by a re-delete or compaction. This op retires them in
    one replace commit: all live positional-delete rows are read once,
    restricted to data files still live in the table, unioned with any
    existing DV for the same file (the V3 one-DV-per-file superset
    invariant ``delete_where_dv`` enforces), and rewritten as ONE
    roaring-bitmap DV per referenced data file. Equality deletes are
    untouched. The old delete files stay on storage for time travel
    until ``expire_snapshots``/``remove_orphan_files`` reclaims them.

    Scale shape: planning is driver-side over manifest entries;
    delete rows shuffle once as narrow (path, pos) pairs and Puffin
    files are written executor-side (write.py::write_dv_files), so
    driver work is one metadata row per affected data file.

    Reference anchor: manifest.go:306-312 enumerates the delete
    content types; the migration itself is beyond-reference (the
    reference predates V3 and cannot write at all).
    """
    from .table import position_deletes_df
    from .write import _carry_manifests_superseding_dvs, write_dv_files

    if table.metadata.format_version < 3:
        raise ValueError(
            "rewrite_position_delete_files requires a v3 table "
            f"(format-version={table.metadata.format_version}); run "
            "upgrade_format_version(table, 3) first"
        )
    snap = table.current_snapshot()
    if snap is None:
        return table

    # The planner's delete matching (seq + path) picks the LIVE data
    # files a plain positional-delete file applies to; their whole
    # delete state (parquet rows + any prior DV) becomes one DV each.
    # Positions referencing rewritten-away files are garbage: the
    # semi-join drops them.
    affected = [
        t for t in table.scan().plan_files()
        if any(not d.is_deletion_vector for d in t.delete_files)
    ]
    dv_files = []
    if affected:
        union_df, _ = position_deletes_df(
            spark, [d for t in affected for d in t.delete_files], table.properties
        )
        aff_df = spark.createDataFrame(
            [(strip_file_scheme(t.file.file_path),) for t in affected], "file_path string"
        )
        union_df = union_df.toDF("file_path", "pos").join(
            F.broadcast(aff_df), "file_path", "left_semi"
        )
        # (spec_id, partition) pairs; write_dv_files stamps only
        # current-default-spec values centrally (r8 advice #2)
        fp_parts = {
            strip_file_scheme(t.file.file_path): (t.spec_id, dict(t.file.partition or {}))
            for t in affected
        }
        dv_files = write_dv_files(table, union_df, n_shards=n_shards, partitions=fp_parts)

    # Carry manifests forward: data untouched; delete manifests lose
    # every plain positional-delete entry (migrated or dead-file
    # garbage) and any DV entry superseded by a replacement DV.
    kept, dropped = _carry_manifests_superseding_dvs(
        table,
        snap,
        dv_files,
        retire=lambda f: f.content == DataFileContent.POSITION_DELETES
        and not f.is_deletion_vector,
    )
    if not dropped:
        return table  # nothing to migrate
    return _commit_snapshot(
        table,
        [],
        OP_REPLACE,
        keep_manifests=kept,
        delete_files=dv_files,
        extra_summary={
            "rewrite": "position-deletes->dv",
            "added-delete-files": str(len(dv_files)),
        },
    )


def rewrite_equality_deletes(
    table: Table, spark: SparkSession, n_shards: int = 32
) -> Table:
    """Materialize equality deletes into deletion vectors (Iceberg's
    ``convert_equality_deletes``) on a v3 table.

    Equality deletes are cheap to COMMIT (O(|keys|)) but charge every
    subsequent scan an anti-join per delete file forever. This op pays
    the matching cost once: for every live data file each eq-delete
    applies to (plan-time seq scoping), the matching row positions are
    computed, unioned with the file's existing delete state (prior DV +
    positional rows — the superset invariant), and written as one DV
    per file; every equality-delete entry is then dropped in a single
    replace commit. Positional-delete FILES are left to
    ``rewrite_position_delete_files``. Scans afterwards apply only
    per-file bitmaps — no key joins.

    Scale shape: only files an eq-delete actually applies to are read
    (grouped by (format, eq-set)); matches shuffle as narrow
    (path, pos) pairs; Puffin writes are executor-side
    (write.py::write_dv_files).
    """
    from .table import read_tasks
    from .write import _carry_manifests_superseding_dvs, _write_superset_dvs

    if table.metadata.format_version < 3:
        raise ValueError(
            "rewrite_equality_deletes requires a v3 table "
            f"(format-version={table.metadata.format_version}); run "
            "upgrade_format_version(table, 3) first"
        )
    snap = table.current_snapshot()
    if snap is None:
        return table

    groups: dict[frozenset, list] = {}
    for t in table.scan().plan_files():
        if t.eq_delete_files:
            groups.setdefault(frozenset(d.file_path for d in t.eq_delete_files), []).append(t)
    dv_files = []
    if groups:
        # rename-safe: files project into the current schema by field
        # id before the key semi-joins (a by-name current-schema read
        # nulls a renamed key column, matches nothing, and the eq
        # entries below would still be dropped — silent resurrection)
        matches = reduce(
            DataFrame.unionByName,
            [
                _eq_delete_semi_union(
                    read_tasks(table, spark, ts, positions=True, deletes=False),
                    ts[0].eq_delete_files,
                    table.schema,
                    spark,
                ).select("file_path", "pos")
                for ts in groups.values()
            ],
        )
        dv_files = _write_superset_dvs(
            table, spark, matches, [t for ts in groups.values() for t in ts], n_shards
        )
    # every equality-delete entry is materialized into DVs: retire it
    kept, dropped = _carry_manifests_superseding_dvs(
        table,
        snap,
        dv_files,
        retire=lambda f: f.content == DataFileContent.EQUALITY_DELETES,
    )
    if not dropped:
        return table  # nothing to convert
    return _commit_snapshot(
        table,
        [],
        OP_REPLACE,
        keep_manifests=kept,
        delete_files=dv_files,
        extra_summary={
            "rewrite": "equality-deletes->dv",
            "added-delete-files": str(len(dv_files)),
        },
    )


def _eq_delete_semi_union(src: DataFrame, eq_files, base, spark) -> DataFrame:
    """Rows of ``src`` matching ANY equality-delete file's key set —
    the semi twin of table.apply_eq_delete_anti_joins; key resolution
    is the SHARED table.eq_delete_keys_df (field-ID lookup, partial-key
    refusal, broadcast guard), so the two faces cannot drift."""
    from .table import eq_delete_keys_df

    parts = []
    for dfile in eq_files:
        resolved = eq_delete_keys_df(dfile, base, spark)
        if resolved is None:
            continue
        keys, names = resolved
        parts.append(src.join(keys, names, "left_semi"))
    if not parts:
        return src.limit(0)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


NDV_BLOB_TYPE = "ndv-long-v1"


def compute_table_stats(
    table: Table,
    spark: SparkSession,
    columns: list[str] | None = None,
    mode: str = "exact",
    approx_rsd: float = 0.05,
) -> Table:
    """ANALYZE for CBO: write a Puffin table-statistics file with one
    per-column NDV blob and register it under the metadata's
    ``statistics`` list (the Iceberg StatisticsFile spec — the hook
    engines read distinct-count estimates from for join reordering and
    broadcast decisions).

    Blob type is the engine-specific ``ndv-long-v1`` (payload: the NDV
    as 8 big-endian bytes), NOT ``apache-datasketches-theta-v1``: the
    datasketches library is unavailable here and shipping a fake
    payload under the standard type would corrupt any reader that
    deserializes the sketch rather than reading the ``ndv`` property.
    The ``ndv`` blob property — the field Trino/Spark actually consult
    — is populated exactly per the spec's recommendation, and the
    value is the EXACT distinct count (one count_distinct pass over
    the scan, partial-aggregated; a theta sketch would only
    approximate it). Re-running replaces the current snapshot's entry;
    a ``columns=`` subset re-analyze merges with it (prior blobs for
    unselected columns carry over byte-for-byte).

    ``mode`` (r8 verdict #3): ``"exact"`` (default, the oracled path)
    computes true COUNT(DISTINCT) — at 100 TB that is one full
    shuffle PER COLUMN inside the wide agg, which is the correct
    answer but not the scale-sane one. ``mode="approx"`` uses
    HyperLogLog++ (``approx_count_distinct``, relative standard
    deviation ``approx_rsd``, default 5%): one map-side-combined pass,
    NO per-column shuffle — the default posture engines actually use
    for ANALYZE at scale. Approx blobs carry
    ``properties["ndv-mode"]="approx"`` so a reader can tell. Known
    interop gap (documented in COVERAGE.md): neither mode emits the
    standard ``apache-datasketches-theta-v1`` sketch payload — the
    datasketches lib is unavailable here, and a fake payload under the
    standard type would corrupt sketch-deserializing readers.

    Scale: one wide aggregation over the table (all requested columns
    in a single pass); the statistics file itself is O(columns).
    """
    import uuid as _uuid

    from .puffin import write_puffin
    from .types import VariantType
    from .write import commit_metadata_update

    snap = table.current_snapshot()
    if snap is None:
        return table
    fields = [
        f
        for f in table.schema.fields
        if f.field_type.is_primitive and not isinstance(f.field_type, VariantType)
        and (columns is None or f.name in columns)
    ]
    if not fields:
        raise ValueError("no stats-eligible columns selected")
    if mode not in ("exact", "approx"):
        raise ValueError(f"mode must be 'exact' or 'approx', got {mode!r}")
    df = table.scan(selected_fields=tuple(f.name for f in fields)).to_df(spark)
    if mode == "approx":
        aggs = [
            F.approx_count_distinct(F.col(f.name), rsd=approx_rsd).alias(f.name)
            for f in fields
        ]
    else:
        aggs = [F.count_distinct(F.col(f.name)).alias(f.name) for f in fields]
    row = df.agg(*aggs).collect()[0]

    blobs = []
    for f in fields:
        ndv = int(row[f.name])
        props = {"ndv": str(ndv)}
        if mode == "approx":
            props["ndv-mode"] = "approx"
            props["ndv-rsd"] = str(approx_rsd)
        blobs.append(
            (
                ndv.to_bytes(8, "big"),
                {
                    "type": NDV_BLOB_TYPE,
                    "snapshot-id": snap.snapshot_id,
                    "sequence-number": snap.sequence_number,
                    "fields": [f.field_id],
                    "properties": props,
                },
            )
        )
    # a column-subset re-analyze MERGES with the snapshot's existing
    # registration instead of replacing it (r8 review: incremental
    # per-column ANALYZE — the natural usage — silently destroyed the
    # other columns' stats): blobs for field ids NOT being recomputed
    # are carried over byte-for-byte from the prior statistics file.
    recomputed = {f.field_id for f in fields}
    for s in table.metadata.statistics:
        if s.get("snapshot-id") != snap.snapshot_id:
            continue
        try:
            prior = table.io.read(s["statistics-path"])
        except Exception:  # noqa: BLE001 — a missing prior file only
            continue  # loses its carried blobs, never the new ones
        for b in s.get("blob-metadata", []):
            fids = b.get("fields", [])
            if any(fid in recomputed for fid in fids):
                continue
            payload = prior[b["offset"] : b["offset"] + b["length"]]
            meta = {k: v for k, v in b.items() if k not in ("offset", "length")}
            blobs.append((payload, meta))
    data, metas = write_puffin(blobs)
    path = f"{table.location}/metadata/stats-{_uuid.uuid4().hex}.puffin"
    table.io.write(path, data)

    stats_file = {
        "snapshot-id": snap.snapshot_id,
        "statistics-path": path,
        "file-size-in-bytes": len(data),
        # footer = everything after the last blob byte (magic + payload
        # + payload-size + flags + magic)
        "file-footer-size-in-bytes": len(data)
        - (4 + sum(len(b) for b, _ in blobs)),
        "blob-metadata": metas,
    }
    updates = [
        {
            "action": "set-statistics",
            "snapshot-id": snap.snapshot_id,
            "statistics": stats_file,
        }
    ]
    return commit_metadata_update(table, updates)


def table_ndv(table: Table) -> dict[str, int]:
    """Read back the CURRENT snapshot's registered NDV statistics as
    {column name: ndv} — what a CBO integration would consult."""
    snap = table.current_snapshot()
    if snap is None:
        return {}
    by_id = {f.field_id: f.name for f in table.schema.fields}
    out: dict[str, int] = {}
    for s in table.metadata.statistics:
        if s.get("snapshot-id") != snap.snapshot_id:
            continue
        for b in s.get("blob-metadata", []):
            if b.get("type") != NDV_BLOB_TYPE or len(b.get("fields", [])) != 1:
                continue
            name = by_id.get(b["fields"][0])
            if name is not None:
                out[name] = int(b.get("properties", {}).get("ndv", 0))
    return out
