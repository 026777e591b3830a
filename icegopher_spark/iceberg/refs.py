"""Branch and tag management: create/drop/retarget refs as
metadata-only commits, plus ancestry walks and ref-retention logic
consumed by expire_snapshots.

Reference parity: the reference models refs read-side
(table/refs.go:25-44, SnapshotRef with retention knobs;
MainBranch = "main" refs.go:25) but has no write path to create them.
Semantics follow the Iceberg spec: a tag pins one snapshot; a branch is
a movable head with its own ancestry; retention knobs
(min-snapshots-to-keep, max-snapshot-age-ms, max-ref-age-ms) govern
expiration.
"""

from __future__ import annotations

from dataclasses import replace

from .metadata import MAIN_BRANCH, Snapshot, SnapshotRef, TableMetadata
from .table import Table


def _ref_update(name: str, r: SnapshotRef) -> dict:
    upd = {
        "action": "set-snapshot-ref",
        "ref-name": name,
        "type": r.snapshot_ref_type,
        "snapshot-id": r.snapshot_id,
    }
    if r.min_snapshots_to_keep is not None:
        upd["min-snapshots-to-keep"] = r.min_snapshots_to_keep
    if r.max_snapshot_age_ms is not None:
        upd["max-snapshot-age-ms"] = r.max_snapshot_age_ms
    if r.max_ref_age_ms is not None:
        upd["max-ref-age-ms"] = r.max_ref_age_ms
    return upd


def _commit_refs(table: Table, refs: dict[str, SnapshotRef]) -> Table:
    from .write import commit_metadata_update

    md = table.metadata
    updates = [
        _ref_update(name, r)
        for name, r in refs.items()
        if md.refs.get(name) != r
    ] + [
        {"action": "remove-snapshot-ref", "ref-name": name}
        for name in md.refs
        if name not in refs
    ]
    return commit_metadata_update(table, updates)


def _resolve_snapshot(table: Table, snapshot_id: int | None) -> int:
    if snapshot_id is None:
        snap = table.current_snapshot()
        if snap is None:
            raise ValueError("table has no snapshots")
        return snap.snapshot_id
    if table.metadata.snapshot_by_id(snapshot_id) is None:
        raise ValueError(f"unknown snapshot {snapshot_id}")
    return snapshot_id


def create_tag(
    table: Table,
    name: str,
    snapshot_id: int | None = None,
    max_ref_age_ms: int | None = None,
) -> Table:
    """Pin a snapshot under an immutable name (release/audit marker)."""
    refs = dict(table.metadata.refs)
    if name in refs:
        raise ValueError(f"ref {name!r} already exists")
    refs[name] = SnapshotRef(
        _resolve_snapshot(table, snapshot_id), "tag", max_ref_age_ms=max_ref_age_ms
    )
    return _commit_refs(table, refs)


def create_branch(
    table: Table,
    name: str,
    snapshot_id: int | None = None,
    min_snapshots_to_keep: int | None = None,
    max_snapshot_age_ms: int | None = None,
    max_ref_age_ms: int | None = None,
) -> Table:
    refs = dict(table.metadata.refs)
    if name in refs:
        raise ValueError(f"ref {name!r} already exists")
    refs[name] = SnapshotRef(
        _resolve_snapshot(table, snapshot_id),
        "branch",
        min_snapshots_to_keep=min_snapshots_to_keep,
        max_snapshot_age_ms=max_snapshot_age_ms,
        max_ref_age_ms=max_ref_age_ms,
    )
    return _commit_refs(table, refs)


def drop_ref(table: Table, name: str) -> Table:
    if name == MAIN_BRANCH:
        raise ValueError("cannot drop the main branch")
    refs = dict(table.metadata.refs)
    if name not in refs:
        raise ValueError(f"ref {name!r} not found")
    del refs[name]
    return _commit_refs(table, refs)


def replace_ref(table: Table, name: str, snapshot_id: int) -> Table:
    """Retarget a branch/tag head (fast-forward or rollback).

    ``main`` delegates to :func:`rollback_to` — main must stay equal to
    current-snapshot-id (the parse_metadata invariant), so retargeting
    just the ref always failed validation (r6 review)."""
    if name == "main":
        return rollback_to(table, snapshot_id)
    refs = dict(table.metadata.refs)
    if name not in refs:
        raise ValueError(f"ref {name!r} not found")
    refs[name] = replace(refs[name], snapshot_id=_resolve_snapshot(table, snapshot_id))
    return _commit_refs(table, refs)


def ancestors(md: TableMetadata, snapshot_id: int) -> list[Snapshot]:
    """Snapshot ancestry (tip first) following parent-snapshot-id."""
    out: list[Snapshot] = []
    cur = md.snapshot_by_id(snapshot_id)
    seen = set()
    while cur is not None and cur.snapshot_id not in seen:
        out.append(cur)
        seen.add(cur.snapshot_id)
        cur = (
            md.snapshot_by_id(cur.parent_snapshot_id)
            if cur.parent_snapshot_id is not None
            else None
        )
    return out


def live_refs(md: TableMetadata, now_ms: int) -> dict[str, SnapshotRef]:
    """Refs surviving max-ref-age retention (age measured from the
    referenced snapshot's commit time; main never expires)."""
    out = {}
    for name, r in md.refs.items():
        if name != MAIN_BRANCH and r.max_ref_age_ms is not None:
            snap = md.snapshot_by_id(r.snapshot_id)
            if snap is not None and now_ms - snap.timestamp_ms > r.max_ref_age_ms:
                continue
        out[name] = r
    return out


def retained_snapshot_ids(md: TableMetadata, now_ms: int, default_min_keep: int = 1) -> set[int]:
    """Snapshot ids pinned by live refs + their retained ancestry.

    Per ref: tags keep only their snapshot; branches keep the head plus
    ancestors satisfying BOTH min-snapshots-to-keep (default 1) and
    max-snapshot-age-ms (default: keep no extra ancestors unless
    min-keep asks)."""
    keep: set[int] = set()
    for _name, r in live_refs(md, now_ms).items():
        keep.add(r.snapshot_id)
        if r.snapshot_ref_type != "branch":
            continue
        chain = ancestors(md, r.snapshot_id)
        min_keep = r.min_snapshots_to_keep or default_min_keep
        for i, s in enumerate(chain):
            young = (
                r.max_snapshot_age_ms is not None
                and now_ms - s.timestamp_ms <= r.max_snapshot_age_ms
            )
            if i < min_keep or young:
                keep.add(s.snapshot_id)
    return keep


def rollback_to(table: Table, snapshot_id: int) -> Table:
    """Roll the table back to an earlier snapshot (Iceberg's
    manageSnapshots().rollbackTo): 'main' and current-snapshot-id both
    retarget; no snapshot is written, so the abandoned commits stay
    reachable through the snapshot list until expiration — rollback is
    itself reversible. Metadata-only: one version-file CAS."""
    target = _resolve_snapshot(table, snapshot_id)
    from .write import commit_metadata_update

    old = table.metadata.refs.get("main")
    # keep main's retention settings: main never age-expires, but
    # dropping them on rollback would rewrite user-set metadata (r9)
    main = (
        replace(old, snapshot_id=target) if old else SnapshotRef(target, "branch")
    )
    return commit_metadata_update(table, [_ref_update("main", main)])
