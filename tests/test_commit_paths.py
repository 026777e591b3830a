"""One metadata-update path: every Iceberg commit is a list of spec
update actions, applied by metadata.apply_updates to the loaded
metadata of a filesystem table or to the pointer's metadata of a
catalog table. The two must produce the same metadata for the same
operation; these tests run each operation both ways and compare."""

import re
import time
from dataclasses import replace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from icegopher_spark.iceberg import refs
from icegopher_spark.iceberg import write as W
from icegopher_spark.iceberg.evolve import (
    replace_sort_order,
    update_schema,
    update_spec,
    upgrade_format_version,
)
from icegopher_spark.iceberg.maintenance import compute_table_stats, expire_snapshots
from icegopher_spark.iceberg.manifests import read_manifest_list
from icegopher_spark.iceberg.metadata import OP_APPEND
from icegopher_spark.iceberg.partition_stats import compute_partition_stats
from icegopher_spark.iceberg.schema import Schema
from icegopher_spark.iceberg.sqlcatalog import SqlCatalog
from icegopher_spark.iceberg.table import Table
from icegopher_spark.iceberg.types import LongType, NestedField, StringType

SCHEMA = Schema(
    (
        NestedField(1, "k", LongType(), True),
        NestedField(2, "v", StringType(), False),
    ),
    schema_id=0,
)
IDENT = ("db", "t")


def _files(tmp_path, sizes=(3, 4, 5)) -> list[str]:
    """Parquet files for add_files, shared by both twins (adopted in
    place, never rewritten)."""
    out, start = [], 0
    for i, n in enumerate(sizes):
        path = str(tmp_path / f"f{i}.parquet")
        ks = list(range(start, start + n))
        pq.write_table(
            pa.table({"k": pa.array(ks, pa.int64()), "v": [f"v{k % 2}" for k in ks]}),
            path,
        )
        out.append(path)
        start += n
    return out


def _twins(tmp_path):
    """(filesystem table, (catalog, catalog table)) with the same schema."""
    fs = W.create_table(str(tmp_path / "fs"), SCHEMA)
    cat = SqlCatalog("c", f"sqlite:{tmp_path}/cat.db", {"warehouse": str(tmp_path / "wh")})
    cat.create_namespace(("db",))
    return fs, (cat, cat.create_table(IDENT, SCHEMA))


def _persisted(t: Table, cat=None) -> Table:
    """What a fresh reader sees after the commit."""
    if cat is not None:
        return cat.load_table(IDENT)
    return Table.from_location(t.metadata.location)


def _branch_commit(t: Table, path: str, branch: str) -> Table:
    """One data commit to ``branch`` without Spark (add_files targets main)."""
    snap = t.metadata.snapshot_by_name(branch)
    keep = read_manifest_list(t.io.read(snap.manifest_list)) if snap else []
    f = W.collect_data_file(path, t.schema, {})
    return W._commit_snapshot(t, [f], OP_APPEND, keep_manifests=keep, branch=branch)


_HEX = re.compile(r"[0-9a-f]{12,}")
_MASKED_KEYS = {"table-uuid", "location", "last-updated-ms", "timestamp-ms"}


def _masked(obj, loc: str):
    """Metadata JSON with uuids, table paths and timestamps masked."""
    if isinstance(obj, dict):
        return {
            k: "<masked>" if k in _MASKED_KEYS else _masked(v, loc) for k, v in obj.items()
        }
    if isinstance(obj, list):
        return [_masked(v, loc) for v in obj]
    if isinstance(obj, str):
        return _HEX.sub("<hex>", obj.replace(loc, "<loc>"))
    return obj


def _ops(files):
    """Operation name -> fn(table, spark) -> table. Each runs on a table
    holding two add_files snapshots."""

    def rollback(t, _):
        return refs.rollback_to(t, t.metadata.snapshots[0].snapshot_id)

    def branch_commit(t, _):
        t = refs.create_branch(t, "b", min_snapshots_to_keep=5, max_ref_age_ms=10**9)
        return _branch_commit(t, files[2], "b")

    def refs_created(t, _):
        first = t.metadata.snapshots[0].snapshot_id
        t = refs.create_branch(t, "b", first, max_snapshot_age_ms=10**8)
        return refs.create_tag(t, "v1", max_ref_age_ms=10**9)

    def drop(t, _):
        return refs.drop_ref(refs.create_tag(t, "v1"), "v1")

    def retarget(t, _):
        t = refs.create_branch(t, "b", t.metadata.snapshots[0].snapshot_id, 3)
        return refs.replace_ref(t, "b", t.current_snapshot().snapshot_id)

    return {
        "add_files": lambda t, _: W.add_files(t, [files[2]]),
        "branch_commit": branch_commit,
        "create_branch_and_tag": refs_created,
        "drop_ref": drop,
        "replace_ref": retarget,
        "rollback_to": rollback,
        "update_schema": lambda t, _: update_schema(t).add_column("note", StringType()).commit(),
        "update_spec": lambda t, _: update_spec(t).add_field("k", "bucket[4]").commit(),
        "replace_sort_order": lambda t, _: replace_sort_order(t, ("k", "desc")),
        "upgrade_format_version": lambda t, _: upgrade_format_version(t, 3),
        "expire_snapshots": lambda t, _: expire_snapshots(t, retain_last=1),
        "compute_table_stats": lambda t, spark: compute_table_stats(t, spark),
        "compute_partition_stats": lambda t, _: compute_partition_stats(t),
    }


_SPARK_OPS = {"compute_table_stats", "compute_partition_stats"}


@pytest.mark.parametrize("op", list(_ops([None] * 3)))
def test_filesystem_and_catalog_commits_agree(op, tmp_path, request):
    """The same operation gives the same metadata on a filesystem table
    and on an SqlCatalog table, and every commit stamps
    last-updated-ms (before, sort-order and format-upgrade commits
    failed on the catalog, a partition-stats commit left the
    filesystem's stamp stale, and catalog schema/spec/stats commits
    never stamped it)."""
    spark = request.getfixturevalue("spark") if op in _SPARK_OPS else None
    files = _files(tmp_path)
    fs, (cat, ct) = _twins(tmp_path)
    got = []
    for t, c in ((fs, None), (ct, cat)):
        t = W.add_files(W.add_files(t, [files[0]]), [files[1]])
        before = int(time.time() * 1000)
        t = _ops(files)[op](t, spark)
        md = _persisted(t, c).metadata
        assert md.last_updated_ms >= before, (op, c)
        if md.current_snapshot is not None and op in ("add_files", "branch_commit"):
            assert md.last_updated_ms == max(s.timestamp_ms for s in md.snapshots)
        got.append(_masked(md.to_json_dict(), md.location))
    assert got[0] == got[1]


@pytest.mark.parametrize("catalog", [False, True], ids=["filesystem", "sql_catalog"])
def test_data_commit_keeps_ref_retention(tmp_path, catalog):
    """A data commit moves a branch head without dropping its retention
    settings; main included. Before, each commit wrote a bare ref, and
    expire_snapshots then expired snapshots the user had pinned."""
    files = _files(tmp_path, sizes=(3, 4, 5, 6))
    fs, (cat, ct) = _twins(tmp_path)
    t, c = (ct, cat) if catalog else (fs, None)
    t = W.add_files(t, [files[0]])
    t = refs.create_branch(t, "b", min_snapshots_to_keep=5, max_ref_age_ms=10**9)
    main = replace(t.metadata.refs["main"], min_snapshots_to_keep=4, max_snapshot_age_ms=10**7)
    t = refs._commit_refs(t, {**t.metadata.refs, "main": main})

    t = _branch_commit(t, files[1], "b")
    t = _branch_commit(t, files[2], "b")
    t = W.add_files(t, [files[3]])
    md = _persisted(t, c).metadata
    b, m = md.refs["b"], md.refs["main"]
    assert (b.min_snapshots_to_keep, b.max_snapshot_age_ms, b.max_ref_age_ms) == (5, None, 10**9)
    assert (m.min_snapshots_to_keep, m.max_snapshot_age_ms, m.max_ref_age_ms) == (4, 10**7, None)

    # the pinned history survives expiration: b keeps its 3 snapshots
    t = expire_snapshots(_persisted(t, c), retain_last=1)
    kept = {s.snapshot_id for s in _persisted(t, c).metadata.snapshots}
    assert {s.snapshot_id for s in refs.ancestors(md, b.snapshot_id)} <= kept


def test_row_lineage_through_a_catalog(tmp_path):
    """A v3 table in an SqlCatalog assigns row-id ranges like its
    filesystem twin: the catalog side advances next-row-id from the
    snapshot's first-row-id + added-rows. Before, the upgrade itself
    failed on the catalog, and a v3 data commit through any catalog
    raised NotImplementedError."""
    files = _files(tmp_path)
    fs, (cat, ct) = _twins(tmp_path)
    mds = []
    for t, c in ((fs, None), (ct, cat)):
        t = W.add_files(t, [files[0]])  # pre-upgrade: no row ids yet
        t = upgrade_format_version(t, 3)
        t = W.add_files(t, [files[1]])
        t = W.add_files(t, [files[2]])
        mds.append(_persisted(t, c).metadata)
    fs_md, cat_md = mds
    assert cat_md.format_version == 3
    first, second = sorted(
        (s for s in cat_md.snapshots if s.first_row_id is not None),
        key=lambda s: s.sequence_number,
    )
    # the first post-upgrade commit assigns the pre-upgrade file too
    assert (first.first_row_id, first.added_rows) == (0, 3 + 4)
    assert first.first_row_id + first.added_rows <= second.first_row_id
    assert cat_md.next_row_id == second.first_row_id + second.added_rows == 12
    assert cat_md.next_row_id == fs_md.next_row_id


def test_commit_leaves_the_loaded_metadata_unchanged(tmp_path):
    """A commit builds new metadata; the object it was applied to stays
    as loaded. Before, a filesystem data commit appended its entry to
    the loaded metadata's snapshot log in place, so a handle still
    holding it (or a commit that lost its CAS) saw a log entry for a
    snapshot it does not have."""
    files = _files(tmp_path)
    t = W.add_files(W.create_table(str(tmp_path / "fs"), SCHEMA), [files[0]])
    loaded = t.metadata
    before = loaded.to_json()
    t = W.add_files(t, [files[1]])
    t = refs.rollback_to(t, loaded.current_snapshot_id)
    assert loaded.to_json() == before
