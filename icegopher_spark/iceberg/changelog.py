"""CDC changelog reads: row-level inserts/deletes between snapshots.

`changelog_df(table, spark, from_snapshot_id, to_snapshot_id)` returns
the rows ADDED and DELETED by each snapshot in the lineage range
(from, to], tagged with:

    _change_type         'insert' | 'delete'
    _commit_snapshot_id  the snapshot that made the change

Per-snapshot semantics (walking lineage oldest → newest):
  * `replace` snapshots (compaction, manifest rewrite) are SKIPPED —
    they move bytes, not rows.
  * data files ADDED by the snapshot → their rows as inserts.
  * positional delete files ADDED → the referenced (file, pos) rows,
    fetched from the data files via a (file, position) semi-join on
    the parquet reader's `_metadata.row_index` — exact, split-safe.
  * equality delete files ADDED → the pre-image rows: scan AS OF the
    parent snapshot semi-joined on the delete's key columns (only
    rows that actually existed are reported deleted).
  * copy-on-write rewrites produce carryover rows (a surviving row
    appears as delete-of-old-file + insert-into-new-file);
    ``net=True`` (default) cancels identical insert/delete pairs
    within each snapshot (exceptAll both ways) — the same carryover
    elimination Iceberg's ChangelogIterator performs.

Scale: every step is a DataFrame scan/join over exactly the files the
snapshot touched — cost is O(changed bytes), never O(table).
Reference parity: the reference models snapshot lineage and manifest
entry statuses (table/snapshots.go:32-39, manifest.go:298-304) but has
no read path; this builds the CDC surface those statuses exist for.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import session_cache
from .manifests import (
    DataFileContent,
    ManifestContent,
    ManifestEntryStatus,
    fetch_entries,
    read_manifest_list,
)
from .table import (
    FileScanTask,
    Table,
    _maybe_broadcast_deletes,
    position_deletes_df,
    read_tasks,
    strip_file_scheme,
)

CHANGE_TYPE = "_change_type"
COMMIT_SNAPSHOT = "_commit_snapshot_id"

def _lineage(table: Table, from_id: int, to_id: int | None) -> list:
    """Snapshots strictly after ``from_id`` up to ``to_id``, oldest first."""
    md = table.metadata
    if to_id is not None:
        to_snap = md.snapshot_by_id(to_id)
        if to_snap is None:
            # silent-empty here would let a consumer record "no changes"
            # and advance its bookmark past real data (r5 review)
            raise ValueError(f"unknown to_snapshot_id {to_id}")
    else:
        to_snap = md.current_snapshot
    if to_snap is None:
        return []
    chain = []
    cur = to_snap
    while cur is not None and cur.snapshot_id != from_id:
        chain.append(cur)
        cur = (
            md.snapshot_by_id(cur.parent_snapshot_id)
            if cur.parent_snapshot_id is not None
            else None
        )
    if cur is None and from_id != 0:
        raise ValueError(f"snapshot {from_id} is not an ancestor of {to_snap.snapshot_id}")
    return list(reversed(chain))


def _entry_tasks(table: Table, entries) -> list[FileScanTask]:
    """Scan tasks, without deletes, for data-file manifest entries:
    each file reads back under the schema its snapshot was written
    with."""
    schema_ids = {s.snapshot_id: s.schema_id for s in table.metadata.snapshots}
    return [FileScanTask(e.data_file, schema_id=schema_ids.get(e.snapshot_id)) for e in entries]


def _live_data_entries(table: Table, snap) -> dict[str, object]:
    """path -> live manifest entry for every DATA file in ``snap``."""
    io = table.io
    out: dict[str, object] = {}
    if snap is None:
        return out
    for m in read_manifest_list(io.read(snap.manifest_list)):
        if m.content != ManifestContent.DATA:
            continue
        for e in fetch_entries(m, io.read(m.manifest_path), discard_deleted=True):
            if e.data_file.content == DataFileContent.DATA:
                out[e.data_file.file_path] = e
    return out


def changelog_df(
    table: Table,
    spark: SparkSession,
    from_snapshot_id: int,
    to_snapshot_id: int | None = None,
    net: bool = True,
) -> DataFrame:
    # release the PREVIOUS call's persisted pair frames for THIS table
    # (bounded residency; an old still-held result merely recomputes),
    # and release our own if the build raises mid-loop so a failed
    # call can't leak cached blocks (r8 advice #3). The slot is keyed
    # per table location, so a call on table B never releases table A's
    # in-flight frames; concurrent calls on the SAME table may steal
    # each other's warm cache — a recompute, never a leak.
    slot = ("changelog", table.location)
    session_cache.release(spark, slot)
    try:
        return _changelog_df_impl(
            table, spark, from_snapshot_id, to_snapshot_id, net
        )
    except BaseException:
        session_cache.release(spark, slot)
        raise


def _changelog_df_impl(
    table: Table,
    spark: SparkSession,
    from_snapshot_id: int,
    to_snapshot_id: int | None,
    net: bool,
) -> DataFrame:
    md = table.metadata
    io = table.io
    base_spark = table.schema.to_spark()
    empty = spark.createDataFrame([], base_spark).select(
        "*",
        F.lit("insert").alias(CHANGE_TYPE),
        F.lit(0).cast("long").alias(COMMIT_SNAPSHOT),
    ).limit(0)

    out: DataFrame | None = None
    # live-entry maps carry forward: iteration k's child state is
    # iteration k+1's parent state (r5 review: each step re-read every
    # manifest three times)
    prev_live: tuple[int | None, dict] = (None, {})
    for snap in _lineage(table, from_snapshot_id, to_snapshot_id):
        op = (snap.summary or {}).get("operation", "append")
        if op == "replace":
            prev_live = (snap.snapshot_id, _live_data_entries(table, snap))
            continue  # compaction/rewrite: no logical row change
        added_data, added_pos_deletes, added_eq_deletes = [], [], []
        for m in read_manifest_list(io.read(snap.manifest_list)):
            for e in fetch_entries(m, io.read(m.manifest_path), discard_deleted=True):
                if e.status != ManifestEntryStatus.ADDED or e.snapshot_id != snap.snapshot_id:
                    continue
                content = e.data_file.content
                if content == DataFileContent.DATA:
                    added_data.append(e)
                elif content == DataFileContent.POSITION_DELETES:
                    added_pos_deletes.append(e)
                elif content == DataFileContent.EQUALITY_DELETES:
                    # keep the manifest's spec id: partition-scoped
                    # deletes only apply within the SAME spec (r6)
                    added_eq_deletes.append((m.partition_spec_id, e))

        inserts = read_tasks(table, spark, _entry_tasks(table, added_data), deletes=False)
        deletes: DataFrame | None = None

        # copy-on-write removals: DATA files live in the parent but not
        # in this snapshot were dropped/rewritten — their rows are the
        # delete candidates (survivors cancel against the rewrite's
        # inserts in the net pass below)
        parent = (
            md.snapshot_by_id(snap.parent_snapshot_id)
            if snap.parent_snapshot_id is not None
            else None
        )
        if parent is not None and prev_live[0] == parent.snapshot_id:
            parent_live = prev_live[1]
        else:
            parent_live = _live_data_entries(table, parent)
        snap_live = _live_data_entries(table, snap)
        prev_live = (snap.snapshot_id, snap_live)
        removed = [e for p, e in parent_live.items() if p not in snap_live]
        if removed and parent is not None:
            # read the removed files AS OF THE PARENT — its pos/eq
            # deletes applied via the scan path — so rows already
            # deleted in earlier snapshots are not re-reported (r5
            # review: raw reads double-counted them in the MV fold)
            removed_paths = {e.data_file.file_path for e in removed}
            ptasks = table.scan(snapshot_id=parent.snapshot_id).plan_files()
            deletes = read_tasks(
                table, spark, [t for t in ptasks if t.file.file_path in removed_paths]
            )

        if added_pos_deletes:
            pair_parts, pair_bytes = [], 0
            for dv in (False, True):
                got = position_deletes_df(
                    spark,
                    [
                        e.data_file
                        for e in added_pos_deletes
                        if e.data_file.is_deletion_vector == dv
                    ],
                    table.properties,
                )
                if got is None:
                    continue
                part, nbytes = got
                # a replacement DV is the UNION of all the file's
                # deletes (V3 superset invariant) — only the delta vs
                # the parent's delete state is newly deleted HERE. That
                # baseline is the parent's positional deletes (its
                # delete manifests only) restricted to the DVs' files:
                # position deletes only ever reference files that
                # existed when written, so path restriction suffices
                # without sequence-number re-checks.
                if dv and parent is not None:
                    ref_paths = {
                        strip_file_scheme(e.data_file.referenced_data_file or "")
                        for e in added_pos_deletes
                        if e.data_file.is_deletion_vector
                    }
                    prior = position_deletes_df(
                        spark,
                        [
                            e.data_file
                            for e in table.scan(snapshot_id=parent.snapshot_id)
                            ._scan_plan()
                            .deletes
                            if not e.data_file.is_deletion_vector
                            or strip_file_scheme(e.data_file.referenced_data_file or "")
                            in ref_paths
                        ],
                        table.properties,
                    )
                    if prior is not None:
                        refs = spark.createDataFrame(
                            [(p,) for p in sorted(ref_paths)], "_del_path string"
                        )
                        part = part.join(
                            prior[0].join(F.broadcast(refs), "_del_path", "left_semi"),
                            ["_del_path", "_del_pos"],
                            "left_anti",
                        )
                pair_parts.append(part)
                pair_bytes += nbytes
            pairs = reduce(DataFrame.unionByName, pair_parts)
            # persist: the collect below AND the semi-join both consume
            # pairs — without the cache the Puffin DV decode + parent
            # delete-state reads + anti-join all executed twice per
            # snapshot (r8 review wave 6). Narrow (path, pos) rows; the
            # emitted frames keep the cache in lineage, so the next
            # changelog call on this table releases these caches
            # (bounded residency).
            pairs = session_cache.hold(
                spark, ("changelog", table.location), pairs.persist()
            )
            target_paths = {r["_del_path"] for r in pairs.select("_del_path").distinct().collect()}
            # entries for the targeted data files, read from the CHILD
            # snapshot's state (intended): MOR positional deletes target
            # files that remain live in this snapshot — a data file
            # rewritten/removed in the same commit is no longer a valid
            # delete target, and its rows already surface as deletes via
            # the parent-vs-child removal diff above
            # snap_live (computed above) already holds the child
            # snapshot's live path->entry map — re-decoding every DATA
            # manifest here was a second full metadata pass per
            # snapshot (r6 review)
            parent_entries = [
                e
                for p, e in snap_live.items()
                if strip_file_scheme(p) in target_paths
            ]
            rows = read_tasks(
                table, spark, _entry_tasks(table, parent_entries), positions=True, deletes=False
            )
            if rows is not None:
                pairs = _maybe_broadcast_deletes(pairs, pair_bytes)
                hit = rows.join(
                    pairs,
                    (rows["file_path"] == F.col("_del_path")) & (rows["pos"] == F.col("_del_pos")),
                    "left_semi",
                ).drop("file_path", "pos")
                deletes = hit if deletes is None else deletes.unionByName(hit)

        if added_eq_deletes and parent is not None:
            parent_schema = (
                md.schema_by_id(parent.schema_id) if parent.schema_id is not None else None
            ) or table.schema
            # group delete files by key field-id tuple and UNION their
            # keys: overlapping delete files from parallel writer tasks
            # must report a matched row once, not once per file (r5)
            # group by (key ids, partition scope): a partitioned delete
            # file applies only to its own partition (same scoping the
            # read path enforces in _eq_delete_applies) — semi-joining
            # keys against the FULL parent scan reported still-live rows
            # in sibling partitions as deleted (r6 review). An all-null/
            # empty partition tuple is a global delete (scope None).
            by_ids: dict[tuple, list] = {}
            for dsid, e in added_eq_deletes:
                ids = tuple(e.data_file.equality_ids or [])
                part = e.data_file.partition or {}
                # scope carries (spec_id, partition): dict-equal
                # partitions under DIFFERENT specs are different
                # partitions — the read path's _eq_delete_applies
                # refuses cross-spec matches, so the changelog must
                # too or it reports still-live rows as deleted (r6)
                scope = (
                    (dsid, tuple(sorted(part.items())))
                    if any(v is not None for v in part.values())
                    else None
                )
                if ids:
                    by_ids.setdefault((ids, scope), []).append(e)
            for (ids, scope), es in by_ids.items():
                names = [
                    table.schema.find_field(fid).name
                    for fid in ids
                    if table.schema.find_field(fid) is not None
                ]
                if len(names) != len(ids):
                    raise ValueError(
                        f"equality delete keys on field ids {ids} not all in "
                        "the current schema; cannot compute pre-images"
                    )
                keys: DataFrame | None = None
                total_bytes = 0
                for e in es:
                    if e.data_file.file_format != "PARQUET":
                        raise ValueError(
                            "changelog supports parquet equality-delete "
                            f"files only; got {e.data_file.file_path} "
                            f"({e.data_file.file_format})"
                        )
                    kdf = spark.read.parquet(strip_file_scheme(e.data_file.file_path))
                    # delete-file columns carry the names at DELETE time;
                    # map to current names by name when possible, else
                    # positionally (our writer emits keys in id order)
                    if not set(names) <= set(kdf.columns):
                        if len(kdf.columns) == len(names):
                            kdf = kdf.toDF(*names)
                        else:
                            raise ValueError(
                                f"eq-delete file {e.data_file.file_path} columns "
                                f"{kdf.columns} do not match keys {names}"
                            )
                    kdf = kdf.select(*names)
                    keys = kdf if keys is None else keys.unionByName(kdf)
                    total_bytes += e.data_file.file_size_in_bytes
                keys = _maybe_broadcast_deletes(keys.distinct(), total_bytes)
                # prune the pre-image scan when the keys are few and
                # single-column: an IN filter the metadata plane can
                # prune files with (else the scan is O(parent table) —
                # the r5 review's scale note)
                flt = post = None
                if len(names) == 1:
                    pf = parent_schema.find_field(ids[0])
                    if pf is not None:
                        # count BEFORE dropping nulls: if the distinct key
                        # set exceeds the cap and contains a null, filtering
                        # first would make the guard pass with a truncated
                        # list and the IN filter would prune parent rows
                        # matching unsampled keys (silent under-report)
                        rows = keys.limit(1001).collect()
                        sample = [r[0] for r in rows if r[0] is not None]
                        has_null = any(r[0] is None for r in rows)
                        if (sample or has_null) and len(rows) <= 1000:
                            from . import expressions as E

                            def key_filter(name):
                                # null-safe matching below must still see
                                # NULL-keyed parent rows (r8 wave 6)
                                f = E.is_in(name, *sample) if sample else None
                                if has_null:
                                    f = E.is_null(name) if f is None else f | E.is_null(name)
                                return f

                            # planned under the parent's name for the key,
                            # re-applied (row-group pruning) under the
                            # current one the rows are read into
                            flt = key_filter(pf.name)
                            post = E.to_spark_column(
                                E.ensure_bound(table.schema, key_filter(names[0]))
                            )
                scan_kwargs = {"snapshot_id": parent.snapshot_id}
                if flt is not None:
                    scan_kwargs["row_filter"] = flt
                sc_tasks = table.scan(**scan_kwargs).plan_files()
                if scope is not None:
                    scope_sid, scope_part = scope
                    want = dict(scope_part)
                    sc_tasks = [
                        t
                        for t in sc_tasks
                        if t.spec_id == scope_sid
                        and (t.file.partition or {}) == want
                    ]
                # the parent's rows in the current schema, its deletes
                # applied; the semi-join below matches the keys exactly
                pre = read_tasks(table, spark, sc_tasks, pre_filter=post)
                if pre is None:
                    continue
                # null-safe semi-join: spec-compliant engines treat a
                # NULL eq-delete key as deleting NULL-keyed rows; the
                # plain equi-join under-reported them (r8 wave 6, same
                # fix as the read path's anti-join)
                from operator import and_ as _and

                kd = keys.select(
                    *[F.col(n).alias(f"_ek_{n}") for n in names]
                )
                cond = reduce(
                    _and, [pre[n].eqNullSafe(kd[f"_ek_{n}"]) for n in names]
                )
                hit = pre.join(kd, cond, "left_semi")
                deletes = hit if deletes is None else deletes.unionByName(hit)

        if net and inserts is not None and deletes is not None:
            # Single-pass netting (r13 batch 10, guide §5/§2.4): the
            # exceptAll pair (inserts∖deletes, deletes∖inserts) put the
            # inserts AND deletes subtrees — data-file reads, CoW
            # parent scans, DV decodes — under TWO sibling aggregates,
            # so each executed twice per snapshot. One signed-count
            # aggregate produces the identical multiset: per distinct
            # row value exceptAll keeps max(n_ins − n_del, 0) insert
            # copies and max(n_del − n_ins, 0) delete copies, which is
            # exactly the sign and magnitude of the net count (Spark's
            # own exceptAll lowers to this same sum-of-±1 aggregate —
            # twice). Grouping normalizes floats/nulls the same way
            # exceptAll does.
            cols = inserts.columns
            # collision-free helper names (r13 ADVICE): a table whose
            # schema already contains _sgn/_net would make the
            # groupBy/agg ambiguous, and a source column named like the
            # explode alias would be dropped with it — suffix until unique
            taken = set(cols)
            helpers = []
            for name in ("_sgn", "_net", "_net_dup"):
                while name in taken:
                    name += "_x"
                taken.add(name)
                helpers.append(name)
            sgn_c, net_c, dup_c = helpers
            sgn = inserts.select(*cols, F.lit(1).alias(sgn_c)).unionByName(
                deletes.select(*cols, F.lit(-1).alias(sgn_c))
            )
            netted = (
                sgn.groupBy(*cols)
                .agg(F.sum(sgn_c).alias(net_c))
                .filter(F.col(net_c) != 0)
                .select(
                    *cols,
                    F.when(F.col(net_c) > 0, F.lit("insert"))
                    .otherwise(F.lit("delete"))
                    .alias(CHANGE_TYPE),
                    F.lit(snap.snapshot_id).cast("long").alias(COMMIT_SNAPSHOT),
                    # replicate |_net| copies via a long-typed sequence
                    # (r13 ADVICE): the old abs(_net).cast('int') wrapped
                    # silently past 2^31 (non-ANSI); sequence on longs
                    # raises loudly instead of corrupting counts
                    F.explode(
                        F.sequence(
                            F.lit(1).cast("long"),
                            F.abs(F.col(net_c)).cast("long"),
                        )
                    ).alias(dup_c),
                )
                .drop(dup_c)
            )
            out = netted if out is None else out.unionByName(netted)
            continue

        for df, kind in ((inserts, "insert"), (deletes, "delete")):
            if df is None:
                continue
            tagged = df.select(
                "*",
                F.lit(kind).alias(CHANGE_TYPE),
                F.lit(snap.snapshot_id).cast("long").alias(COMMIT_SNAPSHOT),
            )
            out = tagged if out is None else out.unionByName(tagged)

    return out if out is not None else empty


def pair_updates(
    df: DataFrame, identifier_fields: list[str], io_only: bool = False
) -> DataFrame:
    """Pair same-commit delete+insert rows into UPDATE pre/post images
    keyed on ``identifier_fields`` (upstream Iceberg's
    ``changelog.identifier-fields`` view; r8 verdict #7).

    Two stages, both O(changed rows):

    1. CARRYOVER removal — a copy-on-write rewrite emits every carried
       (unchanged) row as an identical delete+insert pair; per
       (commit, full row values) the balanced count of such pairs is
       dropped (groupBy equates NULLs, so this is null-safe where a
       join would not be).
    2. Identifier pairing — per (commit, identifier key) the i-th
       delete pairs with the i-th insert (deterministic rank over the
       non-identifier columns) as ``update_preimage`` /
       ``update_postimage``; unmatched rows keep their original
       change type. Identifier fields must be non-null (join keys).

    Batch-shaped on purpose: run it inside ``foreachBatch`` on the CDC
    stream — stream offsets are whole snapshots, so per-batch pairing
    equals per-commit pairing (a commit is never split across
    micro-batches). The batch changelog's output pairs identically.
    Change types other than insert/delete pass through untouched.

    ``io_only=True`` (r13 optimization, guide §1.2/§5): the caller
    asserts ``df`` holds ONLY insert/delete rows — true by construction
    for both CDC faces (the stream kernel and ``changelog_df`` tag
    nothing else) — so the passthrough subtree and its final union are
    skipped and the operator consumes its input through EXACTLY ONE
    chain. That single-consumer shape is what lets those callers drop
    the ``localCheckpoint`` they otherwise need to stop the
    (expensive: Python CDC source scan / full changelog lineage) input
    from executing once per subtree. Rows of any other change type
    would be silently dropped under this flag — never set it for
    changelogs that may carry pre-paired update_* rows.

    Limitation: carryover removal groups by FULL row values, so map
    columns (not groupable in Spark) are unsupported — drop or
    serialize them first.
    """
    out_order = list(df.columns)
    data_cols = [c for c in df.columns if c not in (CHANGE_TYPE, COMMIT_SNAPSHOT)]
    ids = list(identifier_fields)
    unknown = [c for c in ids if c not in data_cols]
    if unknown:
        raise ValueError(f"identifier fields not in the changelog: {unknown}")
    rest = [c for c in data_cols if c not in ids]

    if io_only:
        io_df, others = df, None
    else:
        io_df = df.filter(F.col(CHANGE_TYPE).isin("delete", "insert"))
        others = df.filter(~F.col(CHANGE_TYPE).isin("delete", "insert"))

    # ONE exchange for the whole operator (r13 batch 4, guide §2.4):
    # hash-partitioning on (commit, identifier) satisfies — by the
    # subset-clustering rule (SPARK-35703) — the stage-1 groupBy over
    # (commit, ALL data cols), the stage-2 rank window on
    # (commit, ids, change_type) AND the pairing aggregate on
    # (commit, ids, _rk). The previous shape paid a second exchange
    # whose map side also hashed every (string-heavy) data column per
    # row; now the one shuffle hashes three narrow keys and every
    # later operator is exchange-free. Identifier fields are the
    # natural spread key (they are near-unique per commit).
    io_df = io_df.repartition(COMMIT_SNAPSHOT, *ids)

    # stage 1: balanced-count carryover removal over FULL row values
    cnts = io_df.groupBy(COMMIT_SNAPSHOT, *data_cols).agg(
        F.count(F.when(F.col(CHANGE_TYPE) == "delete", 1)).alias("_nd"),
        F.count(F.when(F.col(CHANGE_TYPE) == "insert", 1)).alias("_ni"),
    )
    m = F.least("_nd", "_ni")
    surv = cnts.select(
        COMMIT_SNAPSHOT,
        *data_cols,
        (F.col("_nd") - m).alias("_nd"),
        (F.col("_ni") - m).alias("_ni"),
    ).filter((F.col("_nd") > 0) | (F.col("_ni") > 0))

    # stage 2: rank-pair by identifier within the commit.
    #
    # Optimization (r13, guide §2.4 "remove shuffles outright"): one
    # explicit repartition on (commit, identifier) feeds BOTH the
    # per-side rank window and the pairing aggregate —
    # HashPartitioning(commit, ids) satisfies the window's
    # (commit, ids, change_type) clustering and the
    # (commit, ids, _rk) groupBy's (subset rule, SPARK-35703) — so
    # stage 2 is a single exchange, one sort, and a shuffle-free hash
    # aggregate. The previous shape expanded the two sides separately
    # and paid two full-width window exchanges plus a full-outer
    # sort-merge join of the expanded frames; the i-th delete still
    # pairs with the i-th insert under the identical per-side
    # (rest asc_nulls_first) rank order, so outputs are unchanged.
    from pyspark.sql import Window

    order_cols = [F.col(c).asc_nulls_first() for c in rest] or [F.lit(1)]
    # one row per surviving copy, tagged with its side (array_repeat
    # yields an empty array at count 0 — no sequence(1,0) guard needed)
    sides = F.concat(
        F.array_repeat(F.lit("delete"), F.col("_nd").cast("int")),
        F.array_repeat(F.lit("insert"), F.col("_ni").cast("int")),
    )
    # no repartition: the explode/select preserve the single upstream
    # (commit, ids) hash partitioning established above
    exp = surv.select(
        COMMIT_SNAPSHOT, *data_cols, F.explode(sides).alias(CHANGE_TYPE)
    )
    w = Window.partitionBy(COMMIT_SNAPSHOT, *ids, CHANGE_TYPE).orderBy(*order_cols)
    val = F.struct(*[F.col(c) for c in rest]) if rest else F.lit(1)
    ranked = exp.withColumn("_rk", F.row_number().over(w))
    g = ranked.groupBy(COMMIT_SNAPSHOT, *ids, "_rk").agg(
        F.max(F.when(F.col(CHANGE_TYPE) == "delete", val)).alias("_d"),
        F.max(F.when(F.col(CHANGE_TYPE) == "insert", val)).alias("_i"),
    )
    has_d, has_i = F.col("_d").isNotNull(), F.col("_i").isNotNull()

    def _piece(kind: str, side: str):
        return F.struct(
            F.lit(kind).alias("_ct"), F.col(side).alias("_v")
        )

    pieces = F.array(
        F.when(has_d & has_i, _piece("update_preimage", "_d")),
        F.when(has_d & has_i, _piece("update_postimage", "_i")),
        F.when(has_d & ~has_i, _piece("delete", "_d")),
        F.when(has_i & ~has_d, _piece("insert", "_i")),
    )
    emitted = g.select(
        COMMIT_SNAPSHOT,
        *ids,
        F.explode(F.filter(pieces, lambda x: x.isNotNull())).alias("_p"),
    )
    value_cols = (
        [F.col("_p").getField("_v").getField(c).alias(c) for c in rest]
        if rest
        else []
    )
    paired = emitted.select(
        *ids,
        *value_cols,
        F.col("_p").getField("_ct").alias(CHANGE_TYPE),
        F.col(COMMIT_SNAPSHOT),
    )

    if others is None:
        return paired.select(*out_order)
    return others.select(*out_order).unionByName(paired.select(*out_order))


def scd2_from_changelog(
    changes: DataFrame, key_fields: list[str]
) -> DataFrame:
    """Slowly-changing-dimension TYPE 2 history from a changelog
    (composes with ``pair_updates``): every insert/update_postimage
    OPENS a version at its commit; the next event on the same key —
    a delete, an update_preimage, or a re-insert — CLOSES it.

    Output: the changelog's data columns plus ``valid_from`` /
    ``valid_to`` (commit snapshot ids; ``valid_to`` null on the live
    version) and ``is_current``. Requires key uniqueness per commit
    (run ``pair_updates`` first so an update is one close + one open,
    not a bare delete+insert pair).

    Scale: one window over (key, commit) — a single shuffle on the key,
    O(changed rows); nothing rescans the table.

    r13 optimization (guide §1.2/§5): opens and closes used to be two
    filter subtrees united back together, so the operator consumed its
    input TWICE and callers had to ``localCheckpoint`` the (expensive)
    paired changelog to stop it re-executing per subtree. The union is
    now a single conditional projection — an open keeps its data
    columns, a close nulls the non-key ones, exactly the rows the
    union produced — so the whole pair_updates → scd2 pipeline is one
    linear consumer chain and needs no materialization at all.
    """
    from pyspark.sql import Window

    data_cols = [
        c for c in changes.columns if c not in (CHANGE_TYPE, COMMIT_SNAPSHOT)
    ]
    missing = [k for k in key_fields if k not in data_cols]
    if missing:
        raise ValueError(f"key fields not in the changelog: {missing}")

    is_open = F.col(CHANGE_TYPE).isin("insert", "update_postimage")
    events = changes.filter(
        F.col(CHANGE_TYPE).isin(
            "insert", "update_postimage", "delete", "update_preimage"
        )
    ).select(
        *[
            F.col(c)
            if c in key_fields
            else F.when(is_open, F.col(c))
            .otherwise(F.lit(None).cast(changes.schema[c].dataType))
            .alias(c)
            for c in data_cols
        ],
        F.col(COMMIT_SNAPSHOT).alias("_commit"),
        is_open.cast("int").alias("_open"),
    )
    # within one commit a close sorts BEFORE an open (update pre/post
    # share the commit: the close terminates the PREVIOUS version, the
    # open starts the new one), so lead() from an open always lands on
    # a strictly-later event for that key
    w = Window.partitionBy(*key_fields).orderBy("_commit", "_open")
    out = (
        events.withColumn("_valid_to", F.lead("_commit").over(w))
        .filter(F.col("_open") == 1)
        .select(
            *data_cols,
            F.col("_commit").alias("valid_from"),
            F.col("_valid_to").alias("valid_to"),
            F.col("_valid_to").isNull().alias("is_current"),
        )
    )
    return out


def apply_changes_to_aggregate(
    mv: DataFrame,
    changes: DataFrame,
    keys: list[str],
    count_col: str = "n_rows",
    sum_specs: dict[str, str] | None = None,
) -> DataFrame:
    """Incremental materialized-view maintenance for COUNT/SUM
    aggregates: fold a changelog (inserts as +1, deletes as -1) into an
    existing per-key aggregate instead of recomputing from scratch.

    ``mv`` has columns keys + count_col + the sum columns named by
    ``sum_specs`` keys; ``sum_specs`` maps output sum column -> source
    column in the changelog. Groups whose count reaches zero drop out.

    Cost is O(changed rows) + a join on the (small) aggregate key
    space — at 100 TB this is the difference between re-scanning the
    table and touching only the snapshots' delta files, which is the
    entire point of the CDC surface (see changelog_df). Sums fold in
    DECIMAL so incremental and full recompute agree exactly.
    """
    sum_specs = sum_specs or {}
    # explicit per-type signs: the old catch-all otherwise(-1) folded
    # update_postimage rows (changelog_by_lineage output, this module)
    # as DELETES — count down 2 per update, sums subtracting both
    # images (r8 wave 6). Unknown change types get a NULL sign, which
    # SUM skips — they are ignored rather than miscounted (documented
    # here; a raise is not expressible in codegen).
    sign = (
        F.when(F.col(CHANGE_TYPE).isin("insert", "update_postimage"), F.lit(1))
        .when(F.col(CHANGE_TYPE).isin("delete", "update_preimage"), F.lit(-1))
        .otherwise(F.lit(None).cast("int"))
    )
    # decimal(38,4): a (20,4) cast silently NULLed values above 16
    # integer digits (non-ANSI), dropping them from the fold (r5 review)
    delta = changes.groupBy(*keys).agg(
        F.sum(sign).alias("_d_n"),
        *[
            F.sum(sign * F.col(src).cast("decimal(38,4)")).alias(f"_d_{out}")
            for out, src in sum_specs.items()
        ],
    )
    # null-safe key equality: a NULL-key group must merge, not fork into
    # duplicate rows every refresh (r5 review)
    delta = delta.select(
        *[F.col(k).alias(f"_dk_{k}") for k in keys],
        "_d_n",
        *[F.col(f"_d_{out}") for out in sum_specs],
    )
    cond = None
    for k in keys:
        c = mv[k].eqNullSafe(delta[f"_dk_{k}"])
        cond = c if cond is None else cond & c
    joined = mv.join(delta, cond, "full_outer")
    out_cols = [F.coalesce(mv[k], delta[f"_dk_{k}"]).alias(k) for k in keys]
    n = F.coalesce(F.col(count_col), F.lit(0)) + F.coalesce(F.col("_d_n"), F.lit(0))
    out_cols.append(n.cast("bigint").alias(count_col))
    for out in sum_specs:
        s = F.coalesce(F.col(out), F.lit(0).cast("decimal(38,4)")) + F.coalesce(
            F.col(f"_d_{out}"), F.lit(0).cast("decimal(38,4)")
        )
        out_cols.append(s.alias(out))
    return joined.select(*out_cols).filter(F.col(count_col) > 0)


def changelog_by_lineage(
    table: Table,
    spark: SparkSession,
    from_snapshot_id: int,
    to_snapshot_id: int | None = None,
) -> DataFrame:
    """CDC diff keyed on V3 row lineage: compare the table AS OF two
    snapshots joined on ``_row_id`` and emit

        insert            _row_id only in the newer state
        delete            _row_id only in the older state
        update_preimage   both states, newer _last_updated_sequence_
        update_postimage  number strictly greater (row content BEFORE /
                          AFTER; same _row_id on both images)

    Unchanged rows (same _row_id, same last-updated sequence) produce
    nothing — including rows moved by compaction or carried through a
    copy-on-write rewrite, which is exactly the carryover-noise problem
    lineage exists to solve: no exceptAll over row VALUES, so two
    value-identical rows are never mistaken for each other.

    True update pairs come from writers that carry _row_id forward and
    bump the sequence (`update_where`); writers that model updates as
    delete+insert (eq-delete `merge_upsert`) surface here as exactly
    that. Requires a format-v3 table whose lineage is fully assigned at
    BOTH snapshots (a just-upgraded, never-committed table raises).

    Output: table columns + ``_row_id`` + ``_change_type`` +
    ``_commit_snapshot_id`` (the newer snapshot — the diff attributes
    the range, not each intermediate commit; walk ranges for that).

    Scale: two pruned snapshot scans and one shuffle on an 8-byte key;
    output sorted nowhere, aggregated nowhere — O(table + changes),
    and O(changes) once partition/metrics pruning narrows the scans.
    """
    md = table.metadata
    if md.format_version < 3:
        raise ValueError(
            "changelog_by_lineage requires a format-version 3 table "
            f"(this table is v{md.format_version})"
        )
    to_id = to_snapshot_id if to_snapshot_id is not None else (
        table.current_snapshot().snapshot_id if table.current_snapshot() else None
    )
    if to_id is None:
        raise ValueError("table has no snapshots")

    from .manifests import ROW_ID_FIELD_ID

    data_cols = [f.name for f in table.schema.fields]

    def _lineage_scan(snap_id: int) -> DataFrame:
        scan = table.scan(snapshot_id=snap_id, with_lineage=True)
        tasks = scan.plan_files()
        for t in tasks:
            vc = t.file.value_counts or {}
            if t.file.first_row_id is None and ROW_ID_FIELD_ID not in vc:
                raise ValueError(
                    f"file {t.file.file_path} has no assigned row ids as of "
                    f"snapshot {snap_id}; commit once after the v3 upgrade "
                    "before diffing by lineage"
                )
        # read into the CURRENT schema by field id: the diff's column
        # references must survive renames/drops/adds since the snapshot
        df = read_tasks(table, spark, tasks, lineage=True)
        if df is None:
            df = table.scan(with_lineage=True).to_df(spark, tasks=[])
        return df.select(*data_cols, "_row_id", "_last_updated_sequence_number")

    old = _lineage_scan(from_snapshot_id)
    new = _lineage_scan(to_id)

    o = old.select(
        F.col("_row_id").alias("_rid"),
        F.col("_last_updated_sequence_number").alias("_oseq"),
        *[F.col(c).alias(f"_o_{c}") for c in data_cols],
    )
    n = new.select(
        F.col("_row_id").alias("_rid"),
        F.col("_last_updated_sequence_number").alias("_nseq"),
        *[F.col(c).alias(f"_n_{c}") for c in data_cols],
    )
    j = o.join(n, "_rid", "full_outer")

    def _emit(side: str, kind: str, flt):
        return j.filter(flt).select(
            *[F.col(f"_{side}_{c}").alias(c) for c in data_cols],
            F.col("_rid").alias("_row_id"),
            F.lit(kind).alias(CHANGE_TYPE),
            F.lit(to_id).cast("long").alias(COMMIT_SNAPSHOT),
        )

    inserted = _emit("n", "insert", F.col("_oseq").isNull() & F.col("_nseq").isNotNull())
    deleted = _emit("o", "delete", F.col("_nseq").isNull() & F.col("_oseq").isNotNull())
    upd = F.col("_oseq").isNotNull() & F.col("_nseq").isNotNull() & (
        F.col("_nseq") > F.col("_oseq")
    )
    pre = _emit("o", "update_preimage", upd)
    post = _emit("n", "update_postimage", upd)
    return inserted.unionByName(deleted).unionByName(pre).unionByName(post)
