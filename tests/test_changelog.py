"""CDC changelog reads: inserts, MOR positional/equality deletes,
copy-on-write carryover netting, replace-snapshot skipping."""

import pytest
from pyspark.sql import functions as F

from icegopher_spark.iceberg import expressions as E
from icegopher_spark.iceberg import write as W
from icegopher_spark.iceberg.changelog import changelog_df
from icegopher_spark.iceberg.schema import Schema
from icegopher_spark.iceberg.types import DoubleType, LongType, NestedField, StringType

SCHEMA = Schema(
    (
        NestedField(1, "k", LongType(), True),
        NestedField(2, "v", DoubleType(), False),
        NestedField(3, "tag", StringType(), False),
    ),
    schema_id=0,
)


def _mk(spark, path, rows):
    t = W.create_table(str(path), SCHEMA)
    df = spark.createDataFrame(rows, "k long, v double, tag string").coalesce(1)
    return W.append(t, df)


def test_append_only_changelog(spark, tmp_path):
    t = _mk(spark, tmp_path / "a", [(1, 1.0, "x")])
    s1 = t.metadata.snapshots[0].snapshot_id
    t = W.append(t, spark.createDataFrame([(2, 2.0, "y")], "k long, v double, tag string"))
    ch = changelog_df(t, spark, from_snapshot_id=s1).collect()
    assert len(ch) == 1
    assert ch[0]["k"] == 2 and ch[0]["_change_type"] == "insert"
    assert ch[0]["_commit_snapshot_id"] == t.metadata.snapshots[1].snapshot_id


def test_mor_positional_delete_changelog(spark, tmp_path):
    t = _mk(spark, tmp_path / "b", [(1, 1.0, "x"), (2, 2.0, "x"), (3, 3.0, "y")])
    s1 = t.metadata.snapshots[0].snapshot_id
    t = W.delete_where_mor(t, spark, E.equal_to("tag", "x"))
    ch = changelog_df(t, spark, from_snapshot_id=s1)
    rows = {(r["k"], r["_change_type"]) for r in ch.collect()}
    assert rows == {(1, "delete"), (2, "delete")}


def test_cow_delete_nets_carryovers(spark, tmp_path):
    t = _mk(spark, tmp_path / "c", [(1, 1.0, "x"), (2, 2.0, "x"), (3, 3.0, "y")])
    s1 = t.metadata.snapshots[0].snapshot_id
    t = W.delete_where(t, spark, E.equal_to("tag", "y"))  # CoW rewrite
    ch = changelog_df(t, spark, from_snapshot_id=s1)
    rows = {(r["k"], r["_change_type"]) for r in ch.collect()}
    # survivors (1, 2) are carryovers and must NOT appear
    assert rows == {(3, "delete")}


def _mk_defaulted(spark, path):
    """v3 table, rows k = 1..5 in one file, then `score` added with
    initial-default 0.5."""
    from icegopher_spark.iceberg.evolve import update_schema

    t = W.create_table(str(path), SCHEMA, format_version=3)
    rows = spark.createDataFrame(
        [(k, float(k), "x") for k in range(1, 6)], "k long, v double, tag string"
    )
    t = W.append(t, rows.coalesce(1))
    return update_schema(t).add_column("score", DoubleType(), default=0.5).commit()


@pytest.mark.parametrize("change", ["insert", "mor_delete"])
def test_changelog_reads_initial_default(spark, tmp_path, change):
    """Rows written before a column was added with a default read its
    initial-default in the changelog, as in the scan: inserts and
    merge-on-read delete pre-images alike."""
    t = _mk_defaulted(spark, tmp_path / "t")
    s1 = t.metadata.snapshots[0].snapshot_id
    if change == "insert":
        want = {(k, "insert", 0.5) for k in range(1, 6)}
        ch = changelog_df(t, spark, from_snapshot_id=0)
    else:
        want = {(3, "delete", 0.5)}
        t = W.delete_where_mor(t, spark, E.equal_to("k", 3))
        ch = changelog_df(t, spark, from_snapshot_id=s1)
    assert {(r["k"], r["_change_type"], r["score"]) for r in ch.collect()} == want


def test_cow_delete_after_add_column_default_nets_to_one_delete(spark, tmp_path):
    """The rewrite's carried rows are written with the default; the
    removed file's rows must read it too, or every carried row nets
    into a spurious delete/insert pair."""
    t = _mk_defaulted(spark, tmp_path / "t")
    s1 = t.metadata.snapshots[0].snapshot_id
    t = W.delete_where(t, spark, E.equal_to("k", 3))
    rows = changelog_df(t, spark, from_snapshot_id=s1).collect()
    assert [(r["k"], r["_change_type"], r["score"]) for r in rows] == [(3, "delete", 0.5)]


@pytest.mark.parametrize("extra", [("_net_dup",), ("_sgn", "_net", "_net_x_dup")])
def test_cow_netting_keeps_source_columns_named_like_helpers(spark, tmp_path, extra):
    """Netting adds _sgn, _net and an explode column named after _net;
    a source column with any of those names must survive with its
    values (a source _net_dup was dropped with the explode column)."""
    fields = [NestedField(1, "k", LongType(), True)]
    fields += [NestedField(2 + i, c, LongType(), False) for i, c in enumerate(extra)]
    t = W.create_table(str(tmp_path / "helpers"), Schema(tuple(fields), schema_id=0))
    ddl = ", ".join(["k long"] + [f"{c} long" for c in extra])
    rows = [tuple([k] + [k * 10 + i for i in range(len(extra))]) for k in (1, 2, 3)]
    t = W.append(t, spark.createDataFrame(rows, ddl).coalesce(1))
    s1 = t.metadata.snapshots[0].snapshot_id
    t = W.delete_where(t, spark, E.equal_to("k", 3))  # CoW rewrite: netted
    ch = changelog_df(t, spark, from_snapshot_id=s1)
    cols = ["k", *extra, "_change_type"]
    assert set(cols) <= set(ch.columns)
    assert [tuple(r[c] for c in cols) for r in ch.collect()] == [(*rows[2], "delete")]


@pytest.mark.parametrize("face", ["read_tasks", "changelog_df"])
def test_non_parquet_positional_delete_refused_by_name(spark, tmp_path, face):
    """A positional-delete file whose manifest entry says ORC is
    refused with a ValueError naming it, on the scan's task reader and
    on the changelog alike (not a failure inside Spark's parquet
    reader)."""
    import os
    import re

    from icegopher_spark.iceberg.manifests import (
        DataFile,
        DataFileContent,
        read_manifest_list,
    )
    from icegopher_spark.iceberg.table import read_tasks

    t = _mk(spark, tmp_path / "t", [(1, 1.0, "x"), (2, 2.0, "y")])
    s1 = t.current_snapshot().snapshot_id
    data_path = t.scan().plan_files()[0].file.file_path
    out = str(tmp_path / "orcdel")
    spark.createDataFrame([(data_path, 0)], "file_path string, pos long").coalesce(
        1
    ).write.orc(out)
    path = next(f"{out}/{f}" for f in sorted(os.listdir(out)) if f.endswith(".orc"))
    dfile = DataFile(
        file_path=path,
        file_format="ORC",
        content=DataFileContent.POSITION_DELETES,
        record_count=1,
        file_size_in_bytes=os.path.getsize(path),
        partition={},
    )
    keep = read_manifest_list(t.io.read(t.current_snapshot().manifest_list))
    t = W._commit_snapshot(t, [], W.OP_DELETE, keep_manifests=keep, delete_files=[dfile])
    with pytest.raises(ValueError, match=re.escape(path)):
        if face == "read_tasks":
            read_tasks(t, spark, t.scan().plan_files())
        else:
            changelog_df(t, spark, from_snapshot_id=s1)


def test_replace_snapshot_skipped(spark, tmp_path):
    from icegopher_spark.iceberg.maintenance import compact_data_files

    t = _mk(spark, tmp_path / "d", [(1, 1.0, "x")])
    t = W.append(t, spark.createDataFrame([(2, 2.0, "y")], "k long, v double, tag string"))
    s2 = t.metadata.snapshots[-1].snapshot_id
    t = compact_data_files(t, spark, target_file_size=1 << 20, small_file_threshold=1 << 20)
    assert t.metadata.snapshots[-1].summary["operation"] == "replace"
    ch = changelog_df(t, spark, from_snapshot_id=s2)
    assert ch.count() == 0  # compaction emitted no logical changes


def test_bad_from_snapshot_raises(spark, tmp_path):
    t = _mk(spark, tmp_path / "e", [(1, 1.0, "x")])
    with pytest.raises(ValueError, match="ancestor"):
        changelog_df(t, spark, from_snapshot_id=12345)


def test_changelog_replay_reconstructs_table(spark, tmp_path):
    """Invariant: for ANY operation sequence, (all inserts) exceptAll
    (all deletes) from the full changelog == the current table."""
    from icegopher_spark.iceberg.maintenance import compact_data_files

    rows = [(i, float(i), "x" if i % 3 else "y") for i in range(40)]
    t = _mk(spark, tmp_path / "replay", rows)
    t = W.append(
        t,
        spark.createDataFrame(
            [(100 + i, 1.0, "z") for i in range(10)], "k long, v double, tag string"
        ).coalesce(1),
    )
    t = W.delete_where_mor(t, spark, E.equal_to("tag", "y"))
    t = W.delete_where(t, spark, E.less_than("k", 5))
    src = spark.createDataFrame([(7, 777.0, "u"), (999, 9.0, "u")], "k long, v double, tag string")
    t = W.merge_upsert(t, spark, src, ["k"])
    t = compact_data_files(t, spark, target_file_size=1 << 20, small_file_threshold=1 << 20)

    ch = changelog_df(t, spark, from_snapshot_id=0)
    ins = ch.filter(F.col("_change_type") == "insert").drop("_change_type", "_commit_snapshot_id")
    dels = ch.filter(F.col("_change_type") == "delete").drop("_change_type", "_commit_snapshot_id")
    rebuilt = sorted(map(tuple, ins.exceptAll(dels).collect()))
    current = sorted(map(tuple, t.scan().to_df(spark).collect()))
    assert rebuilt == current


def test_changelog_replication_between_tables(spark, tmp_path):
    """CDC replication loop: apply table A's changelog to table B
    snapshot by snapshot (delete keys, then append inserts) — B must
    converge to A exactly."""
    src = _mk(spark, tmp_path / "repl_a", [(i, float(i), "x") for i in range(20)])
    ops_snapshots = [src.metadata.snapshots[0].snapshot_id]
    src = W.merge_upsert(
        src,
        spark,
        spark.createDataFrame([(5, 55.0, "m"), (99, 9.0, "m")], "k long, v double, tag string"),
        ["k"],
    )
    src = W.delete_keys(
        src, spark, spark.createDataFrame([(3,), (7,)], "k long"), ["k"]
    )
    src = W.append(
        src, spark.createDataFrame([(200, 2.0, "z")], "k long, v double, tag string").coalesce(1)
    )

    dst = W.create_table(str(tmp_path / "repl_b"), SCHEMA)
    ch = changelog_df(src, spark, from_snapshot_id=0).cache()
    order = [r["_commit_snapshot_id"] for r in ch.select("_commit_snapshot_id").distinct().orderBy("_commit_snapshot_id").collect()]
    for sid in order:
        batch = ch.filter(F.col("_commit_snapshot_id") == sid)
        dels = batch.filter(F.col("_change_type") == "delete").select("k").distinct()
        if dels.count() and dst.current_snapshot() is not None:
            dst = W.delete_keys(dst, spark, dels, ["k"])
        ins = batch.filter(F.col("_change_type") == "insert").select("k", "v", "tag")
        if ins.count():
            dst = W.append(dst, ins.coalesce(1))
    got = sorted(map(tuple, dst.scan().to_df(spark).collect()))
    want = sorted(map(tuple, src.scan().to_df(spark).collect()))
    assert got == want


def test_apply_changes_to_aggregate_folds_and_drops(spark):
    from pyspark.sql import functions as F

    from icegopher_spark.iceberg.changelog import (
        CHANGE_TYPE,
        COMMIT_SNAPSHOT,
        apply_changes_to_aggregate,
    )

    mv = spark.createDataFrame(
        [("A", 2, 10.0), ("B", 1, 5.0)], "k string, n_rows long, qty_sum double"
    ).withColumn("qty_sum", F.col("qty_sum").cast("decimal(20,4)"))
    changes = spark.createDataFrame(
        [
            ("A", 3.0, "insert", 2),   # A grows
            ("B", 5.0, "delete", 2),   # B's only row deleted -> drops out
            ("C", 7.0, "insert", 2),   # brand-new group
        ],
        f"k string, q double, {CHANGE_TYPE} string, {COMMIT_SNAPSHOT} long",
    )
    out = {
        r["k"]: (r["n_rows"], float(r["qty_sum"]))
        for r in apply_changes_to_aggregate(
            mv, changes, keys=["k"], sum_specs={"qty_sum": "q"}
        ).collect()
    }
    assert out == {"A": (3, 13.0), "C": (1, 7.0)}  # B gone


# ---- round-5 review regressions ----


def test_cow_removal_does_not_rereport_prior_deletes(spark, tmp_path):
    """S2 MOR-deletes row A; S3 CoW-removes the file. S3's changelog
    must report only the rows still live at the parent (A already
    reported deleted in S2 must not be decremented twice)."""
    t = _mk(spark, tmp_path / "rr", [(1, 1.0, "x"), (2, 2.0, "y")])
    s1 = t.metadata.snapshots[0].snapshot_id
    t = W.delete_where_mor(t, spark, E.equal_to("k", 1))  # S2: delete row 1
    t = W.delete_where(t, spark, E.equal_to("tag", "y"))  # S3: CoW removes file
    ch = changelog_df(t, spark, from_snapshot_id=s1).collect()
    dels = sorted((r["k"], r["_commit_snapshot_id"]) for r in ch if r["_change_type"] == "delete")
    s2, s3 = (s.snapshot_id for s in t.metadata.snapshots[1:3])
    # exactly one delete per logical row removal — no double-report of k=1
    assert dels == sorted([(1, s2), (2, s3)])


def test_eq_delete_changelog_after_rename(spark, tmp_path):
    """Schema renamed between the data and the eq-delete: pre-images
    resolve by field id, not by (stale or current) names."""
    from icegopher_spark.iceberg.evolve import update_schema

    t = _mk(spark, tmp_path / "ren", [(1, 1.0, "x"), (2, 2.0, "y")])
    s1 = t.metadata.snapshots[0].snapshot_id
    t = update_schema(t).rename_column("k", "kk").commit()
    keys = spark.createDataFrame([(1,)], "kk long")
    t = W.delete_keys(t, spark, keys, ["kk"])
    ch = changelog_df(t, spark, from_snapshot_id=s1).collect()
    assert [(r["kk"], r["_change_type"]) for r in ch] == [(1, "delete")]


def test_overlapping_eq_delete_files_report_once(spark, tmp_path):
    """Two eq-delete files in separate snapshots sharing key 1: the row
    is gone after the first, so the second reports nothing — and within
    one snapshot, keys are unioned before the semi-join."""
    t = _mk(spark, tmp_path / "ov", [(1, 1.0, "x"), (2, 2.0, "y"), (3, 3.0, "z")])
    s1 = t.metadata.snapshots[0].snapshot_id
    t = W.delete_keys(t, spark, spark.createDataFrame([(1,), (2,)], "k long"), ["k"])
    t = W.delete_keys(t, spark, spark.createDataFrame([(1,), (3,)], "k long"), ["k"])
    ch = changelog_df(t, spark, from_snapshot_id=s1).collect()
    dels = sorted(r["k"] for r in ch if r["_change_type"] == "delete")
    assert dels == [1, 2, 3]  # each logical delete exactly once


def test_unknown_to_snapshot_raises(spark, tmp_path):
    t = _mk(spark, tmp_path / "unk", [(1, 1.0, "x")])
    with pytest.raises(ValueError, match="unknown to_snapshot_id"):
        changelog_df(t, spark, from_snapshot_id=0, to_snapshot_id=999).collect()


def test_apply_changes_null_keys_merge(spark):
    """NULL-key groups must merge through the null-safe join instead of
    forking a duplicate row per refresh; big values survive the
    decimal(38,4) fold."""
    from icegopher_spark.iceberg.changelog import apply_changes_to_aggregate

    mv = spark.createDataFrame(
        [(None, 5, 50.0), ("a", 2, 2.0e16)], "g string, n_rows long, vsum double"
    ).select("g", "n_rows", F.col("vsum").cast("decimal(38,4)").alias("vsum"))
    changes = spark.createDataFrame(
        [(None, 1.0, "insert"), (None, 2.0, "insert"), ("a", 2.0e16, "insert")],
        "g string, v double, _change_type string",
    )
    out = {r["g"]: r for r in apply_changes_to_aggregate(
        mv, changes, keys=["g"], count_col="n_rows", sum_specs={"vsum": "v"}
    ).collect()}
    assert len(out) == 2  # no forked NULL row
    assert out[None]["n_rows"] == 7 and float(out[None]["vsum"]) == 53.0
    assert out["a"]["n_rows"] == 3 and float(out["a"]["vsum"]) == 4.0e16


def test_changelog_orc_data_files(spark, tmp_path):
    """Changelog over an ORC-format table: _read_data_files must branch
    on file_format (r5 review: parquet was hardcoded)."""
    t = W.create_table(
        str(tmp_path / "orc"), SCHEMA, properties={"write.format.default": "orc"}
    )
    df = spark.createDataFrame([(1, 1.0, "x"), (2, 2.0, "y")], "k long, v double, tag string")
    t = W.append(t, df.coalesce(1))
    s1 = t.metadata.snapshots[0].snapshot_id
    t = W.append(
        t, spark.createDataFrame([(3, 3.0, "z")], "k long, v double, tag string")
    )
    ch = changelog_df(t, spark, from_snapshot_id=s1).collect()
    assert [(r["k"], r["_change_type"]) for r in ch] == [(3, "insert")]
    # and a MOR delete's pre-images read back through the ORC reader
    t = W.delete_where_mor(t, spark, E.equal_to("k", 1))
    ch = changelog_df(t, spark, from_snapshot_id=s1).collect()
    dels = [r["k"] for r in ch if r["_change_type"] == "delete"]
    assert dels == [1]


def test_eq_delete_many_keys_with_null_not_underreported(spark, tmp_path):
    """Pre-image pruning guard (r6): with >1000 distinct delete keys
    including a NULL, the sample-size check must count rows BEFORE
    dropping nulls — the old order let the guard pass with a truncated
    key list and the IN filter pruned parents matching unsampled keys,
    silently under-reporting deletes."""
    rows = [(i, float(i), "x") for i in range(1005)]
    t = _mk(spark, tmp_path / "bigdel", rows)
    s1 = t.metadata.snapshots[0].snapshot_id
    # 1002 distinct keys: 1001 real + NULL (over the 1000-key cap)
    keys = spark.createDataFrame(
        [(None,)] + [(i,) for i in range(1001)], "k long"
    ).coalesce(1)
    t = W.delete_keys(t, spark, keys, ["k"])
    ch = changelog_df(t, spark, from_snapshot_id=s1).collect()
    dels = sorted(r["k"] for r in ch if r["_change_type"] == "delete")
    assert dels == list(range(1001))  # every matched key reported


def test_eq_delete_null_key_matches(spark, tmp_path):
    """r8 review wave 6: an equality-delete key of NULL deletes
    NULL-keyed rows (spec/Java semantics); the plain equi-join never
    matched them — both the scan anti-join and the changelog pre-image
    semi-join are now null-safe."""
    from icegopher_spark.iceberg import write as W
    from icegopher_spark.iceberg.changelog import changelog_df
    from icegopher_spark.iceberg.schema import Schema
    from icegopher_spark.iceberg.types import LongType, NestedField, StringType

    sch = Schema(
        (
            NestedField(1, "k", StringType(), False),  # nullable key
            NestedField(2, "v", LongType(), True),
        ),
        schema_id=0,
    )
    loc = str(tmp_path / "nulleq")
    t = W.create_table(loc, sch)
    rows = [("a", 1), (None, 2), ("b", 3), (None, 4)]
    t = W.append(t, spark.createDataFrame(rows, "k string, v long").coalesce(1))
    keys = spark.createDataFrame([("a",), (None,)], "k string")
    t = W.delete_keys(t, spark, keys, ["k"])

    # scan: NULL-keyed rows are gone along with 'a'
    live = sorted(r["v"] for r in t.scan().to_df(spark).collect())
    assert live == [3]

    # changelog pre-images report all three deleted rows
    root = t.metadata.snapshots[0].snapshot_id
    ch = changelog_df(t, spark, root, None)
    dels = sorted(
        r["v"] for r in ch.filter("_change_type = 'delete'").collect()
    )
    assert dels == [1, 2, 4]


def test_pair_updates_semantics(spark):
    """r8 verdict #7: pair_updates folds same-commit delete+insert
    rows into update pre/post images — carryover pairs (identical
    values) vanish, multiplicity pairs rank-by-rank, unmatched rows
    keep their type, other commits/types pass through."""
    from icegopher_spark.iceberg.changelog import (
        CHANGE_TYPE,
        COMMIT_SNAPSHOT,
        pair_updates,
    )

    rows = [
        # commit 10: one real update (k=1), one carryover pair (k=2),
        # one bare delete (k=3), one bare insert (k=4)
        (1, "old", "delete", 10),
        (1, "new", "insert", 10),
        (2, "same", "delete", 10),
        (2, "same", "insert", 10),
        (3, "gone", "delete", 10),
        (4, "born", "insert", 10),
        # commit 11: same key as commit 10 must NOT cross-pair
        (1, "newer", "insert", 11),
        # multiplicity: two updates of the same key in one commit pair
        # rank-by-rank (2 pre + 2 post, no bare rows)
        (5, "a1", "delete", 12),
        (5, "a2", "delete", 12),
        (5, "b1", "insert", 12),
        (5, "b2", "insert", 12),
    ]
    df = spark.createDataFrame(
        rows, f"k long, v string, {CHANGE_TYPE} string, {COMMIT_SNAPSHOT} long"
    )
    got = {
        (r["k"], r["v"], r[CHANGE_TYPE], r[COMMIT_SNAPSHOT])
        for r in pair_updates(df, ["k"]).collect()
    }
    assert got == {
        (1, "old", "update_preimage", 10),
        (1, "new", "update_postimage", 10),
        (3, "gone", "delete", 10),
        (4, "born", "insert", 10),
        (1, "newer", "insert", 11),
        (5, "a1", "update_preimage", 12),
        (5, "a2", "update_preimage", 12),
        (5, "b1", "update_postimage", 12),
        (5, "b2", "update_postimage", 12),
    }
    # unknown identifier refuses
    import pytest as _pytest

    with _pytest.raises(ValueError, match="identifier fields"):
        pair_updates(df, ["nope"])


def test_pair_updates_matches_lineage_changelog(spark, tmp_path):
    """The stream-face pairing (pair_updates over the CDC source's raw
    insert+delete rows) agrees with the lineage-native batch pairing
    (changelog_by_lineage) on a CoW update: same pre/post image
    multisets, carryovers absent from both."""
    from pyspark.sql import functions as F

    from icegopher_spark.iceberg import write as W
    from icegopher_spark.iceberg.changelog import (
        changelog_df,
        changelog_by_lineage,
        pair_updates,
    )
    from icegopher_spark.iceberg.expressions import equal_to
    from icegopher_spark.iceberg.schema import Schema
    from icegopher_spark.iceberg.types import (
        DoubleType,
        LongType,
        NestedField,
        StringType,
    )

    sch = Schema(
        (
            NestedField(1, "l_orderkey", LongType(), True),
            NestedField(2, "l_quantity", DoubleType(), False),
            NestedField(3, "l_returnflag", StringType(), False),
        ),
        schema_id=0,
    )
    df = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .select("l_orderkey", "l_quantity", "l_returnflag")
        .limit(300)
    )
    t = W.create_table(str(tmp_path / "cow"), sch, format_version=3)
    t = W.append(t, df)
    s1 = t.current_snapshot().snapshot_id
    t = W.update_where(
        t, spark, equal_to("l_returnflag", "R"), {"l_quantity": F.col("l_quantity") + 7}
    )

    raw = changelog_df(t, spark, from_snapshot_id=s1, net=False)
    # identifier must be STABLE across the update: okey alone (qty changes)
    paired = pair_updates(raw, ["l_orderkey"])
    lineage = changelog_by_lineage(t, spark, from_snapshot_id=s1)

    def agg(d):
        return {
            (r["_change_type"], r["n"], float(r["q"]))
            for r in d.groupBy("_change_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum(F.col("l_quantity").cast("decimal(12,2)")), 2).alias("q"),
            )
            .collect()
        }

    a, b = agg(paired), agg(lineage)
    assert {k[0] for k in a} == {"update_preimage", "update_postimage"}
    assert a == b


def test_scd2_reinsert_and_update_chains(spark):
    """scd2_from_changelog edge cases: delete-then-reinsert produces
    two versions with a gap; chained updates produce consecutive
    closed versions; within-commit close-before-open ordering means an
    update never fabricates a zero-length current version."""
    from icegopher_spark.iceberg.changelog import (
        CHANGE_TYPE,
        COMMIT_SNAPSHOT,
        scd2_from_changelog,
    )

    rows = [
        # key 1: insert@1, update@2 (pre+post), update@3 -> 3 versions
        (1, "a", "insert", 1),
        (1, "a", "update_preimage", 2),
        (1, "b", "update_postimage", 2),
        (1, "b", "update_preimage", 3),
        (1, "c", "update_postimage", 3),
        # key 2: insert@1, delete@2, reinsert@3 -> v1 closed, v2 open
        (2, "x", "insert", 1),
        (2, "x", "delete", 2),
        (2, "y", "insert", 3),
        # key 3: insert@2 only -> current
        (3, "z", "insert", 2),
    ]
    df = spark.createDataFrame(
        rows, f"k long, v string, {CHANGE_TYPE} string, {COMMIT_SNAPSHOT} long"
    )
    got = {
        (r["k"], r["v"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in scd2_from_changelog(df, ["k"]).collect()
    }
    assert got == {
        (1, "a", 1, 2, False),
        (1, "b", 2, 3, False),
        (1, "c", 3, None, True),
        (2, "x", 1, 2, False),
        (2, "y", 3, None, True),
        (3, "z", 2, None, True),
    }
    import pytest as _pytest

    with _pytest.raises(ValueError, match="key fields"):
        scd2_from_changelog(df, ["nope"])


def test_scd2_reconstructs_every_snapshot_state(spark, tmp_path):
    """Replay property: filtering the SCD2 history to
    valid_from <= k < valid_to reproduces the table's exact state AS OF
    every snapshot k — the invariant that makes the history usable for
    point-in-time dimension joins."""
    from pyspark.sql import functions as F

    from icegopher_spark.iceberg import write as W
    from icegopher_spark.iceberg.changelog import (
        COMMIT_SNAPSHOT,
        changelog_df,
        pair_updates,
        scd2_from_changelog,
    )
    from icegopher_spark.iceberg.expressions import equal_to, less_than
    from icegopher_spark.iceberg.schema import Schema
    from icegopher_spark.iceberg.types import (
        DoubleType,
        LongType,
        NestedField,
        StringType,
    )

    sch = Schema(
        (
            NestedField(1, "o_orderkey", LongType(), True),
            NestedField(2, "o_orderstatus", StringType(), False),
            NestedField(3, "o_totalprice", DoubleType(), False),
        ),
        schema_id=0,
    )
    orders = (
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .limit(400)
    )
    t = W.create_table(str(tmp_path / "dim"), sch)
    t = W.append(t, orders)
    t = W.update_where(
        t, spark, equal_to("o_orderstatus", "O"), {"o_totalprice": F.col("o_totalprice") * 2}
    )
    t = W.delete_where(t, spark, less_than("o_orderkey", 200))

    snaps = [s.snapshot_id for s in t.metadata.snapshots]
    first = snaps[0]
    base = (
        t.scan(snapshot_id=first)
        .to_df(spark)
        .select(
            "*",
            F.lit("insert").alias("_change_type"),
            F.lit(first).cast("long").alias(COMMIT_SNAPSHOT),
        )
    )
    changes = base.unionByName(
        changelog_df(t, spark, from_snapshot_id=first, net=False)
    )
    scd2 = scd2_from_changelog(pair_updates(changes, ["o_orderkey"]), ["o_orderkey"])
    # order snapshots by sequence for interval comparison
    seq = {s.snapshot_id: s.sequence_number for s in t.metadata.snapshots}
    m = spark.createDataFrame(list(seq.items()), "sid long, seq long")
    scd2s = (
        scd2.join(m.withColumnRenamed("sid", "valid_from").withColumnRenamed("seq", "f"), "valid_from")
        .join(
            m.withColumnRenamed("sid", "valid_to").withColumnRenamed("seq", "tt"),
            "valid_to",
            "left",
        )
    )
    for sid in snaps:
        k = seq[sid]
        reconstructed = sorted(
            map(
                tuple,
                scd2s.filter(
                    (F.col("f") <= k) & (F.col("tt").isNull() | (F.col("tt") > k))
                )
                .select("o_orderkey", "o_orderstatus", "o_totalprice")
                .collect(),
            )
        )
        actual = sorted(map(tuple, t.scan(snapshot_id=sid).to_df(spark).collect()))
        assert reconstructed == actual, f"state mismatch at snapshot seq {k}"


def test_pair_updates_scd2_fuzz_vs_simulator(spark):
    """Randomized differential: 200 keys × 6 commits of raw
    insert/delete changelog rows (updates modeled as same-commit
    delete+insert, plus carryover noise pairs) fold through
    pair_updates -> scd2_from_changelog and must match a pure-Python
    simulator exactly: per-key interval chains (no overlaps, at most
    one open version) AND the reconstructed state at every commit."""
    import random

    from icegopher_spark.iceberg.changelog import (
        CHANGE_TYPE,
        COMMIT_SNAPSHOT,
        pair_updates,
        scd2_from_changelog,
    )

    rng = random.Random(1337)
    rows = []  # (k, v, type, commit)
    state: dict[int, str] = {}  # live value per key
    states_at: dict[int, dict[int, str]] = {}
    versions: dict[int, list] = {}  # simulator SCD2: key -> [(v, from, to)]

    def _open(k, v, c):
        versions.setdefault(k, []).append([v, c, None])

    def _close(k, c):
        versions[k][-1][2] = c

    for commit in range(1, 7):
        for k in range(200):
            live = k in state
            act = rng.random()
            if not live and act < 0.5:
                v = f"v{commit}_{rng.randrange(1000)}"
                rows.append((k, v, "insert", commit))
                state[k] = v
                _open(k, v, commit)
            elif live and act < 0.25:
                rows.append((k, state[k], "delete", commit))
                _close(k, commit)
                del state[k]
            elif live and act < 0.55:
                old, new = state[k], f"v{commit}_{rng.randrange(1000)}"
                rows.append((k, old, "delete", commit))
                rows.append((k, new, "insert", commit))
                _close(k, commit)
                _open(k, new, commit)
                state[k] = new
            elif live and act < 0.7:
                # carryover noise: a CoW rewrite emits the UNCHANGED
                # row as an identical delete+insert pair — must vanish
                rows.append((k, state[k], "delete", commit))
                rows.append((k, state[k], "insert", commit))
        states_at[commit] = dict(state)

    df = spark.createDataFrame(
        rows, f"k long, v string, {CHANGE_TYPE} string, {COMMIT_SNAPSHOT} long"
    )
    scd2 = scd2_from_changelog(pair_updates(df, ["k"]), ["k"]).collect()

    got = {}
    for r in scd2:
        got.setdefault(r["k"], []).append((r["v"], r["valid_from"], r["valid_to"]))
    want = {
        k: [(v, f, t) for v, f, t in vs] for k, vs in versions.items() if vs
    }
    for k in want:
        assert sorted(got.get(k, []), key=lambda x: x[1]) == sorted(
            want[k], key=lambda x: x[1]
        ), f"key {k}"
    assert set(got) == set(want)

    # interval sanity: per key ordered, non-overlapping, <= 1 open
    for k, vs in got.items():
        vs = sorted(vs, key=lambda x: x[1])
        opens = [x for x in vs if x[2] is None]
        assert len(opens) <= 1
        for (_, f1, t1), (_, f2, _t2) in zip(vs, vs[1:]):
            assert t1 is not None and t1 <= f2

    # state reconstruction at every commit
    for c, expect in states_at.items():
        recon = {
            k: v
            for k, vs in got.items()
            for (v, f, t) in vs
            if f <= c and (t is None or t > c)
        }
        assert recon == expect, f"commit {c}"


def test_pair_updates_io_only_contract(spark):
    """r13 optimization: ``io_only=True`` skips the passthrough subtree
    (single-consumer input chain — what lets the CDC callers drop their
    localCheckpoint). On an insert/delete-only frame the output is
    identical to the default path; rows of any other change type are
    dropped under the flag (the documented contract) where the default
    path passes them through."""
    from icegopher_spark.iceberg.changelog import (
        CHANGE_TYPE,
        COMMIT_SNAPSHOT,
        pair_updates,
    )

    io_rows = [
        (1, "old", "delete", 10),
        (1, "new", "insert", 10),
        (2, "same", "delete", 10),
        (2, "same", "insert", 10),
        (3, "gone", "delete", 10),
        (4, "born", "insert", 11),
    ]
    schema = f"k long, v string, {CHANGE_TYPE} string, {COMMIT_SNAPSHOT} long"
    io_df = spark.createDataFrame(io_rows, schema)

    def rows(d):
        return {
            (r["k"], r["v"], r[CHANGE_TYPE], r[COMMIT_SNAPSHOT])
            for r in d.collect()
        }

    assert rows(pair_updates(io_df, ["k"], io_only=True)) == rows(
        pair_updates(io_df, ["k"])
    )

    mixed = spark.createDataFrame(
        io_rows + [(5, "pre", "update_preimage", 12)], schema
    )
    got_default = rows(pair_updates(mixed, ["k"]))
    got_io = rows(pair_updates(mixed, ["k"], io_only=True))
    assert (5, "pre", "update_preimage", 12) in got_default
    assert got_io == got_default - {(5, "pre", "update_preimage", 12)}
