"""End-to-end table tests over Spark: create/append/scan with partition,
bucket, and metrics pruning; time travel; refs; copy-on-write delete;
static catalog; CLI; inspect tables. This is the v1 milestone slice of
SURVEY.md §7 step 5 plus the write path (step 9)."""

import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from icegopher_spark.iceberg import expressions as E
from icegopher_spark.iceberg import write as W
from icegopher_spark.iceberg.catalog import StaticCatalog, load_catalog
from icegopher_spark.iceberg.schema import Schema
from icegopher_spark.iceberg.table import Table
from icegopher_spark.iceberg.transforms import PartitionField, PartitionSpec, parse_transform
from icegopher_spark.iceberg.types import (
    DoubleType,
    LongType,
    NestedField,
    StringType,
    TimestampType,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def warehouse(tmp_path_factory):
    return str(tmp_path_factory.mktemp("warehouse"))


@pytest.fixture(scope="module")
def lineitem(spark):
    return spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey",
        "l_quantity",
        "l_returnflag",
        F.col("l_shipdate").cast("timestamp_ntz").alias("l_shipdate"),
    )


SCHEMA = Schema(
    (
        NestedField(1, "l_orderkey", LongType(), True),
        NestedField(2, "l_quantity", DoubleType(), False),
        NestedField(3, "l_returnflag", StringType(), False),
        NestedField(4, "l_shipdate", TimestampType(), False),
    ),
    schema_id=0,
)

SPEC = PartitionSpec(
    [
        PartitionField(3, 1000, "flag", parse_transform("identity")),
        PartitionField(1, 1001, "okb", parse_transform("bucket[4]")),
    ]
)


@pytest.fixture(scope="module")
def table(spark, warehouse, lineitem):
    cat = StaticCatalog("test", warehouse)
    cat.create_namespace("db")
    t = cat.create_table(("db", "lineitem"), SCHEMA, SPEC)
    t = W.append(t, lineitem.filter(F.col("l_orderkey") % 2 == 0))
    t = W.append(t, lineitem.filter(F.col("l_orderkey") % 2 == 1))
    return t


def test_full_scan_matches_source(spark, table, lineitem):
    assert table.scan().to_df(spark).count() == lineitem.count()


def test_partition_pruning(spark, table):
    all_files = table.scan().plan_files()
    pruned = table.scan(row_filter=E.equal_to("l_returnflag", "R")).plan_files()
    assert 0 < len(pruned) < len(all_files)
    for t in pruned:
        assert t.file.partition.get("flag") == "R"


def test_filtered_scan_values(spark, table, lineitem):
    got = table.scan(row_filter=E.equal_to("l_returnflag", "R")).to_df(spark)
    exp = lineitem.filter(F.col("l_returnflag") == "R")
    assert got.count() == exp.count()


def test_bucket_pruning(spark, table):
    all_files = table.scan().plan_files()
    pruned = table.scan(row_filter=E.equal_to("l_orderkey", 1234)).plan_files()
    assert len(pruned) < len(all_files)


def test_metrics_pruning_impossible_range(spark, table):
    assert table.scan(row_filter=E.greater_than("l_quantity", 1e9)).plan_files() == []


def test_projection_and_limit(spark, table):
    df = table.scan(selected_fields=("l_orderkey", "l_quantity"), limit=7).to_df(spark)
    assert df.columns == ["l_orderkey", "l_quantity"]
    assert df.count() == 7


def test_time_travel(spark, table, lineitem):
    first = table.metadata.snapshots[0]
    df = table.scan(snapshot_id=first.snapshot_id).to_df(spark)
    assert df.count() == lineitem.filter(F.col("l_orderkey") % 2 == 0).count()


def test_ref_scan(spark, table):
    assert table.scan(ref="main").to_df(spark).count() == table.scan().to_df(spark).count()
    with pytest.raises(ValueError):
        table.scan().use_ref("nope")


def test_snapshot_as_of(table):
    ts = table.metadata.snapshots[0].timestamp_ms
    snap = table.metadata.snapshot_as_of(ts)
    assert snap.snapshot_id == table.metadata.snapshots[0].snapshot_id


def test_inspect_tables(spark, table):
    files = table.inspect.files(spark)
    assert files.count() == len(table.scan().plan_files())
    snaps = table.inspect.snapshots(spark)
    assert snaps.count() == len(table.metadata.snapshots)
    refs = table.inspect.refs(spark)
    assert refs.filter(F.col("name") == "main").count() == 1
    manifests = table.inspect.manifests(spark)
    assert manifests.count() >= 1
    parts = table.inspect.partitions(spark)
    assert parts.count() == len(
        {tuple(sorted(t.file.partition.items())) for t in table.scan().plan_files()}
    )
    mlog = table.inspect.metadata_log(spark)
    # one row per superseded metadata version + the current pointer
    assert mlog.count() >= 1
    assert mlog.orderBy(F.col("timestamp_ms").desc()).first()[
        "metadata_file"
    ] == table.metadata_location
    first = table.metadata.snapshots[0].snapshot_id
    ch = table.inspect.changes(spark, from_snapshot_id=first)
    assert set(ch.select("_change_type").distinct().toPandas()["_change_type"]) <= {
        "insert",
        "delete",
    }


def test_static_catalog_listing(warehouse, table):
    cat = StaticCatalog("test", warehouse)
    assert ("db",) in cat.list_namespaces()
    assert ("db", "lineitem") in cat.list_tables("db")
    t = cat.load_table("db.lineitem")
    assert t.schema == SCHEMA


def test_catalog_factory(warehouse):
    cat = load_catalog("c", warehouse)
    assert isinstance(cat, StaticCatalog)


def test_namespace_properties(warehouse):
    cat = StaticCatalog("test", warehouse)
    cat.create_namespace("db2", {"owner": "alice"})
    assert cat.load_namespace_properties("db2") == {"owner": "alice"}
    out = cat.update_namespace_properties("db2", removals=["nope"], updates={"x": "1"})
    assert out["missing"] == ["nope"]
    assert cat.load_namespace_properties("db2")["x"] == "1"


def test_delete_where(spark, warehouse, lineitem):
    cat = StaticCatalog("test", warehouse)
    t = cat.create_table(("db", "li_del"), SCHEMA, SPEC)
    t = W.append(t, lineitem)
    t = W.delete_where(t, spark, E.equal_to("l_returnflag", "R"))
    got = t.scan().to_df(spark)
    exp = lineitem.filter(F.col("l_returnflag") != "R")
    assert got.count() == exp.count()
    assert [s.operation for s in t.metadata.snapshots] == ["append", "delete"]


def test_overwrite(spark, warehouse, lineitem):
    cat = StaticCatalog("test", warehouse)
    t = cat.create_table(("db", "li_ow"), SCHEMA, PartitionSpec())
    t = W.append(t, lineitem)
    small = lineitem.limit(10)
    t = W.overwrite(t, small)
    assert t.scan().to_df(spark).count() == 10


def test_reload_from_disk(spark, warehouse, table):
    t2 = Table.from_location(f"{warehouse}/db/lineitem")
    assert t2.scan().to_df(spark).count() == table.scan().to_df(spark).count()


def test_cli_verbs(warehouse, table):
    def run(*args):
        return subprocess.run(
            [sys.executable, "-m", "icegopher_spark.iceberg.cli", "--catalog", warehouse, *args],
            capture_output=True,
            text=True,
            cwd="/root/repo",
        )

    out = run("list")
    assert out.returncode == 0 and "db" in out.stdout
    out = run("list", "db")
    assert "db.lineitem" in out.stdout
    out = run("describe", "db.lineitem")
    assert "format-version" in out.stdout
    out = run("schema", "db.lineitem")
    assert "l_orderkey" in out.stdout
    out = run("spec", "db.lineitem")
    assert "bucket[4]" in out.stdout
    out = run("snapshots", "db.lineitem")
    assert "append" in out.stdout
    out = run("refs", "db.lineitem")
    assert "main" in out.stdout
    out = run("files", "db.lineitem")
    assert "Datafile" in out.stdout
    out = run("location", "db.lineitem")
    assert "lineitem" in out.stdout
    # maintenance + ref verbs
    out = run("tag", "db.lineitem", "cli-tag")
    assert out.returncode == 0 and "cli-tag ->" in out.stdout
    out = run("refs", "db.lineitem")
    assert "cli-tag" in out.stdout
    out = run("drop-ref", "db.lineitem", "cli-tag")
    assert "dropped ref" in out.stdout
    out = run("rewrite-manifests", "db.lineitem")
    assert out.returncode == 0
    out = run("orphans", "db.lineitem")
    assert out.returncode == 0
    out = run("expire", "db.lineitem", "--retain-last", "5")
    assert "expired 0 snapshots" in out.stdout or "expired" in out.stdout


def test_incremental_scan(spark, table, lineitem):
    s1, s2 = (s.snapshot_id for s in table.metadata.snapshots[:2])
    inc = table.scan().incremental_to_df(spark, s1, s2)
    assert inc.count() == lineitem.filter(F.col("l_orderkey") % 2 == 1).count()
    # from current -> current: empty diff
    cur = table.current_snapshot().snapshot_id
    assert table.scan().plan_incremental_files(cur) == []


def test_incremental_non_ancestor_raises(table):
    with pytest.raises(ValueError):
        table.scan().plan_incremental_files(123456789)


def test_mor_delete(spark, warehouse, lineitem):
    cat = StaticCatalog("test", warehouse)
    t = cat.create_table(("db", "li_mor"), SCHEMA, SPEC)
    t = W.append(t, lineitem)
    n_files = len(t.scan().plan_files())
    t = W.delete_where_mor(t, spark, E.equal_to("l_returnflag", "R"))
    tasks = t.scan().plan_files()
    assert len(tasks) == n_files  # no rewrite
    assert any(x.delete_files for x in tasks)
    got = t.scan().to_df(spark)
    exp = lineitem.filter(F.col("l_returnflag") != "R")
    assert got.count() == exp.count()
    # filter still correct on top of MOR
    a = t.scan(row_filter=E.equal_to("l_returnflag", "A")).to_df(spark)
    assert a.count() == lineitem.filter(F.col("l_returnflag") == "A").count()
    # time travel to pre-delete snapshot sees all rows
    pre = t.metadata.snapshots[0].snapshot_id
    assert t.scan(snapshot_id=pre).to_df(spark).count() == lineitem.count()


def _renamed_table(spark, path, format_version, promote_and_default=False):
    """Rows (1, n1) .. (5, n5) in one file written as (id int, name
    string); then `name` renamed to `label` and, optionally, `id`
    promoted to long and `score` added with initial-default 0.5."""
    from icegopher_spark.iceberg.evolve import update_schema
    from icegopher_spark.iceberg.types import IntegerType

    sch = Schema(
        (NestedField(1, "id", IntegerType(), True), NestedField(2, "name", StringType(), False)),
        schema_id=0,
    )
    t = W.create_table(str(path), sch, format_version=format_version)
    rows = spark.createDataFrame([(i, f"n{i}") for i in range(1, 6)], "id int, name string")
    t = W.append(t, rows.coalesce(1))
    u = update_schema(t).rename_column("name", "label")
    if promote_and_default:
        u = u.update_column_type("id", LongType()).add_column("score", DoubleType(), default=0.5)
    return u.commit()


@pytest.mark.parametrize("format_version", [2, 3])
@pytest.mark.parametrize("op", ["delete_where_mor", "merge_matrix_mor"])
def test_mor_writers_match_renamed_columns(spark, tmp_path, op, format_version):
    """The merge-on-read writers read target rows by field ID: a
    predicate or merge key on a renamed column matches rows in files
    written under the old name."""
    t = _renamed_table(spark, tmp_path / "t", format_version)
    if op == "delete_where_mor":
        t = W.delete_where_mor(t, spark, E.equal_to("label", "n3"))
    else:
        t = W.merge_matrix_mor(
            t,
            spark,
            spark.createDataFrame([("n3",)], "label string"),
            ["label"],
            when_matched_update=None,
            when_matched_delete=True,
            when_not_matched_insert=False,
        )
    assert sorted(r["id"] for r in t.scan().to_df(spark).collect()) == [1, 2, 4, 5]


def test_field_id_projection_agrees_across_read_faces(spark, tmp_path):
    """A file written before a rename, a promotion and a defaulted add
    reads back the same through every face: the scan, the MOR writers'
    target rows, the position reader of the DV/eq-delete rewrites and
    the changelog's inserts."""
    from icegopher_spark.iceberg.changelog import changelog_df
    from icegopher_spark.iceberg.table import read_tasks

    t = _renamed_table(spark, tmp_path / "t", 3, promote_and_default=True)
    tasks = t.scan().plan_files()
    faces = {
        "to_df": t.scan().to_df(spark),
        "mor_target": read_tasks(t, spark, tasks, positions=True, lineage=True),
        "positions": read_tasks(t, spark, tasks, positions=True, deletes=False),
        "changelog": changelog_df(t, spark, from_snapshot_id=0),
    }
    want = {(i, f"n{i}", 0.5) for i in range(1, 6)}
    for face, df in faces.items():
        assert dict(df.dtypes)["id"] == "bigint", face
        assert {(r["id"], r["label"], r["score"]) for r in df.collect()} == want, face


def test_schema_evolution_rename_add(spark, warehouse, lineitem):
    from icegopher_spark.iceberg.evolve import update_schema

    cat = StaticCatalog("test", warehouse)
    t = cat.create_table(("db", "li_evo"), SCHEMA, PartitionSpec())
    t = W.append(t, lineitem.filter(F.col("l_orderkey") % 2 == 0))

    t = (
        update_schema(t)
        .rename_column("l_quantity", "qty")
        .add_column("note", StringType(), doc="added later")
        .commit()
    )
    assert t.schema.find_field("qty").field_id == 2  # same id, new name
    assert t.metadata.current_schema_id == 1

    # second append writes under the NEW schema
    new_rows = (
        lineitem.filter(F.col("l_orderkey") % 2 == 1)
        .withColumnRenamed("l_quantity", "qty")
        .withColumn("note", F.lit("hello"))
    )
    t = W.append(t, new_rows)

    df = t.scan().to_df(spark)
    assert set(df.columns) == {"l_orderkey", "qty", "l_returnflag", "l_shipdate", "note"}
    assert df.count() == lineitem.count()
    # old files surface NULL note; new files carry the value
    assert df.filter(F.col("note").isNull()).count() == lineitem.filter(
        F.col("l_orderkey") % 2 == 0
    ).count()
    # filter on the RENAMED column reaches rows in OLD files (id-based)
    got = df.agg(F.sum("qty")).first()[0]
    exp = lineitem.agg(F.sum("l_quantity")).first()[0]
    assert abs(got - exp) < 1e-6


def test_schema_evolution_drop_and_promote(spark, warehouse):
    from icegopher_spark.iceberg.evolve import update_schema
    from icegopher_spark.iceberg.types import IntegerType

    cat = StaticCatalog("test", warehouse)
    sch = Schema(
        (
            NestedField(1, "id", IntegerType(), True),
            NestedField(2, "v", DoubleType(), False),
        )
    )
    t = cat.create_table(("db", "evo2"), sch, PartitionSpec())
    t = W.append(t, spark.range(5).select(F.col("id").cast("int"), F.lit(1.5).alias("v")))
    t = update_schema(t).update_column_type("id", LongType()).drop_column("v").commit()
    df = t.scan().to_df(spark)
    assert df.columns == ["id"]
    assert dict(df.dtypes)["id"] == "bigint"
    assert df.count() == 5

    with pytest.raises(ValueError):
        update_schema(t).update_column_type("id", StringType()).commit()
    with pytest.raises(ValueError):
        update_schema(t).drop_column("nope")
    with pytest.raises(ValueError):
        update_schema(t).add_column("id", LongType())


def test_time_travel_after_evolution_uses_old_schema(spark, warehouse):
    cat = StaticCatalog("test", warehouse)
    t = cat.load_table("db.li_evo")
    first = t.metadata.snapshots[0]
    old = t.scan(snapshot_id=first.snapshot_id).to_df(spark)
    # snapshot 1 predates the rename: old names, no 'note'
    assert "l_quantity" in old.columns and "note" not in old.columns


def test_equality_deletes(spark, warehouse, lineitem):
    cat = StaticCatalog("test", warehouse)
    t = cat.create_table(("db", "li_eq"), SCHEMA, SPEC)
    half1 = lineitem.filter(F.col("l_orderkey") % 2 == 0)
    t = W.append(t, half1)
    # delete 50 orderkeys by equality
    keys = half1.select("l_orderkey").distinct().limit(50)
    key_list = [r[0] for r in keys.collect()]
    t = W.delete_keys(t, spark, keys, ["l_orderkey"])
    got = t.scan().to_df(spark)
    exp = half1.filter(~F.col("l_orderkey").isin(key_list))
    assert got.count() == exp.count()
    assert got.filter(F.col("l_orderkey").isin(key_list)).count() == 0
    # a LATER append with one of the deleted keys is NOT affected
    resurrected = half1.filter(F.col("l_orderkey") == key_list[0])
    n_res = resurrected.count()
    t = W.append(t, resurrected)
    got2 = t.scan().to_df(spark)
    assert got2.filter(F.col("l_orderkey") == key_list[0]).count() == n_res
    # pre-delete time travel sees everything
    pre = t.metadata.snapshots[0].snapshot_id
    assert t.scan(snapshot_id=pre).to_df(spark).count() == half1.count()


def test_orc_data_files(spark, warehouse, lineitem):
    cat = StaticCatalog("test", warehouse)
    t = cat.create_table(
        ("db", "li_orc"), SCHEMA, SPEC, properties={"write.format.default": "orc"}
    )
    t = W.append(t, lineitem)
    tasks = t.scan().plan_files()
    assert all(x.file.file_format == "ORC" for x in tasks)
    assert t.scan().to_df(spark).count() == lineitem.count()
    # partition pruning still applies (identity transform on flag)
    pruned = t.scan(row_filter=E.equal_to("l_returnflag", "R")).plan_files()
    assert 0 < len(pruned) < len(tasks)
    got = t.scan(row_filter=E.equal_to("l_returnflag", "R")).to_df(spark)
    assert got.count() == lineitem.filter(F.col("l_returnflag") == "R").count()


def test_commit_conflict_detection(spark, warehouse, lineitem):
    """Optimistic concurrency: a stale writer must get CommitFailedError
    (reference enumerates ErrCommitFailed, rest.go:51-52)."""
    from icegopher_spark.iceberg.write import CommitFailedError

    cat = StaticCatalog("test", warehouse)
    t1 = cat.create_table(("db", "li_cc"), SCHEMA, PartitionSpec())
    t2 = cat.load_table("db.li_cc")  # second handle, same version
    small = lineitem.limit(100)
    W.append(t1, small)  # t1 commits v2
    with pytest.raises(CommitFailedError):
        W.append(t2, small)  # stale t2 must not clobber
    # refresh + retry succeeds
    t2.refresh()
    W.append(t2, small)
    assert cat.load_table("db.li_cc").scan().to_df(spark).count() == 200


def test_merge_upsert(spark, tmp_path, lineitem):
    t = W.create_table(str(tmp_path / "merge_tbl"), SCHEMA)
    t = W.append(t, lineitem.limit(500))
    n0 = 500
    # source: replace all lines of 5 existing orders + insert 3 new keys
    keys = [r["l_orderkey"] for r in lineitem.limit(500).select("l_orderkey").distinct().limit(5).collect()]
    replaced = lineitem.limit(500).filter(F.col("l_orderkey").isin(keys)).count()
    src = spark.createDataFrame(
        [(int(k), 999.0, "U", None) for k in keys]
        + [(10**9 + i, 1.0, "N", None) for i in range(3)],
        "l_orderkey long, l_quantity double, l_returnflag string, l_shipdate timestamp",
    )
    pre_snaps = len(t.metadata.snapshots)
    t = W.merge_upsert(t, spark, src, ["l_orderkey"])
    assert len(t.metadata.snapshots) == pre_snaps + 1  # ONE atomic snapshot
    got = t.scan().to_df(spark)
    assert got.count() == n0 - replaced + len(keys) + 3
    # updated keys now carry exactly their source rows
    upd = got.filter(F.col("l_orderkey").isin(keys))
    assert upd.count() == len(keys)
    assert {r["l_quantity"] for r in upd.collect()} == {999.0}
    # inserts present
    assert got.filter(F.col("l_orderkey") >= 10**9).count() == 3
    # time travel to pre-merge unchanged
    pre = t.scan(snapshot_id=t.metadata.snapshots[-2].snapshot_id).to_df(spark)
    assert pre.count() == n0


def test_add_files_in_place(spark, tmp_path, lineitem):
    # loose parquet written OUTSIDE the table (the 100 TB onboard case)
    loose_dir = tmp_path / "loose"
    lineitem.limit(300).coalesce(2).write.parquet(str(loose_dir))
    paths = sorted(str(p) for p in loose_dir.glob("*.parquet"))
    assert len(paths) >= 1

    t = W.create_table(str(tmp_path / "adopt_tbl"), SCHEMA)
    t = W.add_files(t, paths)
    got = t.scan().to_df(spark)
    assert got.count() == 300
    # footer stats made it into the manifest -> metrics pruning works
    full = [task.file.file_path for task in t.scan().plan_files()]
    assert sorted(full) == paths
    pruned = t.scan(row_filter=E.less_than("l_orderkey", -1)).plan_files()
    assert pruned == []
    # required-field enforcement
    bad = tmp_path / "bad"
    lineitem.select("l_quantity").limit(5).write.parquet(str(bad))
    with pytest.raises(ValueError, match="required"):
        W.add_files(t, sorted(str(p) for p in bad.glob("*.parquet")))


def test_write_distribution_modes(spark, tmp_path, lineitem):
    """none / hash / range distribution modes; sorted+partitioned writes
    must be physically sorted INSIDE each file (the sort runs after the
    distribution shuffle)."""
    import pyarrow.parquet as pq

    from icegopher_spark.iceberg.metadata import SortField, SortOrder
    from icegopher_spark.iceberg.transforms import PartitionField, PartitionSpec, parse_transform

    spec = PartitionSpec(
        fields=(PartitionField(3, 1000, "l_returnflag", parse_transform("identity")),)
    )
    order = SortOrder(order_id=1, fields=(SortField(source_id=1),))  # by l_orderkey

    def mk(mode):
        t = W.create_table(
            str(tmp_path / f"dist_{mode}"),
            SCHEMA,
            spec=spec,
            properties={"write.distribution-mode": mode},
            sort_order=order,
        )
        return W.append(t, lineitem.limit(400).repartition(4))

    for mode in ("none", "hash", "range"):
        t = mk(mode)
        tasks = t.scan().plan_files()
        assert sum(task.file.record_count for task in tasks) == 400
        # each file's l_orderkey column is non-decreasing
        for task in tasks:
            vals = pq.read_table(task.file.file_path, columns=["l_orderkey"])[
                "l_orderkey"
            ].to_pylist()
            assert vals == sorted(vals), (mode, task.file.file_path)
        if mode == "hash":
            # one file per partition value: 3 returnflags -> 3 files
            assert len(tasks) == 3


# ---- round-5 review regressions (write path) ----


def test_delete_where_keeps_null_predicate_rows(spark, tmp_path):
    """CoW delete must keep rows where the predicate is NULL — a bare
    ~cond dropped them (r5 review: silent data loss)."""
    from icegopher_spark.iceberg import expressions as E
    from icegopher_spark.iceberg.schema import Schema
    from icegopher_spark.iceberg.types import LongType, NestedField

    sch = Schema((NestedField(1, "x", LongType(), True),), schema_id=0)
    t = W.create_table(str(tmp_path / "nulldel"), sch)
    t = W.append(t, spark.createDataFrame([(1,), (None,), (2,)], "x long").coalesce(1))
    t = W.delete_where(t, spark, E.equal_to("x", 1))
    got = sorted(
        (r.x for r in t.scan().to_df(spark).collect()), key=lambda v: (v is None, v)
    )
    assert got == [2, None]  # the NULL row survives


def test_binary_upper_bound_truncation_increments():
    """A truncated binary max must still upper-bound the real value."""
    from icegopher_spark.iceberg.write import _truncate_binary_max

    assert _truncate_binary_max(b"abcdefghijklmnopqr", 16) == b"abcdefghijklmnoq"
    assert _truncate_binary_max(b"short", 16) == b"short"
    assert _truncate_binary_max(b"ab" + b"\xff" * 20, 16) == b"ac"
    assert _truncate_binary_max(b"\xff" * 20, 16) is None


def test_identity_partition_types_roundtrip(spark, tmp_path):
    """Identity partitions on timestamp/double/boolean columns must
    parse back into manifest values (r5 review: crash / silent
    bool corruption), and Hive-escaped string values must unescape."""
    import datetime as dt

    from icegopher_spark.iceberg import expressions as E
    from icegopher_spark.iceberg.schema import Schema
    from icegopher_spark.iceberg.transforms import (
        PartitionField,
        PartitionSpec,
        parse_transform,
    )
    from icegopher_spark.iceberg.types import (
        BooleanType,
        LongType,
        NestedField,
        StringType,
        TimestampType,
    )

    sch = Schema(
        (
            NestedField(1, "k", LongType(), True),
            NestedField(2, "ts", TimestampType(), False),
            NestedField(3, "flag", BooleanType(), False),
            NestedField(4, "s", StringType(), False),
        ),
        schema_id=0,
    )
    spec = PartitionSpec(
        [
            PartitionField(3, 1000, "flag_p", parse_transform("identity")),
            PartitionField(4, 1001, "s_p", parse_transform("identity")),
        ]
    )
    t = W.create_table(str(tmp_path / "idp"), sch, spec)
    rows = [
        (1, dt.datetime(2024, 1, 1, 12, 30), True, "a/b"),
        (2, dt.datetime(2024, 1, 2, 0, 0), False, "x:y"),
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp, flag boolean, s string")
    t = W.append(t, df)
    parts = {
        (task.file.partition["flag_p"], task.file.partition["s_p"])
        for task in t.scan().plan_files()
    }
    assert parts == {(True, "a/b"), (False, "x:y")}  # unescaped, real bools
    # and pruning on the unescaped value finds the row
    got = t.scan(row_filter=E.equal_to("s", "a/b")).to_df(spark).collect()
    assert [r.k for r in got] == [1]


def test_partitioned_equality_delete_scopes_to_its_partition(spark, warehouse, lineitem):
    """r6: an equality-delete file carrying a partition value applies
    ONLY to data in that (spec, partition) — sequence-only matching
    deleted matching keys in sibling partitions too."""
    import os as _os
    import uuid as _uuid

    from icegopher_spark.iceberg.manifests import DataFile, DataFileContent

    cat = StaticCatalog("test", warehouse)
    flag_spec = PartitionSpec(
        [PartitionField(3, 1000, "flag", parse_transform("identity"))]
    )
    t = cat.create_table(("db", "li_eqscope"), SCHEMA, flag_spec)
    t = W.append(t, lineitem)
    # a key present in more than one l_returnflag partition
    key = (
        lineitem.groupBy("l_orderkey")
        .agg(F.countDistinct("l_returnflag").alias("nf"))
        .filter(F.col("nf") >= 2)
        .first()["l_orderkey"]
    )
    n_total = lineitem.filter(F.col("l_orderkey") == key).count()
    n_in_a = lineitem.filter(
        (F.col("l_orderkey") == key) & (F.col("l_returnflag") == "A")
    ).count()
    assert 0 < n_in_a < n_total
    # hand-craft a partition-scoped eq-delete (partition R/F survive)
    out_dir = f"{t.location}/data/eqdel-{_uuid.uuid4().hex[:8]}"
    spark.createDataFrame([(key,)], "l_orderkey long").coalesce(1).write.mode(
        "overwrite"
    ).parquet(out_dir)
    fn = next(f for f in sorted(_os.listdir(out_dir)) if f.endswith(".parquet"))
    path = f"{out_dir}/{fn}"
    fid = t.schema.find_field("l_orderkey").field_id
    dfile = DataFile(
        file_path=path,
        content=DataFileContent.EQUALITY_DELETES,
        record_count=1,
        file_size_in_bytes=_os.path.getsize(path),
        partition={"flag": "A"},
        equality_ids=[fid],
    )
    from icegopher_spark.iceberg.manifests import read_manifest_list
    from icegopher_spark.iceberg.metadata import OP_DELETE

    keep = read_manifest_list(t.io.read(t.current_snapshot().manifest_list))
    t = W._commit_snapshot(t, [], OP_DELETE, keep_manifests=keep, delete_files=[dfile])
    got = t.scan().to_df(spark).filter(F.col("l_orderkey") == key)
    assert got.count() == n_total - n_in_a  # only partition A rows deleted
    assert got.filter(F.col("l_returnflag") == "A").count() == 0


def test_incremental_scan_survives_in_range_compaction(spark, warehouse, lineitem):
    """r6: rows appended in-range must still be delivered exactly once
    when a later in-range compaction rewrites their files, and a
    compaction must not re-deliver pre-range rows."""
    from icegopher_spark.iceberg.maintenance import compact_data_files

    cat = StaticCatalog("test", warehouse)
    t = cat.create_table(("db", "li_incr_compact"), SCHEMA, SPEC)
    t = W.append(t, lineitem.limit(500))
    from_id = t.current_snapshot().snapshot_id
    add1 = lineitem.limit(700).subtract(lineitem.limit(500))
    t = W.append(t, add1)
    t = W.append(t, lineitem.limit(900).subtract(lineitem.limit(700)))
    # compaction IN range rewrites everything into big files
    t = compact_data_files(t, spark, small_file_threshold=1 << 40)
    assert (t.current_snapshot().summary or {}).get("operation") == "replace"
    got = t.scan().incremental_to_df(spark, from_id)
    # exactly the two in-range appends, no pre-range re-delivery
    assert got.count() == 400
    in_range = lineitem.limit(900).subtract(lineitem.limit(500))
    assert got.subtract(in_range).count() == 0


def test_mor_delete_no_duplicate_positions(spark, warehouse, lineitem):
    """r6: a second MOR delete must not re-delete rows earlier deletes
    already removed — reads stayed right (idempotent anti-join) but the
    changelog double-reported them."""
    cat = StaticCatalog("test", warehouse)
    t = cat.create_table(("db", "li_mor2"), SCHEMA, SPEC)
    t = W.append(t, lineitem.limit(300))
    t = W.delete_where_mor(t, spark, E.greater_than("l_quantity", 40.0))
    n1 = lineitem.limit(300).filter(F.col("l_quantity") > 40.0).count()
    t = W.delete_where_mor(t, spark, E.greater_than("l_quantity", 30.0))
    n2 = lineitem.limit(300).filter(
        (F.col("l_quantity") > 30.0) & (F.col("l_quantity") <= 40.0)
    ).count()
    # second snapshot's delete file holds ONLY the newly-dead rows
    from icegopher_spark.iceberg.changelog import changelog_df

    snaps = [s.snapshot_id for s in t.metadata.snapshots]
    log = changelog_df(t, spark, from_snapshot_id=snaps[0], net=False)
    per = {
        r["_commit_snapshot_id"]: r["n"]
        for r in log.filter(F.col("_change_type") == "delete")
        .groupBy("_commit_snapshot_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert per.get(snaps[1], 0) == n1
    assert per.get(snaps[2], 0) == n2  # no double-reported deletes
    assert t.scan().to_df(spark).count() == 300 - n1 - n2


def test_commit_to_tag_refused(spark, warehouse, lineitem):
    """r6: tags are immutable pins — committing to one must raise, not
    silently convert it to a branch and move it."""
    from icegopher_spark.iceberg import refs

    cat = StaticCatalog("test", warehouse)
    t = cat.create_table(("db", "li_tag"), SCHEMA, SPEC)
    t = W.append(t, lineitem.limit(10))
    t = refs.create_tag(t, "v1")
    with pytest.raises(ValueError, match="is a tag"):
        W.append(t, lineitem.limit(5), branch="v1")


def test_summary_totals_exclude_delete_manifests(spark, warehouse, lineitem):
    """r6: total-data-files/total-records counted DELETES manifests."""
    cat = StaticCatalog("test", warehouse)
    t = cat.create_table(("db", "li_totals"), SCHEMA, SPEC)
    t = W.append(t, lineitem.limit(100))
    t = W.delete_keys(
        t, spark, lineitem.limit(100).select("l_orderkey").distinct().limit(3),
        ["l_orderkey"],
    )
    t = W.append(t, lineitem.limit(150).subtract(lineitem.limit(100)))
    summary = t.current_snapshot().summary
    # totals reflect DATA rows only: 100 + 50, never the delete file's keys
    assert int(summary["total-records"]) == 150


def test_parse_partition_value_decimal_uuid():
    """r6: decimal/UUID partition dir values arrived as raw strings and
    crashed literal_to_bytes at commit (str has no .scaleb)."""
    import uuid as _uuid
    from decimal import Decimal

    from icegopher_spark.iceberg.schema import Schema
    from icegopher_spark.iceberg.transforms import (
        PartitionField,
        PartitionSpec,
        parse_transform,
    )
    from icegopher_spark.iceberg.types import DecimalType, NestedField, UUIDType
    from icegopher_spark.iceberg.write import _parse_partition_value

    sch = Schema(
        (
            NestedField(1, "d", DecimalType(12, 2), True),
            NestedField(2, "u", UUIDType(), True),
        ),
        schema_id=0,
    )
    spec = PartitionSpec(
        [
            PartitionField(1, 1000, "d", parse_transform("identity")),
            PartitionField(2, 1001, "u", parse_transform("identity")),
        ]
    )
    assert _parse_partition_value("d", "12.30", spec, sch) == Decimal("12.30")
    u = "12345678-1234-5678-1234-567812345678"
    assert _parse_partition_value("u", u, spec, sch) == _uuid.UUID(u)


def test_auto_manifest_merge_on_commit(spark, tmp_path):
    """r7 verdict #4: commit.manifest-merge.enabled /
    commit.manifest.min-count-to-merge bound the manifest count under
    many small appends — without it, a 100k-commit table walks 100k
    manifests per plan. Merged entries keep their original snapshot and
    sequence ids (EXISTING status), so time travel and row lineage are
    untouched."""
    from icegopher_spark.iceberg import write as W
    from icegopher_spark.iceberg.manifests import (
        ManifestEntryStatus,
        fetch_entries,
        read_manifest_list,
    )
    from icegopher_spark.iceberg.schema import Schema
    from icegopher_spark.iceberg.types import LongType, NestedField

    sch = Schema((NestedField(1, "k", LongType(), True),), schema_id=0)
    loc = str(tmp_path / "mm")
    t = W.create_table(
        loc,
        sch,
        format_version=3,
        properties={"commit.manifest.min-count-to-merge": "8"},
    )
    n_appends = 30
    for i in range(n_appends):
        t = W.append(t, spark.range(i * 10, i * 10 + 10).selectExpr("id AS k").coalesce(1))

    manifests = read_manifest_list(t.io.read(t.current_snapshot().manifest_list))
    # bounded: merging collapses carried manifests every time the count
    # crosses the threshold; without it there would be n_appends
    assert len(manifests) < 10, f"{len(manifests)} manifests after {n_appends} appends"

    # every row exactly once
    got = sorted(r["k"] for r in t.scan().to_df(spark).collect())
    assert got == list(range(n_appends * 10))

    # merged manifests carry EXISTING entries with their ORIGINAL
    # sequence numbers (manifest.go:47-53 semantics) and preserved
    # added/existing counts
    merged = [m for m in manifests if m.existing_files_count > 0]
    assert merged, "expected at least one merged manifest"
    for m in merged:
        assert m.added_files_count == 0
        es = fetch_entries(m, t.io.read(m.manifest_path))
        assert len(es) == m.existing_files_count
        assert all(e.status == ManifestEntryStatus.EXISTING for e in es)
        assert {e.sequence_number for e in es} != {m.sequence_number}
        # v3: explicit first-row-ids survived the merge
        assert all(e.data_file.first_row_id is not None for e in es)

    # row lineage is stable: _row_id values equal position-derived ids
    # from the ORIGINAL appends (each append wrote 10 rows)
    lin = t.scan(with_lineage=True).to_df(spark)
    rid = {r["k"]: r["_row_id"] for r in lin.collect()}
    assert sorted(rid.values()) == list(range(n_appends * 10))

    # time travel to a mid-history snapshot still plans correctly
    mid = t.metadata.snapshots[10].snapshot_id  # 11th append
    assert t.scan(snapshot_id=mid).to_df(spark).count() == 11 * 10

    # opt-out respected
    t2 = W.create_table(
        str(tmp_path / "nomerge"),
        sch,
        properties={
            "commit.manifest-merge.enabled": "false",
            "commit.manifest.min-count-to-merge": "2",
        },
    )
    for i in range(5):
        t2 = W.append(t2, spark.range(i, i + 1).selectExpr("id AS k").coalesce(1))
    m2 = read_manifest_list(t2.io.read(t2.current_snapshot().manifest_list))
    assert len(m2) == 5


def test_mor_delete_spark_column_predicate(spark, warehouse, lineitem):
    """r11 verdict task #4: delete_where_mor accepts a plain Spark
    Column for predicates not expressible as bound expressions (mod
    arithmetic etc.) — rows filter distributed, no driver IN-list."""
    cat = StaticCatalog("test", warehouse)
    t = cat.create_table(("db", "li_mor_col"), SCHEMA, SPEC)
    t = W.append(t, lineitem)
    n_files = len(t.scan().plan_files())
    t = W.delete_where_mor(t, spark, F.col("l_orderkey") % 9 == 0)
    tasks = t.scan().plan_files()
    assert len(tasks) == n_files  # MOR: no rewrite
    got = t.scan().to_df(spark)
    exp = lineitem.filter(F.col("l_orderkey") % 9 != 0)
    assert got.count() == exp.count()
    # idempotent on top of prior pos-deletes: a second, wider Column
    # delete must not double-delete already-removed positions
    t = W.delete_where_mor(t, spark, F.col("l_orderkey") % 3 == 0)
    got2 = t.scan().to_df(spark)
    exp2 = lineitem.filter(
        (F.col("l_orderkey") % 9 != 0) & (F.col("l_orderkey") % 3 != 0)
    )
    assert got2.count() == exp2.count()


def test_merge_matrix_mor_full_clause_matrix(spark, warehouse, lineitem):
    """All four WHEN clauses in ONE snapshot on the MOR path: verdicts
    checked row-by-row, no data-file rewrite (original files still
    live, deletes ride a DELETES manifest)."""
    cat = StaticCatalog("test", warehouse)
    t = cat.create_table(("db", "mrgx"), SCHEMA)
    tgt = lineitem.limit(0)  # build a controlled frame instead
    tgt = (
        lineitem.sparkSession.range(0, 100)
        .selectExpr(
            "id AS l_orderkey",
            "CAST(id % 50 AS DOUBLE) AS l_quantity",
            "CASE WHEN id % 2 = 0 THEN 'A' ELSE 'R' END AS l_returnflag",
            "TIMESTAMP '1996-01-01 00:00:00' AS l_shipdate",
        )
        .withColumn("l_shipdate", F.col("l_shipdate").cast("timestamp_ntz"))
    )
    t = W.append(t, tgt)
    n_files_before = len({x.file.file_path for x in t.scan().plan_files()})
    src = (
        tgt.sparkSession.range(0, 30)
        .selectExpr(
            "id AS l_orderkey",
            "CAST(CASE WHEN id % 10 = 0 THEN -1 ELSE id END AS DOUBLE) AS l_quantity",
            "'U' AS l_returnflag",
            "TIMESTAMP '1997-01-01 00:00:00' AS l_shipdate",
        )
        .withColumn("l_shipdate", F.col("l_shipdate").cast("timestamp_ntz"))
        .unionByName(
            tgt.sparkSession.range(200, 210).selectExpr(
                "id AS l_orderkey",
                "CAST(999 AS DOUBLE) AS l_quantity",
                "'N' AS l_returnflag",
                "CAST(TIMESTAMP '1998-01-01 00:00:00' AS TIMESTAMP_NTZ) AS l_shipdate",
            )
        )
    )
    t = W.merge_matrix_mor(
        t,
        spark,
        src,
        ["l_orderkey"],
        when_matched_update={"l_quantity": "s.l_quantity * 10"},
        matched_condition="s.l_quantity >= 0",
        when_matched_delete="s.l_quantity < 0",
        when_not_matched_insert=True,
        not_matched_condition="s.l_orderkey % 2 = 0",
        when_not_matched_by_source_delete="t.l_orderkey >= 95",
    )
    got = {
        r["l_orderkey"]: (r["l_quantity"], r["l_returnflag"])
        for r in t.scan().to_df(spark).collect()
    }
    # matched deletes: 0,10,20 gone; matched updates 1..29 (others)
    assert all(k not in got for k in (0, 10, 20))
    for k in range(1, 30):
        if k % 10 != 0:
            assert got[k] == (float(k * 10), "A" if k % 2 == 0 else "R"), k
    for k in range(30, 95):
        assert got[k][0] == float(k % 50)
    assert all(k not in got for k in range(95, 100))  # by-source sweep
    for k in range(200, 210):
        assert (k in got) == (k % 2 == 0)
    # MOR: originals not rewritten — still among the live data files
    live_paths = {x.file.file_path for x in t.scan().plan_files()}
    assert len(live_paths) >= n_files_before
    with pytest.raises(ValueError, match="duplicate key"):
        W.merge_matrix_mor(t, spark, src.unionByName(src.limit(1)), ["l_orderkey"])


def test_merge_matrix_mor_v3_carries_lineage(spark, tmp_path):
    """r12 verdict task #4 (refusal lifted): on a v3 table the MERGE
    matrix must carry updated rows' _row_id with the committing
    sequence, hand inserts fresh ids, leave untouched rows' lineage
    alone, and write its delete state as deletion vectors."""
    t = W.create_table(str(tmp_path / "mrgx_v3"), SCHEMA, format_version=3)
    tgt = (
        spark.range(0, 100)
        .selectExpr(
            "id AS l_orderkey",
            "CAST(id % 50 AS DOUBLE) AS l_quantity",
            "CASE WHEN id % 2 = 0 THEN 'A' ELSE 'R' END AS l_returnflag",
            "TIMESTAMP '1996-01-01 00:00:00' AS l_shipdate",
        )
        .withColumn("l_shipdate", F.col("l_shipdate").cast("timestamp_ntz"))
        .repartition(1)
        .sortWithinPartitions("l_orderkey")
    )
    t = W.append(t, tgt)  # one sorted file: _row_id == l_orderkey
    src = (
        spark.range(0, 30)
        .selectExpr(
            "id AS l_orderkey",
            "CAST(CASE WHEN id % 10 = 0 THEN -1 ELSE id END AS DOUBLE) AS l_quantity",
            "'U' AS l_returnflag",
            "CAST(TIMESTAMP '1997-01-01 00:00:00' AS TIMESTAMP_NTZ) AS l_shipdate",
        )
        .unionByName(
            spark.range(200, 204).selectExpr(
                "id AS l_orderkey",
                "CAST(999 AS DOUBLE) AS l_quantity",
                "'N' AS l_returnflag",
                "CAST(TIMESTAMP '1998-01-01 00:00:00' AS TIMESTAMP_NTZ) AS l_shipdate",
            )
        )
    )
    t = W.merge_matrix_mor(
        t,
        spark,
        src,
        ["l_orderkey"],
        when_matched_update={"l_quantity": "s.l_quantity * 10"},
        matched_condition="s.l_quantity >= 0",
        when_matched_delete="s.l_quantity < 0",
        when_not_matched_insert=True,
        not_matched_condition="s.l_orderkey % 2 = 0",
        when_not_matched_by_source_delete="t.l_orderkey >= 95",
    )
    rows = {
        r["l_orderkey"]: (r["_row_id"], r["_last_updated_sequence_number"])
        for r in t.scan(with_lineage=True).to_df(spark).collect()
    }
    # matched deletes (0,10,20) and by-source sweep (95..99) are gone
    assert all(k not in rows for k in (0, 10, 20, 95, 96, 97, 98, 99))
    for k in range(1, 30):
        if k % 10 != 0:  # updated: id carried, sequence bumped to 2
            assert rows[k] == (k, 2), (k, rows[k])
    for k in range(30, 95):  # untouched: id and sequence unchanged
        assert rows[k] == (k, 1), (k, rows[k])
    ins_ids = sorted(rows[k][0] for k in (200, 202))
    assert ins_ids == [100, 101], ins_ids  # fresh ids after the 100 rows
    assert rows[200][1] == 2 and rows[202][1] == 2
    # delete state rode deletion vectors, never v2 positional files
    dels = [
        d
        for task in t.scan().plan_files()
        for d in task.delete_files
    ]
    assert dels and all(d.is_deletion_vector for d in dels)
    # second merge on the merged table: carried ids survive another hop
    src2 = spark.createDataFrame(
        [(31, 1.0, "Z", None)],
        "l_orderkey long, l_quantity double, l_returnflag string, l_shipdate timestamp_ntz",
    ).withColumn(
        "l_shipdate",
        F.lit("1999-01-01 00:00:00").cast("timestamp_ntz"),
    )
    t = W.merge_matrix_mor(t, spark, src2, ["l_orderkey"])
    rows2 = {
        r["l_orderkey"]: (r["_row_id"], r["_last_updated_sequence_number"])
        for r in t.scan(with_lineage=True).to_df(spark).collect()
    }
    assert rows2[31] == (31, 3), rows2[31]  # re-updated: id stable, seq 3
    assert rows2[32] == (32, 1)  # untouched keeps surviving
    assert rows2[1] == (1, 2)  # first merge's update file untouched


def test_merge_matrix_mor_v3_refuses_non_parquet_output(spark, tmp_path, lineitem):
    t = W.create_table(
        str(tmp_path / "mrgx_v3_orc"),
        SCHEMA,
        format_version=3,
        properties={"write.format.default": "orc"},
    )
    with pytest.raises(ValueError, match="parquet"):
        W.merge_matrix_mor(t, spark, lineitem.limit(1), ["l_orderkey"])


def test_orc_and_avro_writes_produce_manifest_stats(spark, tmp_path):
    """r12 verdict task #5: ORC/Avro appends must feed the same
    manifest stats surface parquet footers do — per-file value/null/NaN
    counts and single-value-serde bounds (produced by ONE distributed
    aggregation over the written files) — and those bounds must drive
    manifest pruning."""
    from icegopher_spark.iceberg import expressions as E
    from icegopher_spark.iceberg.schema import Schema as _S
    from icegopher_spark.iceberg.types import DoubleType as _D, LongType as _L

    schema = _S(
        (
            NestedField(1, "k", _L(), True),
            NestedField(2, "v", _D(), False),
        ),
        schema_id=0,
    )
    df = spark.range(0, 1000).selectExpr(
        "id AS k",
        # one NaN at k=7, one NULL at k=13 — both must be counted
        "CASE WHEN id = 7 THEN CAST('NaN' AS DOUBLE) "
        "WHEN id = 13 THEN CAST(NULL AS DOUBLE) "
        "ELSE CAST(id AS DOUBLE) / 7 END AS v",
    )
    for fmt in ("orc", "avro"):
        t = W.create_table(
            str(tmp_path / f"stats_{fmt}"),
            schema,
            properties={"write.format.default": fmt},
        )
        t = W.append(t, df.repartitionByRange(4, "k"))
        files = sorted(
            (x.file for x in t.scan().plan_files()),
            key=lambda f: f.lower_bounds[1],
        )
        assert len(files) == 4 and files[0].file_format == fmt.upper()
        total_vc = sum(f.value_counts[2] for f in files)
        total_null = sum(f.null_value_counts[2] for f in files)
        total_nan = sum(f.nan_value_counts[2] for f in files)
        assert (total_vc, total_null, total_nan) == (1000, 1, 1), fmt
        # first file owns keys [0, 250): its k bounds say so
        from icegopher_spark.iceberg.literals import literal_from_bytes

        lo = literal_from_bytes(files[0].lower_bounds[1], _L()).value
        hi = literal_from_bytes(files[0].upper_bounds[1], _L()).value
        assert lo == 0 and hi < 1000, (fmt, lo, hi)
        # point lookup prunes to exactly one file on the bounds
        assert len(t.scan(row_filter=E.equal_to("k", 5)).plan_files()) == 1, fmt
        # and never over-prunes: the NaN row still comes back for v > 0
        got = t.scan(row_filter=E.greater_than("k", 5)).to_df(spark)
        assert got.count() == 994, fmt


def test_orc_tz_bounds_are_utc_on_non_utc_host(tmp_path):
    """r13 review finding: the ORC/Avro stats pass must not round
    timestamptz bounds through PySpark's collect() datetimes (naive
    OS-LOCAL wall times — _bound_value would re-interpret them as
    UTC). Run the scenario in a subprocess pinned to a non-UTC OS
    timezone and check the manifest bound is the true UTC micros."""
    import os
    import subprocess
    import sys

    script = f"""
import sys, datetime
sys.path.insert(0, "/root/repo")
from icegopher_spark.session import get_spark
from icegopher_spark.iceberg import write as W
from icegopher_spark.iceberg.schema import Schema
from icegopher_spark.iceberg.types import NestedField, LongType, TimestampTzType
from icegopher_spark.iceberg.literals import literal_from_bytes
spark = get_spark("tzcheck")
spark.conf.set("spark.sql.session.timeZone", "UTC")
sch = Schema((NestedField(1, "k", LongType(), True),
              NestedField(2, "ts", TimestampTzType(), False)), schema_id=0)
df = spark.sql("SELECT CAST(1 AS LONG) AS k, TIMESTAMP '2026-01-01 12:00:00' AS ts")
t = W.create_table({str(tmp_path / 'tz_orc')!r}, sch,
                   properties={{"write.format.default": "orc"}})
t = W.append(t, df)
f = [x.file for x in t.scan().plan_files()][0]
lo = literal_from_bytes(f.lower_bounds[2], TimestampTzType()).value
exp = int(datetime.datetime(2026, 1, 1, 12,
          tzinfo=datetime.timezone.utc).timestamp() * 1_000_000)
assert lo == exp, ("bound drifted by OS timezone", lo, exp)
print("TZBOUND-OK")
"""
    env = {**os.environ, "TZ": "America/New_York"}
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        env=env,
        timeout=300,
    )
    assert out.returncode == 0 and "TZBOUND-OK" in out.stdout, out.stderr[-2000:]
