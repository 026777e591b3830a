"""plan_files_distributed must produce exactly the serial planner's
task set — under partition pruning, stats pruning, MOR and equality
deletes, deletion vectors and partition-spec evolution."""

import pytest
from pyspark.sql import functions as F

from icegopher_spark.iceberg import expressions as E
from icegopher_spark.iceberg import write as W
from icegopher_spark.iceberg.schema import Schema
from icegopher_spark.iceberg.transforms import PartitionField, PartitionSpec, parse_transform
from icegopher_spark.iceberg.types import DoubleType, LongType, NestedField, StringType

SF_DIR = "/root/testdata/sf0.001"

SCHEMA = Schema(
    (
        NestedField(1, "l_orderkey", LongType(), True),
        NestedField(2, "l_quantity", DoubleType(), False),
        NestedField(3, "l_returnflag", StringType(), False),
    ),
    schema_id=0,
)


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("distplan")
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    spec = PartitionSpec([PartitionField(3, 1000, "flag", parse_transform("identity"))])
    t = W.create_table(str(tmp / "tbl"), SCHEMA, spec=spec)
    t = W.append(t, li.filter(F.col("l_orderkey") % 2 == 0))
    t = W.append(t, li.filter(F.col("l_orderkey") % 2 == 1))
    t = W.delete_where_mor(t, spark, E.less_than("l_quantity", 3.0))
    return t


def _task_key(t):
    return (
        t.file.file_path,
        tuple(sorted((d.file_path, d.content_offset or 0) for d in t.delete_files)),
        tuple(sorted(d.file_path for d in t.eq_delete_files)),
        t.schema_id,
        t.spec_id,
        t.sequence_number,
        t.start,
        t.length,
    )


def _assert_same_plan(spark, scan):
    serial = scan.plan_files()
    dist = scan.plan_files_distributed(spark)
    assert sorted(map(_task_key, dist)) == sorted(map(_task_key, serial))
    return serial


@pytest.mark.parametrize(
    "row_filter",
    [
        None,
        E.equal_to("l_returnflag", "R"),
        E.less_than("l_quantity", 5.0) & E.equal_to("l_returnflag", "A"),
        E.greater_than("l_orderkey", 10**9),  # prunes everything via stats
    ],
    ids=["full", "partition", "partition+stats", "none-match"],
)
def test_distributed_matches_serial(spark, table, row_filter):
    kwargs = {"row_filter": row_filter} if row_filter is not None else {}
    _assert_same_plan(spark, table.scan(**kwargs))


def test_distributed_time_travel(spark, table):
    first = table.metadata.snapshots[0].snapshot_id
    assert len(_assert_same_plan(spark, table.scan(snapshot_id=first))) > 0


@pytest.fixture(scope="module")
def evolved_table(spark, tmp_path_factory):
    """Equality deletes (applying to earlier files only), deletion
    vectors and files under two partition specs."""
    from icegopher_spark.iceberg.evolve import update_spec

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    t = W.create_table(
        str(tmp_path_factory.mktemp("distplan_evo") / "tbl"), SCHEMA, format_version=3
    )
    t = W.append(t, li.filter(F.col("l_orderkey") % 3 == 0))
    t = update_spec(t).add_field("l_returnflag", "identity", name="flag").commit()
    t = W.append(t, li.filter(F.col("l_orderkey") % 3 == 1))
    t = W.delete_keys(t, spark, li.select("l_orderkey").limit(20), ["l_orderkey"])
    t = W.append(t, li.filter(F.col("l_orderkey") % 3 == 2))
    return W.delete_where_dv(t, spark, E.less_than("l_quantity", 3.0))


@pytest.mark.parametrize(
    "row_filter",
    [None, E.equal_to("l_returnflag", "R"), E.less_than("l_orderkey", 100)],
    ids=["full", "partition", "stats"],
)
def test_distributed_matches_serial_eq_deletes_and_spec_evolution(
    spark, evolved_table, row_filter
):
    kwargs = {"row_filter": row_filter} if row_filter is not None else {}
    serial = _assert_same_plan(spark, evolved_table.scan(**kwargs))
    if row_filter is None:
        assert {x.spec_id for x in serial} == {0, 1}
        assert any(x.eq_delete_files for x in serial)
        assert any(not x.eq_delete_files for x in serial)  # appended after
        assert any(d.is_deletion_vector for x in serial for d in x.delete_files)
