"""The scan's handoff to Spark: ``TableScan.to_df`` builds its frame in
a fixed number of py4j calls, a tiny scan plans as one partition, and
positional deletes are read with their fixed schema (no Spark job)."""

from __future__ import annotations

from pyspark.sql import functions as F

from icegopher_spark.iceberg import expressions as E
from icegopher_spark.iceberg import write as W
from icegopher_spark.iceberg.schema import Schema
from icegopher_spark.iceberg.types import LongType, NestedField
from icegopher_spark.session import py4j_calls


def _wide_table(spark, path, n_cols):
    schema = Schema(
        tuple(NestedField(i + 1, f"c{i}", LongType(), False) for i in range(n_cols)),
        schema_id=0,
    )
    t = W.create_table(str(path), schema)
    rows = spark.range(20).select(*[(F.col("id") + i).alias(f"c{i}") for i in range(n_cols)])
    return W.append(t, rows.coalesce(1))


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_to_df_round_trips_do_not_grow_with_columns(spark, tmp_path):
    """A table read in its written schema is handed over without a
    projection, so 64 columns cost the py4j calls that 4 do."""
    _wide_table(spark, tmp_path / "warm", 2).scan().to_df(spark)  # one-time py4j setup
    calls = {}
    for n in (4, 64):
        t = _wide_table(spark, tmp_path / f"w{n}", n)
        scan = t.scan()
        tasks = scan.plan_files()
        with py4j_calls(spark) as c:
            df = scan.to_df(spark, tasks)
        calls[n] = c[0]
        assert df.columns == [f"c{i}" for i in range(n)]
        assert df.agg(F.sum(f"c{n - 1}")).collect()[0][0] == sum(range(n - 1, n + 19))
    assert calls[4] == calls[64], calls


def test_small_scan_plans_no_exchange(spark, tmp_path):
    """Data files within ``spark.sql.files.openCostInBytes`` read as one
    partition, so an aggregate over them plans no shuffle; below the
    scan's size the Exchange is back."""
    t = _wide_table(spark, tmp_path / "t", 4)
    for _ in range(2):
        t = W.append(t, spark.range(20).select(*[F.col("id").alias(f"c{i}") for i in range(4)]))
    tasks = t.scan().plan_files()
    assert len(tasks) > 1

    def plan() -> str:
        return _physical_plan(t.scan().to_df(spark, tasks).agg(F.count(F.lit(1))))

    assert "Exchange" not in plan()
    assert t.scan().to_df(spark, tasks).count() == 60
    key = "spark.sql.files.openCostInBytes"
    spark.conf.set(key, str(sum(task.file.file_size_in_bytes for task in tasks) - 1))
    try:
        assert "Exchange" in plan()
        assert t.scan().to_df(spark, tasks).rdd.getNumPartitions() > 1
    finally:
        spark.conf.unset(key)


def test_positional_delete_to_df_starts_no_job(spark, tmp_path):
    """A scan carrying V2 positional-delete files builds its frame
    without a Spark job (no schema inference over the delete files),
    and its rows are the live ones."""
    schema = Schema(
        (NestedField(1, "k", LongType(), True), NestedField(2, "v", LongType(), False)),
        schema_id=0,
    )
    t = W.create_table(str(tmp_path / "t"), schema)
    t = W.append(t, spark.range(50).select(F.col("id").alias("k"), F.col("id").alias("v")))
    t = W.delete_where_mor(t, spark, E.is_in("k", 3, 7, 40))
    scan = t.scan()
    tasks = scan.plan_files()
    assert any(task.delete_files for task in tasks)

    sc = spark.sparkContext
    group = f"to-df-{tmp_path.name}"
    sc.setJobGroup(group, "to_df")
    try:
        df = scan.to_df(spark, tasks)
    finally:
        sc.setJobGroup("idle", "idle")
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert sorted(r["k"] for r in df.collect()) == sorted(set(range(50)) - {3, 7, 40})
