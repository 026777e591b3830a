"""SparkSession factory tuned for the local[32] test harness.

At cluster scale the same settings apply except master/memory: AQE on,
shuffle partitions sized to cores, Arrow enabled for the Pandas-UDF
extension kernels, UTC session time zone so timestamps compare cleanly
against external oracles.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "icegopher_spark", cpus: str | None = None) -> SparkSession:
    cpus = cpus or _DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # NOT the full 128 GiB: Tungsten sizes execution-memory pages off
        # the heap, and with a ~90g heap 32 concurrent tiny hash-agg
        # tasks each pre-allocate/zero huge pages — measured 7× slower
        # than a right-sized heap on the bench suite. 16g is ample for
        # sf0.1 (~25 MB of parquet).
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        # Python DataSource filter pushdown (iceberg/dsv2.py prunes
        # files with pushed filters; rows still filtered by Spark)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # µs-precision parquet timestamps (the spec-standard physical
        # type); the INT96 legacy default decodes as Timestamp(NANOS)
        # through Arrow and every pyarrow-side reader must then cast
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    )
    spark = builder.getOrCreate()
    # getOrCreate returns a PRE-EXISTING session unchanged, silently
    # dropping every .config() above — and some of those are
    # correctness-load-bearing, not tuning (UTC session timezone keeps
    # timestamp casts oracle-comparable; filterPushdown gates the DSv2
    # pushFilters contract). Re-apply the runtime-settable SQL confs on
    # whatever session we got; static confs (master, driver.memory)
    # genuinely can't change post-hoc and stay best-effort.
    for k, v in (
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.shuffle.partitions", str(cpus)),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        ("spark.sql.autoBroadcastJoinThreshold", "64m"),
        ("spark.sql.optimizer.nestedSchemaPruning.enabled", "true"),
        ("spark.sql.python.filterPushdown.enabled", "true"),
        ("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"),
    ):
        spark.conf.set(k, v)
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def py4j_calls(spark: SparkSession):
    """Count the driver's py4j round trips inside the block: yields a
    one-element list whose item is the running count. Classic (py4j)
    sessions only; the count is process-wide, not per thread."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = [0]

    def counting(*args, **kwargs):
        calls[0] += 1
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        yield calls
    finally:
        del client.send_command
