"""Regression tests for the round-1 ADVICE findings.

Each test pins one of the five fixes:
  1. day/hour-partitioned writes round-trip (DayTransform emits DATE
     dirs; the partition-dir parser accepts both ISO and legacy int).
  2. expire_snapshots deletes files only AFTER the metadata commit
     succeeds — a failed CAS leaves every referenced file intact.
  3. orphan_files age threshold (covered in test_maintenance.py).
  4. temporal transform Spark columns agree with the Python apply()
     path for pre-1970 values and under a non-UTC session timezone.
  5. string upper-bound truncation carries past U+10FFFF correctly.
"""

from datetime import date, datetime, timezone

import pytest
from pyspark.sql import functions as F

from icegopher_spark.iceberg import maintenance as M
from icegopher_spark.iceberg import write as W
from icegopher_spark.iceberg.schema import Schema
from icegopher_spark.iceberg.transforms import (
    PartitionField,
    PartitionSpec,
    parse_transform,
)
from icegopher_spark.iceberg.types import (
    DateType,
    DoubleType,
    LongType,
    NestedField,
    StringType,
    TimestampType,
)

SF_DIR = "/root/testdata/sf0.001"

SCHEMA = Schema(
    (
        NestedField(1, "l_orderkey", LongType(), True),
        NestedField(2, "l_quantity", DoubleType(), False),
        NestedField(4, "l_shipdate", TimestampType(), False),
    ),
    schema_id=0,
)


@pytest.fixture(scope="module")
def lineitem(spark):
    return spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey",
        "l_quantity",
        F.col("l_shipdate").cast("timestamp_ntz").alias("l_shipdate"),
    )


def _mk(tmp_path, transform_name, lineitem):
    spec = PartitionSpec(
        [PartitionField(4, 1000, f"ts_{transform_name}", parse_transform(transform_name))]
    )
    t = W.create_table(str(tmp_path / f"t_{transform_name}"), SCHEMA, spec=spec)
    return W.append(t, lineitem.limit(300))


@pytest.mark.parametrize("transform_name", ["day", "month", "year", "hour"])
def test_temporal_partitioned_write_roundtrip(spark, tmp_path, lineitem, transform_name):
    # ADVICE#1 (high): day-partitioned append crashed in
    # _parse_partition_value before the fix. Round-trip all four.
    t = _mk(tmp_path, transform_name, lineitem)
    got = t.scan().to_df(spark)
    assert got.count() == 300
    # second append exercises the manifest merge over parsed partitions
    t = W.append(t, lineitem.limit(50))
    assert t.scan().to_df(spark).count() == 350


def test_day_partition_dirs_are_iso_dates(tmp_path, lineitem):
    t = _mk(tmp_path, "day", lineitem)
    files = [e.file.file_path for e in t.scan().plan_files()]
    assert files
    for p in files:
        seg = [s for s in p.split("/") if s.startswith("ts_day=")]
        assert seg, p
        # ISO dir, not an int ordinal like ts_day=18262
        date.fromisoformat(seg[0].split("=", 1)[1])


def test_legacy_int_day_dirs_still_parse():
    # _parse_partition_value falls back to epoch-day ints for tables
    # written by the pre-fix layout.
    spec = PartitionSpec([PartitionField(4, 1000, "ts_day", parse_transform("day"))])
    v_iso = W._parse_partition_value("ts_day", "2020-01-01", spec, SCHEMA)
    v_int = W._parse_partition_value("ts_day", "18262", spec, SCHEMA)
    assert v_iso == v_int == 18262


def test_expire_snapshots_failed_commit_deletes_nothing(spark, tmp_path, lineitem, monkeypatch):
    # ADVICE#2: files must survive a lost CAS race.
    t = _mk(tmp_path, "day", lineitem)
    t = W.append(t, lineitem.limit(50))
    before = [f.path for f in t.io.list_prefix(t.metadata.location)]

    def boom(*a, **k):
        raise W.CommitFailedError("concurrent commit")

    # expire commits through write.commit_metadata_update now (r6:
    # catalog-pointer routing), so patch the seam it actually uses
    monkeypatch.setattr(W, "_commit_metadata", boom)
    with pytest.raises(W.CommitFailedError):
        M.expire_snapshots(t, retain_last=1, delete_files=True)
    after = [f.path for f in t.io.list_prefix(t.metadata.location)]
    missing = set(before) - set(after)
    assert not missing, f"files deleted despite failed commit: {missing}"


@pytest.mark.parametrize(
    "transform_name,source_type",
    [
        ("year", TimestampType()),
        ("month", TimestampType()),
        ("day", TimestampType()),
        ("hour", TimestampType()),
        ("year", DateType()),
        ("month", DateType()),
        ("day", DateType()),
    ],
)
def test_temporal_to_column_matches_apply(spark, transform_name, source_type):
    # ADVICE#4: Spark-side to_column and Python apply() must agree,
    # including pre-1970 (negative ordinal floor, not truncation) and
    # under a non-UTC session timezone.
    tf = parse_transform(transform_name)
    stamps = [
        datetime(1969, 12, 31, 23, 30, tzinfo=timezone.utc),
        datetime(1969, 6, 15, 1, 2, 3, tzinfo=timezone.utc),
        datetime(1970, 1, 1, 0, 0, tzinfo=timezone.utc),
        datetime(2024, 2, 29, 23, 59, 59, tzinfo=timezone.utc),
        datetime(1999, 12, 31, 23, 0, tzinfo=timezone.utc),
    ]
    if isinstance(source_type, DateType):
        rows = [(d.date(),) for d in stamps]
        # apply() takes epoch-day ordinals for date sources
        values = [(d.date() - date(1970, 1, 1)).days for d in stamps]
        spark_type = "date"
    else:
        rows = [(d.replace(tzinfo=None),) for d in stamps]
        values = [int(d.timestamp() * 1_000_000) for d in stamps]
        spark_type = "timestamp_ntz"

    expected = [tf.apply(v, source_type) for v in values]

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        df = spark.createDataFrame(rows, f"v {spark_type}")
        got = [r[0] for r in df.select(tf.to_column(F.col("v"), source_type)).collect()]
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)

    if transform_name == "day":
        # result surfaces as a DATE column; compare as epoch days
        got = [(g - date(1970, 1, 1)).days for g in got]
    assert got == expected


def test_truncate_string_max_carry():
    # ADVICE#5: increment walks backward past U+10FFFF and skips
    # surrogate code points instead of raising.
    f = W._truncate_string_max
    assert f("abcdef", 3) == "abd"
    # last char not incrementable → carry into the previous one
    s = "ab" + chr(0x10FFFF)
    assert f(s + "tail", 3) == "ac"
    # every char maxed → no representable upper bound
    allmax = chr(0x10FFFF) * 4
    assert f(allmax + "x", 4) is None
    # increment would land in the surrogate range → skip to U+E000
    s2 = "a" + chr(0xD7FF)
    assert f(s2 + "zz", 2) == "a" + chr(0xE000)
    bounded = f("zebra-zulu-zanzibar", 5)
    assert bounded is not None and bounded > "zebra-zulu-zanzibar"[:5]


def test_bound_value_maxed_string_returns_none():
    v = chr(0x10FFFF) * (W._TRUNC_LEN + 4)
    assert W._bound_value(v, StringType(), upper=True) is None
    # lower bound still plain truncation
    assert W._bound_value(v, StringType(), upper=False) is not None


def test_hour_transform_rejects_date_column():
    """ADVICE r2: HourTransform.to_column on a DATE source must raise
    the same clear TypeError as apply()'s _from_days, not an opaque
    AnalysisException from unix_micros on a DATE column."""
    import pytest
    from pyspark.sql import functions as F

    from icegopher_spark.iceberg.transforms import HourTransform
    from icegopher_spark.iceberg.types import DateType

    with pytest.raises(TypeError, match="hour transform not valid"):
        HourTransform().to_column(F.col("d"), DateType())


# ---- round-4 ADVICE fixes (applied round-5) ----


def test_curation_negative_ids_get_real_buckets(spark):
    """pmod bucketing: a negative doc_id must land in [0, 2^32) and be
    subject to the rate filter — Spark's sign-preserving % made every
    negative bucket pass any `< threshold` test (always kept)."""
    from icegopher_spark.operators import curation

    df = spark.createDataFrame(
        [(-5, "en"), (-900000006, "en"), (7, "en")], "doc_id long, lang string"
    )
    # rate 0: NOTHING may survive, negative ids included
    assert curation.weighted_sample(df, {"en": 0.0}).count() == 0
    # split assignment is still total (every id gets a split)
    out = curation.assign_splits(df)
    assert out.count() == 3
    assert all(r["split"] in ("train", "val", "test") for r in out.collect())


def test_retention_cohorts_no_ambiguous_self_join(spark):
    """retention_cohorts joins derived-from-same-source frames on
    RENAMED columns; the result must be correct under
    failAmbiguousSelfJoin (no plan-id rescue)."""
    import datetime as dt

    from icegopher_spark.operators import timeseries as TS

    rows = [
        (1, dt.datetime(2024, 1, 1, 9)),
        (1, dt.datetime(2024, 1, 8, 9)),   # day 7
        (2, dt.datetime(2024, 1, 1, 12)),  # no return
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {r["cohort_day"].date(): r for r in TS.retention_cohorts(ev, (7,)).collect()}
    r = got[dt.date(2024, 1, 1)]
    assert r["n_users"] == 2 and r["n_day7"] == 1


def test_half_built_fixture_cache_self_heals(spark, tmp_path, monkeypatch):
    """r6 review: a crash mid-build left a loadable-but-partial fixture
    table that the old snapshot-count checks accepted forever (expire's
    1-snapshot check matched the pre-overwrite state). The validation
    must reject the partial state and rebuild."""
    from icegopher_spark import iceberg_queries as IQ
    from icegopher_spark.iceberg.metadata import OP_OVERWRITE

    monkeypatch.setattr(IQ, "_CACHE_ROOT", str(tmp_path))
    # simulate the crash: append committed, overwrite+expire never ran
    key = SF_DIR.strip("/").replace("/", "_")
    loc = f"{tmp_path}/{key}/lineitem_expire"
    li = IQ._li4(spark, SF_DIR)
    t = W.create_table(loc, IQ._SCHEMA)
    W.append(t, li.filter(F.col("l_orderkey") % 2 == 0))

    healed = IQ._expired_table_for(spark, SF_DIR)
    assert len(healed.metadata.snapshots) == 1
    assert healed.metadata.snapshots[0].summary.get("operation") == OP_OVERWRITE
    # and it serves the odd keys the gate expects, not the stale evens
    keys = [r[0] for r in healed.scan().to_df(spark).select("l_orderkey").limit(50).collect()]
    assert keys and all(k % 2 == 1 for k in keys)


def test_fixture_commit_timestamps_distinct(spark, tmp_path, monkeypatch):
    """r6 review: timestamp-as-of(first.ts) resolves to the SECOND
    snapshot when both appends share a millisecond; the builder must
    force distinct commit timestamps."""
    from icegopher_spark import iceberg_queries as IQ

    monkeypatch.setattr(IQ, "_CACHE_ROOT", str(tmp_path))
    t = IQ._table_for(spark, SF_DIR)
    s1, s2 = t.metadata.snapshots
    assert s1.timestamp_ms < s2.timestamp_ms
    assert t.metadata.snapshot_as_of(s1.timestamp_ms).snapshot_id == s1.snapshot_id


def test_fileio_dir_ops_local(tmp_path):
    """r7 advice #1: density-cache cleanup must route through the
    table's io abstraction. LocalFileIO grows list_dir/remove_dir with
    missing-path tolerance (the cleanup is best-effort by contract)."""
    from icegopher_spark.iceberg.io import LocalFileIO

    io = LocalFileIO()
    d = tmp_path / "cache" / "density-1.parquet"
    d.mkdir(parents=True)
    (d / "part-0.parquet").write_bytes(b"x")
    assert io.list_dir(str(tmp_path / "cache")) == ["density-1.parquet"]
    # scheme-prefixed local path resolves too
    assert io.list_dir(f"file://{tmp_path}/cache") == ["density-1.parquet"]
    io.remove_dir(str(d))
    assert not d.exists()
    # missing paths: empty listing, silent remove
    assert io.list_dir(str(tmp_path / "nope")) == []
    io.remove_dir(str(tmp_path / "nope"))


def test_incremental_probe_unpersists_previous(spark, tmp_path):
    """r7 advice #3: repeated incremental probes must not accumulate
    cached blocks — each call unpersists the previous call's persisted
    band entries (one slot per index)."""
    from icegopher_spark import session_cache
    from icegopher_spark.operators import dedup as D

    loc = str(tmp_path / "idx")
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"), (2, "alpha beta gamma delta zeta")],
        "doc_id long, text string",
    )
    table = D.minhash_index_write(spark, corpus.filter("doc_id = 1"), loc)
    new = corpus.filter("doc_id = 2")
    slot = ("minhash_probe", table.location)
    r1 = D.minhash_dedup_incremental(spark, table, new, corpus)
    assert len(session_cache.held(spark, slot)) == 1
    first = session_cache.held(spark, slot)[0]
    assert first.storageLevel.useMemory
    r2 = D.minhash_dedup_incremental(spark, table, new, corpus)
    # previous probe's cache was released; current one took its slot
    assert not first.storageLevel.useMemory
    assert len(session_cache.held(spark, slot)) == 1
    assert session_cache.held(spark, slot)[0] is not first
    # unpersist is correctness-safe: the earlier result still computes
    assert r1.count() == r2.count()


def test_oversized_float_on_decimal_binds_to_typed_error():
    """r8 advice #1: a float literal whose decimal expansion exceeds
    the quantize precision (1e100 on decimal(4,2)) must surface the
    cast path's typed ValueError, not a raw decimal.InvalidOperation
    out of _floor_split."""
    import decimal

    from icegopher_spark.iceberg.expressions import (
        equal_to,
        greater_than,
        is_in,
        less_than,
    )
    from icegopher_spark.iceberg.schema import Schema
    from icegopher_spark.iceberg.types import DecimalType, NestedField

    sch = Schema((NestedField(1, "d", DecimalType(4, 2), False),), schema_id=0)
    for mk in (
        lambda: less_than("d", 1e100),
        lambda: greater_than("d", 1e100),
        lambda: equal_to("d", 1e100),
        lambda: is_in("d", 1e100, 0.25),
    ):
        try:
            mk().bind(sch)
        except ValueError as e:
            assert "cannot cast" in str(e)
        except decimal.InvalidOperation:
            pytest.fail("raw decimal.InvalidOperation leaked out of bind()")
        else:
            pytest.fail("expected typed ValueError for oversized literal")
