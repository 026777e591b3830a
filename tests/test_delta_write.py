"""Delta writer: append/overwrite snapshot isolation, commit races,
checkpoint self-sufficiency, partition serialization edge cases."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from icegopher_spark.delta import load_delta, read_delta, vacuum_candidates
from icegopher_spark.delta_write import (
    append_delta,
    create_delta_table,
    overwrite_delta,
    write_checkpoint,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string, p string")


@pytest.fixture()
def table(spark, tmp_path):
    loc = str(tmp_path / "t")
    create_delta_table(loc, _df(spark, []).schema, ["p"])
    return loc


def test_append_and_read_back(spark, table):
    append_delta(spark, table, _df(spark, [(1, "a", "x"), (2, "b", "y")]))
    append_delta(spark, table, _df(spark, [(3, "c", "x")]))
    got = sorted(
        (r["k"], r["v"], r["p"]) for r in read_delta(spark, table).collect()
    )
    assert got == [(1, "a", "x"), (2, "b", "y"), (3, "c", "x")]
    # partition pruning sees the writer's partitionValues
    x_only = read_delta(spark, table, partition_filter=lambda pv: pv["p"] == "x")
    assert sorted(r["k"] for r in x_only.collect()) == [1, 3]


def test_overwrite_is_snapshot_isolated(spark, table):
    v1 = append_delta(spark, table, _df(spark, [(1, "a", "x")]))
    v2 = overwrite_delta(spark, table, _df(spark, [(9, "z", "y")]))
    assert [r["k"] for r in read_delta(spark, table).collect()] == [9]
    assert [r["k"] for r in read_delta(spark, table, version=v1).collect()] == [1]
    assert v2 == v1 + 1


def test_commit_race_one_winner(spark, table):
    """Two writers that both resolved 'next version = 2' (the race the
    protocol's put-if-absent log store exists for): exactly one wins."""
    from icegopher_spark.delta_write import _commit

    append_delta(spark, table, _df(spark, [(1, "a", "x")]))
    _commit(table, 2, [])  # writer A claims version 2
    with pytest.raises(FileExistsError):
        _commit(table, 2, [])  # writer B must lose, not overwrite
    # a writer that re-plans from the log proceeds normally
    assert append_delta(spark, table, _df(spark, [(2, "b", "x")])) == 3


def test_checkpoint_makes_json_vacuumable(spark, table):
    append_delta(spark, table, _df(spark, [(1, "a", "x"), (2, "b", "y")]))
    v = append_delta(spark, table, _df(spark, [(3, "c", "x")]))
    write_checkpoint(table, v)
    for old in range(v + 1):
        os.remove(os.path.join(table, "_delta_log", f"{old:020d}.json"))
    got = sorted(r["k"] for r in read_delta(spark, table).collect())
    assert got == [1, 2, 3]
    # and the table keeps accepting appends after the log was truncated
    append_delta(spark, table, _df(spark, [(4, "d", "y")]))
    assert read_delta(spark, table).count() == 4


def test_null_partition_value_roundtrip(spark, table):
    append_delta(spark, table, _df(spark, [(1, "a", None), (2, "b", "x")]))
    rows = {r["k"]: r["p"] for r in read_delta(spark, table).collect()}
    assert rows == {1: None, 2: "x"}


def test_unpartitioned_table(spark, tmp_path):
    loc = str(tmp_path / "flat")
    df = spark.createDataFrame([(1, 2.5)], "k long, x double")
    create_delta_table(loc, df.schema)
    append_delta(spark, loc, df)
    [r] = read_delta(spark, loc).collect()
    assert (r["k"], r["x"]) == (1, 2.5)


def test_partition_type_refused(spark, tmp_path):
    df = spark.createDataFrame([(1.5, "a")], "x double, v string")
    with pytest.raises(NotImplementedError, match="partition column"):
        create_delta_table(str(tmp_path / "bad"), df.schema, ["x"])


def test_append_missing_column_rejected(spark, table):
    with pytest.raises(ValueError, match="missing table columns"):
        append_delta(spark, table, spark.createDataFrame([(1,)], "k long"))


def test_writer_output_vacuums_cleanly(spark, table):
    append_delta(spark, table, _df(spark, [(1, "a", "x")]))
    v = overwrite_delta(spark, table, _df(spark, [(2, "b", "x")]))
    # far-future clock + zero retention: only the overwritten file goes
    cands = vacuum_candidates(table, retention_ms=0, now_ms=10**20)
    assert len(cands) == 1
    live = {p for p, _ in load_delta(table, version=v).files}
    assert cands[0] not in live


def test_add_stats_carry_numrecords(spark, table):
    append_delta(spark, table, _df(spark, [(1, "a", "x"), (2, "b", "x")]))
    with open(os.path.join(table, "_delta_log", f"{1:020d}.json")) as f:
        adds = [json.loads(l)["add"] for l in f if '"add"' in l]
    total = sum(json.loads(a["stats"])["numRecords"] for a in adds)
    assert total == 2


def test_special_chars_in_partition_values_roundtrip(spark, tmp_path):
    """Spark's input_file_name() percent-encodes paths (space->%20,
    %->%25, '+' literal); a naive path join silently drops these
    partitions' rows. Writer hive-escaping + reader URI-encoding must
    agree end to end."""
    loc = str(tmp_path / "nasty")
    df = spark.createDataFrame(
        [
            (1, "NOT SPECIFIED and 100% sure+plus"),
            (2, "plain"),
            (3, "a=b,c;d&e"),
        ],
        "k long, p string",
    )
    create_delta_table(loc, df.schema, ["p"])
    append_delta(spark, loc, df)
    rows = {r["k"]: r["p"] for r in read_delta(spark, loc).collect()}
    assert rows == {
        1: "NOT SPECIFIED and 100% sure+plus",
        2: "plain",
        3: "a=b,c;d&e",
    }


def test_cli_delta_export_and_import(spark, tmp_path, capsys):
    """CLI round trip: Iceberg -> delta-export -> delta-import into a
    second Iceberg table; contents identical."""
    from icegopher_spark.iceberg import write as W
    from icegopher_spark.iceberg.cli import main as cli_main
    from icegopher_spark.iceberg.schema import Schema
    from icegopher_spark.iceberg.types import LongType, NestedField, StringType

    sch = Schema(
        (
            NestedField(1, "k", LongType(), True),
            NestedField(2, "p", StringType(), False),
        ),
        schema_id=0,
    )
    wh = tmp_path / "wh"
    (wh / "db").mkdir(parents=True)
    t = W.create_table(str(wh / "db" / "src"), sch)
    W.append(t, spark.createDataFrame([(1, "x"), (2, "y"), (3, "x")], "k long, p string"))
    W.create_table(str(wh / "db" / "dst"), sch)

    delta_loc = str(tmp_path / "delta_t")
    rc = cli_main(
        ["--catalog", str(wh), "delta-export", "db.src", delta_loc, "--partition-by", "p"]
    )
    assert rc == 0 and "exported" in capsys.readouterr().out

    rc = cli_main(["--catalog", str(wh), "delta-import", "db.dst", delta_loc])
    assert rc == 0 and "imported" in capsys.readouterr().out

    from icegopher_spark.iceberg.table import Table

    got = sorted(
        (r["k"], r["p"])
        for r in Table.from_location(str(wh / "db" / "dst")).scan().to_df(spark).collect()
    )
    assert got == [(1, "x"), (2, "y"), (3, "x")]


def test_cli_delta_delete(spark, tmp_path, capsys):
    from pyspark.sql import functions as F

    from icegopher_spark.delta import read_delta
    from icegopher_spark.delta_write import append_delta, create_delta_table
    from icegopher_spark.iceberg.cli import main

    loc = str(tmp_path / "t")
    df = spark.range(0, 20).select(F.col("id").alias("k"))
    create_delta_table(loc, df.schema)
    append_delta(spark, loc, df)
    assert main(["delta-delete", loc, "k % 4 = 0"]) == 0
    assert "version 2" in capsys.readouterr().out
    assert read_delta(spark, loc).count() == 15


def test_optimize_delta_folds_dvs_and_is_stream_transparent(spark, tmp_path):
    from pyspark.sql import functions as F

    from icegopher_spark.delta import load_delta, read_delta, vacuum_candidates
    from icegopher_spark.delta_write import (
        append_delta,
        create_delta_table,
        delete_where_delta,
        optimize_delta,
    )
    from icegopher_spark.streaming.delta_source import _DeltaStreamReader

    loc = str(tmp_path / "t")
    df = spark.range(0, 200).select(F.col("id").alias("k"))
    create_delta_table(loc, df.schema)
    append_delta(spark, loc, df.repartition(6))
    delete_where_delta(spark, loc, F.col("k") % 10 == 0)
    before = load_delta(loc)
    assert len(before.files) == 6 and before.deletion_vectors

    v = optimize_delta(spark, loc, target_file_bytes=1 << 30)
    after = load_delta(loc)
    assert len(after.files) == 1
    assert not after.deletion_vectors  # folded
    got = {r["k"] for r in read_delta(spark, loc).collect()}
    assert got == {k for k in range(200) if k % 10 != 0}

    # stream tail over the OPTIMIZE commit: transparent, no error even
    # without skip-change-commits
    r = _DeltaStreamReader({"location": loc, "starting-version": str(v)})
    parts = r.partitions({"version": v - 1, "bootstrap": False},
                         {"version": v, "bootstrap": False})
    assert [p for p in parts if p.path] == []

    # the compacted-away small files become vacuum candidates once aged
    cands = vacuum_candidates(loc, retention_ms=0, now_ms=int(2e15))
    assert len(cands) >= 6


def test_optimize_delta_partitioned_groups(spark, tmp_path):
    """Files only compact WITHIN a partition tuple."""
    from pyspark.sql import functions as F

    from icegopher_spark.delta import load_delta, read_delta
    from icegopher_spark.delta_write import (
        append_delta,
        create_delta_table,
        optimize_delta,
    )

    loc = str(tmp_path / "t")
    df = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("string").alias("side")
    )
    create_delta_table(loc, df.schema, ["side"])
    append_delta(spark, loc, df.repartition(4))
    append_delta(spark, loc, df.repartition(4))
    optimize_delta(spark, loc, target_file_bytes=1 << 30)
    snap = load_delta(loc)
    by_side = {}
    for p, pv in snap.files:
        by_side.setdefault(pv["side"], []).append(p)
    assert all(len(v) == 1 for v in by_side.values())  # one file per side
    assert read_delta(spark, loc).count() == 200


def test_restore_delta_preserves_time_travel_and_dvs(spark, tmp_path):
    from pyspark.sql import functions as F

    from icegopher_spark.delta import load_delta, read_delta
    from icegopher_spark.delta_write import (
        append_delta,
        create_delta_table,
        delete_where_delta,
        restore_delta,
    )

    loc = str(tmp_path / "t")
    df = spark.range(0, 30).select(F.col("id").alias("k"))
    create_delta_table(loc, df.schema)
    v1 = append_delta(spark, loc, df.coalesce(1))
    v2 = delete_where_delta(spark, loc, F.col("k") % 3 == 0)
    v3 = append_delta(spark, loc, spark.createDataFrame([(100,)], "k long"))
    assert read_delta(spark, loc).count() == 21

    # restore to the DV-carrying version: its descriptor must ride along
    v4 = restore_delta(loc, v2)
    assert v4 == v3 + 1
    assert read_delta(spark, loc).count() == 20
    assert load_delta(loc).deletion_vectors  # DV restored with the file

    # restore to pre-delete: full set back, no DV
    restore_delta(loc, v1)
    assert read_delta(spark, loc).count() == 30
    assert not load_delta(loc).deletion_vectors

    # time travel through the whole history still works
    assert read_delta(spark, loc, version=v2).count() == 20
    assert read_delta(spark, loc, version=v3).count() == 21

    # restoring to the current state is a no-op (no new version)
    latest = load_delta(loc).version
    assert restore_delta(loc, latest) == latest


def test_update_where_delta_partition_move_and_cdf(spark, tmp_path):
    """UPDATE that changes a PARTITION column moves rows across
    partitions in one commit; on a CDF-enabled table the commit writes
    cdc files, so CDF attributes row-accurate update_preimage/
    update_postimage pairs (r11 — previously the delete+insert
    fallback)."""
    from pyspark.sql import functions as F

    from icegopher_spark.delta import read_changes, read_delta
    from icegopher_spark.delta_write import (
        append_delta,
        create_delta_table,
        update_where_delta,
    )

    loc = str(tmp_path / "t")
    df = spark.range(0, 30).select(
        F.col("id").alias("k"), F.lit("old").alias("bucket")
    )
    create_delta_table(
        loc, df.schema, ["bucket"],
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    append_delta(spark, loc, df)
    v = update_where_delta(
        spark, loc, F.col("k") % 3 == 0, {"bucket": F.lit("new")}
    )
    got = read_delta(spark, loc)
    assert got.count() == 30  # row count preserved
    assert got.filter("bucket = 'new'").count() == 10
    assert {r["k"] for r in got.filter("bucket = 'new'").collect()} == {
        k for k in range(30) if k % 3 == 0
    }

    ch = read_changes(spark, loc, v, v)
    by_kind = {k: set() for k in ("update_preimage", "update_postimage")}
    for r in ch.collect():
        by_kind[r["_change_type"]].add((r["k"], r["bucket"]))
    assert by_kind["update_preimage"] == {
        (k, "old") for k in range(30) if k % 3 == 0
    }
    assert by_kind["update_postimage"] == {
        (k, "new") for k in range(30) if k % 3 == 0
    }

    # repeated update composes with the existing DVs
    update_where_delta(spark, loc, F.col("k") % 5 == 0, {"bucket": F.lit("five")})
    got = read_delta(spark, loc)
    assert got.count() == 30
    assert got.filter("bucket = 'five'").count() == 6
    assert got.filter("bucket = 'new'").count() == 8  # 0,15 moved on


def test_update_where_delta_unknown_column_refused(spark, tmp_path):
    from pyspark.sql import functions as F

    from icegopher_spark.delta_write import (
        append_delta,
        create_delta_table,
        update_where_delta,
    )

    loc = str(tmp_path / "t")
    df = spark.range(0, 5).select(F.col("id").alias("k"))
    create_delta_table(loc, df.schema)
    append_delta(spark, loc, df)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown column"):
        update_where_delta(spark, loc, F.col("k") > 0, {"nope": F.lit(1)})


def test_merge_upsert_delta_duplicate_source_keys_refused(spark, tmp_path):
    from pyspark.sql import functions as F

    from icegopher_spark.delta_write import (
        append_delta,
        create_delta_table,
        merge_upsert_delta,
    )

    loc = str(tmp_path / "t")
    df = spark.range(0, 10).select(F.col("id").alias("k"), F.lit(1.0).alias("v"))
    create_delta_table(loc, df.schema)
    append_delta(spark, loc, df)
    dup_src = spark.createDataFrame([(1, 2.0), (1, 3.0)], "k long, v double")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="duplicate key"):
        merge_upsert_delta(spark, loc, dup_src, ["k"])


def test_merge_upsert_delta_atomic_snapshot(spark, tmp_path):
    """Upsert is one commit: the pre-merge version is still readable
    untouched; the post-merge version has replaced + inserted rows."""
    from pyspark.sql import functions as F

    from icegopher_spark.delta import read_delta
    from icegopher_spark.delta_write import (
        append_delta,
        create_delta_table,
        merge_upsert_delta,
    )

    loc = str(tmp_path / "t")
    df = spark.range(0, 10).select(F.col("id").alias("k"), F.lit(1.0).alias("v"))
    create_delta_table(loc, df.schema)
    v1 = append_delta(spark, loc, df.coalesce(1))
    src = spark.createDataFrame([(3, 99.0), (100, 99.0)], "k long, v double")
    v2 = merge_upsert_delta(spark, loc, src, ["k"])
    assert v2 == v1 + 1

    pre = read_delta(spark, loc, version=v1)
    assert pre.count() == 10 and pre.filter("v = 99.0").count() == 0
    post = {(r["k"], r["v"]) for r in read_delta(spark, loc).collect()}
    assert (3, 99.0) in post and (100, 99.0) in post and (3, 1.0) not in post
    assert len(post) == 11


def test_link_export_zero_copy_and_refusals(spark, tmp_path):
    """The linked Delta log must point at the ICEBERG files (no copy);
    V3 Puffin-DV delete state translates; eq deletes refuse."""
    from pyspark.sql import functions as F

    import icegopher_spark.iceberg.write as W
    from icegopher_spark.delta import load_delta, read_delta
    from icegopher_spark.delta_write import link_iceberg_to_delta
    from icegopher_spark.iceberg import expressions as E
    from icegopher_spark.iceberg.schema import Schema
    from icegopher_spark.iceberg.types import LongType, NestedField

    schema = Schema(
        (
            NestedField(1, "k", LongType(), True),
            NestedField(2, "v", LongType(), False),
        ),
        schema_id=0,
    )
    t = W.create_table(str(tmp_path / "ice"), schema)
    df = spark.range(0, 60).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    t = W.append(t, df)
    t = W.delete_where_dv(t, spark, E.is_in("k", 5, 15, 25))  # V3 Puffin DV

    out = str(tmp_path / "linked")
    link_iceberg_to_delta(spark, t, out)
    snap = load_delta(out)
    # zero-copy: every add path lives under the ICEBERG table dir
    assert all(str(tmp_path / "ice") in p for p, _ in snap.files)
    assert snap.deletion_vectors  # translated
    got = {r["k"] for r in read_delta(spark, out).collect()}
    assert got == set(range(60)) - {5, 15, 25}

    # equality deletes refuse toward the rewrite path
    t2 = W.create_table(str(tmp_path / "ice2"), schema)
    t2 = W.append(t2, df)
    t2 = W.delete_keys(
        t2, spark, spark.createDataFrame([(7,)], "k long"), ["k"]
    )
    import pytest as _pytest

    with _pytest.raises(NotImplementedError, match="equality deletes"):
        link_iceberg_to_delta(spark, t2, str(tmp_path / "linked2"))


def test_link_export_writes_no_orphan_dvs(spark, tmp_path):
    """A positional-delete file also names rows of a data file that a
    later copy-on-write delete rewrote away; the link must write Delta
    DV files only for live files, each referenced by an add, and the
    linked read must equal the Iceberg scan."""
    import icegopher_spark.iceberg.write as W
    from icegopher_spark.delta_write import link_iceberg_to_delta
    from icegopher_spark.iceberg import expressions as E
    from icegopher_spark.iceberg.schema import Schema
    from icegopher_spark.iceberg.types import LongType, NestedField

    schema = Schema(
        (
            NestedField(1, "k", LongType(), True),
            NestedField(2, "v", LongType(), False),
        ),
        schema_id=0,
    )
    t = W.create_table(str(tmp_path / "ice"), schema)
    for lo in (0, 100):
        t = W.append(
            t,
            spark.range(lo, lo + 50)
            .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
            .coalesce(1),
        )
    t = W.delete_where_mor(t, spark, E.is_in("k", 3, 103))
    t = W.delete_where(t, spark, E.equal_to("k", 4))  # CoW: rewrites k=3's file

    out = str(tmp_path / "linked")
    link_iceberg_to_delta(spark, t, out)
    dv_files = [
        f for f in os.listdir(out) if f.startswith("deletion_vector_") and f.endswith(".bin")
    ]
    with open(os.path.join(out, "_delta_log", f"{0:020d}.json")) as fh:
        adds = [json.loads(line)["add"] for line in fh if '"add"' in line]
    assert len(dv_files) == sum(1 for a in adds if a.get("deletionVector")) == 1
    got = sorted(r["k"] for r in read_delta(spark, out).collect())
    want = sorted(r["k"] for r in t.scan().to_df(spark).collect())
    assert got == want == sorted((set(range(50)) | set(range(100, 150))) - {3, 4, 103})


def _linkable_table(spark, tmp_path, scheme=""):
    """A table of one data file recorded as ``scheme`` + its absolute
    path, with k = 2 and 5 deleted by a positional-delete file."""
    import icegopher_spark.iceberg.write as W
    from icegopher_spark.iceberg import expressions as E
    from icegopher_spark.iceberg.schema import Schema
    from icegopher_spark.iceberg.types import LongType, NestedField

    schema = Schema(
        (
            NestedField(1, "k", LongType(), True),
            NestedField(2, "v", LongType(), False),
        ),
        schema_id=0,
    )
    src = str(tmp_path / "src")
    rows = spark.range(20).select(F.col("id").alias("k"), F.col("id").alias("v"))
    rows.coalesce(1).write.parquet(src)
    files = [f"{scheme}{src}/{f}" for f in sorted(os.listdir(src)) if f.endswith(".parquet")]
    t = W.add_files(W.create_table(str(tmp_path / "ice"), schema), files)
    return W.delete_where_mor(t, spark, E.is_in("k", 2, 5))


def test_link_export_applies_deletes_of_file_uri_data_files(spark, tmp_path):
    """The link's live-path match and add lookup normalize a ``file:/``
    data-file path by the rule the delete rows use, so its deletes
    become a Delta DV."""
    from icegopher_spark.delta_write import link_iceberg_to_delta

    t = _linkable_table(spark, tmp_path, "file:")
    recorded = t.scan().plan_files()[0].file.file_path
    assert recorded.startswith("file:/") and not recorded.startswith("file://")
    out = str(tmp_path / "linked")
    link_iceberg_to_delta(spark, t, out)
    got = sorted(r["k"] for r in read_delta(spark, out).collect())
    want = sorted(r["k"] for r in t.scan().to_df(spark).collect())
    assert got == want == sorted(set(range(20)) - {2, 5})


def test_link_export_logs_no_type_hint_warning(spark, tmp_path):
    """The link's grouped DV writer carries no partial type hints, so
    PySpark warns nothing about inferring its eval type."""
    import warnings

    from icegopher_spark.delta_write import link_iceberg_to_delta

    t = _linkable_table(spark, tmp_path)
    with warnings.catch_warnings(record=True) as seen:
        warnings.simplefilter("always")
        link_iceberg_to_delta(spark, t, str(tmp_path / "linked"))
    assert not [w for w in seen if "Cannot infer the eval type" in str(w.message)]


def test_cli_delta_optimize_restore_vacuum(spark, tmp_path, capsys):
    from pyspark.sql import functions as F

    from icegopher_spark.delta import read_delta
    from icegopher_spark.delta_write import append_delta, create_delta_table
    from icegopher_spark.iceberg.cli import main

    loc = str(tmp_path / "t")
    df = spark.range(0, 40).select(F.col("id").alias("k"))
    create_delta_table(loc, df.schema)
    append_delta(spark, loc, df.repartition(4))

    assert main(["delta-optimize", loc]) == 0
    assert "optimized -> version 2" in capsys.readouterr().out
    assert read_delta(spark, loc).count() == 40

    assert main(["delta-restore", loc, "1"]) == 0
    assert "restored" in capsys.readouterr().out
    assert read_delta(spark, loc).count() == 40

    assert main(["delta-vacuum", loc, "--retention-hours", "0"]) == 0
    out = capsys.readouterr().out
    assert "dry run" in out


def test_delta_sink_exactly_once_and_txn_checkpoint(spark, tmp_path):
    """A replayed batch no-ops (txn watermark), and the watermark
    survives checkpoint + full JSON vacuum (the protocol requires
    checkpoints to carry the latest txn per appId)."""
    from pyspark.sql import functions as F

    from icegopher_spark.delta import load_delta, read_delta
    from icegopher_spark.delta_write import (
        append_delta,
        create_delta_table,
        write_checkpoint,
    )
    from icegopher_spark.streaming.delta_sink import last_committed_batch

    loc = str(tmp_path / "t")
    df = spark.range(0, 10).select(F.col("id").alias("k"))
    create_delta_table(loc, df.schema)
    append_delta(spark, loc, df, txn=("q1", 0))
    assert last_committed_batch(loc, "q1") == 0
    assert last_committed_batch(loc, "other") == -1

    # idempotent replay at the sink layer
    from icegopher_spark.streaming.delta_sink import write_stream_to_delta  # noqa: F401

    if 0 <= last_committed_batch(loc, "q1"):
        pass  # the sink's guard condition — exercised for real below
    append_delta(spark, loc, df, txn=("q1", 1))
    assert read_delta(spark, loc).count() == 20

    write_checkpoint(loc)
    import os as _os

    for fn in _os.listdir(_os.path.join(loc, "_delta_log")):
        if fn.endswith(".json") and fn.split(".")[0].isdigit():
            _os.remove(_os.path.join(loc, "_delta_log", fn))
    assert load_delta(loc).app_versions == {"q1": 1}
    assert last_committed_batch(loc, "q1") == 1


def test_delta_sink_stream_replay_noop(spark, tmp_path):
    """Running the same availableNow stream twice with DIFFERENT
    checkpoints (forcing a batch-id replay) commits the data once."""
    from pyspark.sql import functions as F

    from icegopher_spark.delta import read_delta
    from icegopher_spark.delta_write import create_delta_table
    from icegopher_spark.streaming.delta_sink import write_stream_to_delta

    src = str(tmp_path / "src")
    spark.range(0, 50).select(F.col("id").alias("k")).write.parquet(src)
    loc = str(tmp_path / "t")
    create_delta_table(
        loc, spark.read.parquet(src).schema
    )
    stream = spark.readStream.schema("k long").parquet(src)
    write_stream_to_delta(stream, loc, str(tmp_path / "ck1"), query_id="q")
    assert read_delta(spark, loc).count() == 50
    # fresh checkpoint → Spark replays batch 0; the txn watermark no-ops it
    stream2 = spark.readStream.schema("k long").parquet(src)
    write_stream_to_delta(stream2, loc, str(tmp_path / "ck2"), query_id="q")
    assert read_delta(spark, loc).count() == 50


def test_dml_on_empty_table_noop(spark, tmp_path):
    """DELETE/UPDATE/MERGE against a zero-file table must no-op (or
    plain-append for merge), not crash on the missing position columns
    (caught by round-10 self-review)."""
    from pyspark.sql import functions as F

    from icegopher_spark.delta import read_delta
    from icegopher_spark.delta_write import (
        create_delta_table,
        delete_where_delta,
        merge_upsert_delta,
        update_where_delta,
    )

    loc = str(tmp_path / "t")
    df = spark.range(0, 1).select(F.col("id").alias("k"), F.lit(1.0).alias("v"))
    create_delta_table(loc, df.schema)
    assert delete_where_delta(spark, loc, F.col("k") > 0) == 0
    assert update_where_delta(spark, loc, F.col("k") > 0, {"v": F.lit(2.0)}) == 0
    # merge into empty = pure insert
    src = spark.createDataFrame([(1, 9.0)], "k long, v double")
    merge_upsert_delta(spark, loc, src, ["k"])
    assert read_delta(spark, loc).count() == 1


def test_link_export_refuses_non_parquet(spark, tmp_path):
    import pyspark.sql.functions as F

    import icegopher_spark.iceberg.write as W
    from icegopher_spark.delta_write import link_iceberg_to_delta
    from icegopher_spark.iceberg.schema import Schema
    from icegopher_spark.iceberg.types import LongType, NestedField

    schema = Schema((NestedField(1, "k", LongType(), True),), schema_id=0)
    t = W.create_table(str(tmp_path / "ice"), schema)
    df = spark.range(0, 5).select(F.col("id").alias("k"))
    t = W.append(t, df, )
    # rewrite the manifest entry format? simpler: write an ORC file via
    # the write plane if supported; otherwise patch the planned task
    tasks = t.scan().plan_files()
    tasks[0].file.file_format = "ORC"

    class _FakeScan:
        def plan_files(self_inner):
            return tasks

        def to_df(self_inner, spark_):
            raise AssertionError("should refuse before reading")

    class _FakeTable:
        metadata = t.metadata
        properties = t.properties
        location = t.location

        def scan(self_inner):
            return _FakeScan()

    import pytest as _pytest

    with _pytest.raises(NotImplementedError, match="parquet-only"):
        link_iceberg_to_delta(spark, _FakeTable(), str(tmp_path / "out"))


def test_column_mapping_writer_full_dml_loop(spark, tmp_path):
    """create(column_mapping=True) → append → DV delete → update →
    merge → optimize, all on a mapped PARTITIONED table; every read
    goes through the independent mapped reader."""
    from pyspark.sql import functions as F

    from icegopher_spark.delta import load_delta, read_delta
    from icegopher_spark.delta_write import (
        append_delta,
        create_delta_table,
        delete_where_delta,
        merge_upsert_delta,
        optimize_delta,
        update_where_delta,
    )

    loc = str(tmp_path / "t")
    df = spark.range(0, 40).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).cast("string").alias("side"),
        F.lit(1.0).alias("v"),
    )
    create_delta_table(loc, df.schema, ["side"], column_mapping=True)
    snap = load_delta(loc)
    assert snap.column_mapping_mode == "name"
    assert snap.protocol["minReaderVersion"] == 2
    append_delta(spark, loc, df)

    got = read_delta(spark, loc)
    assert got.columns == ["k", "side", "v"]  # logical names back
    assert got.count() == 40

    # parquet files carry PHYSICAL names
    import pyarrow.parquet as pq

    p0 = load_delta(loc).files[0][0]
    names = pq.ParquetFile(p0).schema_arrow.names
    assert all(n.startswith("col-") for n in names)

    delete_where_delta(spark, loc, F.col("k") % 10 == 0)
    assert read_delta(spark, loc).count() == 36

    update_where_delta(spark, loc, F.col("k") == 7, {"v": F.lit(9.0)})
    rows = {r["k"]: r["v"] for r in read_delta(spark, loc).collect()}
    assert rows[7] == 9.0 and rows[8] == 1.0 and len(rows) == 36

    src = spark.createDataFrame([(7, "1", 5.0), (100, "0", 5.0)],
                                "k long, side string, v double")
    merge_upsert_delta(spark, loc, src, ["k"])
    rows = {r["k"]: r["v"] for r in read_delta(spark, loc).collect()}
    assert rows[7] == 5.0 and rows[100] == 5.0 and len(rows) == 37

    v = optimize_delta(spark, loc, target_file_bytes=1 << 30)
    assert v is not None
    assert read_delta(spark, loc).count() == 37
    assert not load_delta(loc).deletion_vectors


def test_column_mapping_nested_write_roundtrip(spark, tmp_path):
    """Nested renames on a column-mapped table WRITE now (r10 verdict
    #4): physical names land in parquet at every nesting level (one
    positional CAST, the reader's inverse) and the round trip — write
    → independent footer check → logical read → DML — is exact."""
    import json as _json

    import pyarrow.parquet as pq
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from icegopher_spark.delta_write import (
        create_delta_table,
        delete_where_delta,
        update_where_delta,
    )

    loc = str(tmp_path / "t")
    schema = StructType(
        [
            StructField("k", LongType()),
            StructField(
                "payload",
                StructType(
                    [StructField("x", StringType()), StructField("n", LongType())]
                ),
            ),
        ]
    )
    create_delta_table(loc, schema, column_mapping=True)
    df = spark.createDataFrame(
        [(i, (f"x{i}", i * 10)) for i in range(12)], schema
    ).coalesce(1)
    append_delta(spark, loc, df)

    snap = load_delta(loc)
    # mapping ids + physical names assigned at BOTH levels
    fields = _json.loads(snap.metadata_raw["schemaString"])["fields"]
    inner = fields[1]["type"]["fields"]
    for fj in fields + inner:
        assert fj["metadata"]["delta.columnMapping.physicalName"].startswith("col-")
    # the parquet footer (independent read) carries physical names
    arrow = pq.ParquetFile(snap.files[0][0]).schema_arrow
    assert all(n.startswith("col-") for n in arrow.names)
    inner_phys = [f.name for f in arrow.field(1).type]
    assert all(n.startswith("col-") for n in inner_phys)

    # logical read round-trips names and values
    got = read_delta(spark, loc)
    assert got.columns == ["k", "payload"]
    assert got.schema["payload"].dataType.fieldNames() == ["x", "n"]
    rows = {r["k"]: (r["payload"]["x"], r["payload"]["n"]) for r in got.collect()}
    assert rows[3] == ("x3", 30) and len(rows) == 12

    # DML through the nested mapping: DV delete + nested-preserving update
    delete_where_delta(spark, loc, F.col("k") % 4 == 0)
    assert read_delta(spark, loc).count() == 9
    update_where_delta(
        spark, loc, F.col("k") == 7,
        {"payload": F.struct(F.lit("seven").alias("x"), F.lit(700).alias("n"))},
    )
    rows = {r["k"]: (r["payload"]["x"], r["payload"]["n"])
            for r in read_delta(spark, loc).collect()}
    assert rows[7] == ("seven", 700) and rows[3] == ("x3", 30)


def test_writer_protocol_compliance(spark, tmp_path):
    """appendOnly tables refuse row-removing DML; unknown writerFeatures
    refuse every write; CHECK constraints validate on append/update."""
    import json as _json
    import os as _os

    from pyspark.sql import functions as F

    from icegopher_spark.delta_write import (
        append_delta,
        create_delta_table,
        delete_where_delta,
        merge_upsert_delta,
        optimize_delta,
        update_where_delta,
    )

    loc = str(tmp_path / "t")
    df = spark.range(0, 10).select(F.col("id").alias("k"))
    create_delta_table(
        loc, df.schema,
        configuration={
            "delta.appendOnly": "true",
            "delta.constraints.positive": "k >= 0",
        },
    )
    append_delta(spark, loc, df)  # passes the constraint, append allowed

    with pytest.raises(ValueError, match="CHECK constraint"):
        append_delta(spark, loc, spark.createDataFrame([(-1,)], "k long"))

    with pytest.raises(ValueError, match="appendOnly"):
        delete_where_delta(spark, loc, F.col("k") > 5)
    with pytest.raises(ValueError, match="appendOnly"):
        update_where_delta(spark, loc, F.col("k") > 5, {"k": F.lit(0)})
    with pytest.raises(ValueError, match="appendOnly"):
        merge_upsert_delta(spark, loc, spark.createDataFrame([(1,)], "k long"), ["k"])
    # OPTIMIZE moves bytes, not rows — allowed on appendOnly tables
    assert optimize_delta(spark, loc, min_files=99) is None  # no-op, no refusal

    # identityColumns in writerFeatures is TOLERATED while the schema
    # doesn't use it (legacy-upgrade tables), refused once a column
    # actually carries identity metadata; genuinely unknown features
    # refuse outright
    loc2 = str(tmp_path / "t2")
    create_delta_table(loc2, df.schema)
    log = _os.path.join(loc2, "_delta_log", f"{1:020d}.json")
    with open(log, "w") as f:
        f.write(_json.dumps({"protocol": {
            "minReaderVersion": 1, "minWriterVersion": 7,
            "writerFeatures": ["identityColumns"]}}) + "\n")
    append_delta(spark, loc2, df)  # schema uses no identity column: OK

    loc3 = str(tmp_path / "t3")
    create_delta_table(loc3, df.schema)
    log0 = _os.path.join(loc3, "_delta_log", f"{0:020d}.json")
    lines = [_json.loads(l) for l in open(log0) if l.strip()]
    for a in lines:
        if "protocol" in a:
            a["protocol"] = {"minReaderVersion": 1, "minWriterVersion": 7,
                             "writerFeatures": ["identityColumns"]}
        if "metaData" in a:
            sch = _json.loads(a["metaData"]["schemaString"])
            sch["fields"][0]["metadata"] = {"delta.identity.start": 1}
            a["metaData"]["schemaString"] = _json.dumps(sch)
    with open(log0, "w") as f:
        f.write("\n".join(_json.dumps(a) for a in lines) + "\n")
    with pytest.raises(NotImplementedError, match="identityColumns"):
        append_delta(spark, loc3, df)

    loc4 = str(tmp_path / "t4")
    create_delta_table(loc4, df.schema)
    log = _os.path.join(loc4, "_delta_log", f"{1:020d}.json")
    with open(log, "w") as f:
        f.write(_json.dumps({"protocol": {
            "minReaderVersion": 1, "minWriterVersion": 7,
            "writerFeatures": ["icebergCompatV2"]}}) + "\n")
    with pytest.raises(NotImplementedError, match="icebergCompatV2"):
        append_delta(spark, loc4, df)


def test_writer_enforces_schema_invariants(spark, tmp_path):
    """Legacy writer-v2 invariants (schema field metadata) validate on
    append — the protocol makes them a writer obligation."""
    import json as _json

    from pyspark.sql import functions as F

    from icegopher_spark.delta_write import append_delta, create_delta_table

    loc = str(tmp_path / "t")
    df = spark.range(0, 5).select(F.col("id").alias("k"))
    create_delta_table(loc, df.schema)
    # inject an invariant into the schemaString (as a foreign writer would)
    log0 = f"{loc}/_delta_log/{0:020d}.json"
    lines = [_json.loads(l) for l in open(log0) if l.strip()]
    for a in lines:
        if "metaData" in a:
            sch = _json.loads(a["metaData"]["schemaString"])
            sch["fields"][0]["metadata"] = {
                "delta.invariants": _json.dumps(
                    {"expression": {"expression": "k < 100"}}
                )
            }
            a["metaData"]["schemaString"] = _json.dumps(sch)
    with open(log0, "w") as f:
        f.write("\n".join(_json.dumps(a) for a in lines) + "\n")

    append_delta(spark, loc, df)  # all k < 100: fine
    with pytest.raises(ValueError, match="invariant:k"):
        append_delta(spark, loc, spark.createDataFrame([(500,)], "k long"))


def test_add_column_and_set_properties(spark, tmp_path):
    """ADD COLUMN: old files read back NULL for the new column; writes
    after the change carry it; works on MAPPED tables (fresh id +
    physical name). SET TBLPROPERTIES merges/unsets."""
    from pyspark.sql import functions as F

    from icegopher_spark.delta import load_delta, read_delta
    from icegopher_spark.delta_write import (
        add_column_delta,
        append_delta,
        create_delta_table,
        set_properties_delta,
    )

    loc = str(tmp_path / "t")
    df = spark.range(0, 5).select(F.col("id").alias("k"))
    create_delta_table(loc, df.schema, column_mapping=True)
    append_delta(spark, loc, df)
    add_column_delta(loc, "tag", "string")

    snap = load_delta(loc)
    assert [f.name for f in snap.schema.fields] == ["k", "tag"]
    assert snap.configuration["delta.columnMapping.maxColumnId"] == "2"
    got = read_delta(spark, loc)
    assert got.filter(F.col("tag").isNull()).count() == 5  # pre-change files

    df2 = spark.createDataFrame([(100, "x")], "k long, tag string")
    append_delta(spark, loc, df2)
    rows = {(r["k"], r["tag"]) for r in read_delta(spark, loc).collect()}
    assert (100, "x") in rows and (0, None) in rows

    set_properties_delta(loc, {"delta.appendOnly": "true"})
    assert load_delta(loc).configuration["delta.appendOnly"] == "true"
    set_properties_delta(loc, {"delta.appendOnly": None})
    assert "delta.appendOnly" not in load_delta(loc).configuration

    import pytest as _pytest

    with _pytest.raises(ValueError, match="already exists"):
        add_column_delta(loc, "k", "long")


def test_link_delta_to_iceberg_zero_copy(spark, tmp_path):
    """Zero-copy Delta -> Iceberg: files adopted IN PLACE (no data
    copy), Delta DVs translated to Puffin DVs, Iceberg scan row-equal
    to the Delta read; partitioned and column-mapped tables refuse."""
    import pytest as _pytest

    from icegopher_spark.delta_write import (
        create_delta_table,
        delete_where_delta,
        link_delta_to_iceberg,
    )

    loc = str(tmp_path / "src")
    df = spark.createDataFrame(
        [(i, str(i % 3), float(i)) for i in range(60)],
        "k long, side string, v double",
    ).repartition(3)
    create_delta_table(loc, df.schema)
    append_delta(spark, loc, df)
    delete_where_delta(spark, loc, F.col("k") % 7 == 0)
    delete_where_delta(spark, loc, F.col("k") % 11 == 0)  # DV union

    ice_loc = str(tmp_path / "ice")
    t = link_delta_to_iceberg(spark, loc, ice_loc)

    got = {r["k"] for r in t.scan().to_df(spark).collect()}
    expect = {k for k in range(60) if k % 7 != 0 and k % 11 != 0}
    assert got == expect
    # zero-copy: every Iceberg data file IS a Delta data file (no
    # parquet under the Iceberg location)
    ice_files = [
        t2.file.file_path for t2 in t.scan().plan_files()
    ]
    assert ice_files and all(p.startswith(loc) for p in ice_files)
    # the delete state rides as V3 deletion vectors
    assert any(
        d.is_deletion_vector for t2 in t.scan().plan_files() for d in t2.delete_files
    )
    # predicate pushdown works off adopted footer stats
    assert t.scan().to_df(spark).filter(F.col("k") < 5).count() == len(
        [k for k in range(5) if k % 7 and k % 11]  # k=0 fails %7
    )

    # refusals
    ploc = str(tmp_path / "part")
    create_delta_table(ploc, df.schema, ["side"])
    append_delta(spark, ploc, df)
    with _pytest.raises(NotImplementedError, match="partitioned"):
        link_delta_to_iceberg(spark, ploc, str(tmp_path / "ice2"))
    cloc = str(tmp_path / "cm")
    create_delta_table(cloc, df.schema, column_mapping=True)
    append_delta(spark, cloc, df)
    with _pytest.raises(NotImplementedError, match="column-mapped"):
        link_delta_to_iceberg(spark, cloc, str(tmp_path / "ice3"))


def test_cdf_enabled_update_and_merge_emit_cdc_files(spark, tmp_path):
    """On a delta.enableChangeDataFeed=true table, UPDATE and MERGE
    write _change_data/ cdc files (protocol § Add CDC File) and
    read_changes surfaces row-accurate update_preimage/update_postimage
    (+insert for merged new keys); DELETE stays cdc-free (the DV-diff
    reconstruction is already row-exact)."""
    from icegopher_spark.delta import read_changes
    from icegopher_spark.delta_write import (
        delete_where_delta,
        merge_upsert_delta,
        update_where_delta,
    )

    loc = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, str(i % 2), 1.0) for i in range(20)], "k long, side string, v double"
    )
    create_delta_table(
        loc, df.schema, configuration={"delta.enableChangeDataFeed": "true"}
    )
    append_delta(spark, loc, df)

    v_upd = update_where_delta(
        spark, loc, F.col("k") % 5 == 0, {"v": F.col("v") + 100.0}
    )
    acts = []
    with open(os.path.join(loc, "_delta_log", f"{v_upd:020d}.json")) as f:
        acts = [json.loads(ln) for ln in f if ln.strip()]
    cdc = [a["cdc"] for a in acts if a.get("cdc")]
    assert cdc and all(a["path"].startswith("_change_data/") for a in cdc)

    ch = read_changes(spark, loc, v_upd, v_upd)
    got = {
        (r["k"], r["_change_type"]): r["v"]
        for r in ch.collect()
    }
    for k in (0, 5, 10, 15):
        assert got[(k, "update_preimage")] == 1.0
        assert got[(k, "update_postimage")] == 101.0
    assert len(got) == 8  # exactly the 4 pre + 4 post rows

    src = spark.createDataFrame(
        [(3, "1", 7.0), (100, "0", 7.0)], "k long, side string, v double"
    )
    v_mrg = merge_upsert_delta(spark, loc, src, ["k"])
    ch2 = read_changes(spark, loc, v_mrg, v_mrg)
    kinds = {(r["k"], r["_change_type"]) for r in ch2.collect()}
    assert (3, "update_preimage") in kinds and (3, "update_postimage") in kinds
    assert (100, "insert") in kinds
    assert len(kinds) == 3

    # DELETE: no cdc files; DV-diff attribution stays row-exact
    v_del = delete_where_delta(spark, loc, F.col("k") == 7)
    with open(os.path.join(loc, "_delta_log", f"{v_del:020d}.json")) as f:
        assert not any('"cdc"' in ln for ln in f)
    ch3 = read_changes(spark, loc, v_del, v_del)
    assert [(r["k"], r["_change_type"]) for r in ch3.collect()] == [(7, "delete")]

    # the live read is unaffected by cdc files (they are not data)
    rows = {r["k"]: r["v"] for r in read_delta(spark, loc).collect()}
    assert rows[0] == 101.0 and rows[3] == 7.0 and rows[100] == 7.0 and 7 not in rows


def test_cdf_update_on_column_mapped_table(spark, tmp_path):
    """CDC files on a column-mapped table: staged under PHYSICAL names
    with _change_type riding unmapped; read back logically through the
    cdc scan's relabel."""
    from icegopher_spark.delta import read_changes
    from icegopher_spark.delta_write import update_where_delta

    loc = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "k long, v double"
    )
    create_delta_table(
        loc, df.schema, column_mapping=True,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    append_delta(spark, loc, df)
    v = update_where_delta(spark, loc, F.col("k") % 3 == 0, {"v": F.lit(-1.0)})

    # the staged cdc parquet carries physical names + _change_type
    import pyarrow.parquet as pq

    cdc_dir = os.path.join(loc, "_change_data")
    cdc_files = [
        os.path.join(dp, fn)
        for dp, _, fns in os.walk(cdc_dir)
        for fn in fns
        if fn.endswith(".parquet")
    ]
    assert cdc_files
    names = pq.ParquetFile(cdc_files[0]).schema_arrow.names
    assert "_change_type" in names
    assert all(n.startswith("col-") for n in names if n != "_change_type")

    ch = read_changes(spark, loc, v, v)
    got = {(r["k"], r["_change_type"]): r["v"] for r in ch.collect()}
    for k in (0, 3, 6, 9):
        assert got[(k, "update_preimage")] == float(k)
        assert got[(k, "update_postimage")] == -1.0
    assert len(got) == 8


def test_zorder_delta_refusals_and_cli(spark, tmp_path, capsys):
    """OPTIMIZE ZORDER guards: partition columns refused (constant
    within a file already), empty tables refused; the CLI verb drives
    the same path."""
    from icegopher_spark.delta_write import (
        append_delta,
        create_delta_table,
        zorder_delta,
    )
    from icegopher_spark.iceberg.cli import main as cli_main

    loc = str(tmp_path / "zt")
    df = spark.range(0, 200).selectExpr(
        "id AS a", "id % 10 AS b", "CAST(id % 3 AS STRING) AS part"
    )
    create_delta_table(loc, df.schema, partition_columns=["part"])
    with pytest.raises(ValueError, match="no live files"):
        zorder_delta(spark, loc, "a", "b")
    append_delta(spark, loc, df)
    with pytest.raises(ValueError, match="partition columns"):
        zorder_delta(spark, loc, "part", "a")
    assert cli_main(["delta-zorder", loc, "a", "b", "--n-files", "4"]) == 0
    out = capsys.readouterr().out
    assert "zordered on (a, b)" in out
    from icegopher_spark.delta import load_delta, read_delta

    snap = load_delta(loc)
    # partitioned zorder: outputs live under their partition dirs and
    # the row set is unchanged
    assert read_delta(spark, loc).count() == 200
    assert all(pv.get("part") is not None for _, pv in snap.files)


def test_merge_delta_full_clause_matrix(spark, tmp_path):
    """All four WHEN clauses in one commit: conditional matched-update,
    conditional matched-delete, conditional not-matched-insert, and
    not-matched-by-source delete — final row set checked against a
    frame-computed expectation, and the whole thing is ONE version."""
    from icegopher_spark.delta import load_delta, read_delta
    from icegopher_spark.delta_write import (
        append_delta,
        create_delta_table,
        merge_delta,
    )

    loc = str(tmp_path / "m")
    tgt = spark.range(0, 100).selectExpr(
        "id AS k", "CAST(id % 7 AS LONG) AS grp", "CAST(id AS DOUBLE) AS val"
    )
    create_delta_table(loc, tgt.schema)
    append_delta(spark, loc, tgt)
    # source: keys 0..29 (matched) + 200..209 (new); negative grp on
    # multiples of 10 marks matched-deletes
    src = spark.range(0, 30).selectExpr(
        "id AS k",
        "CAST(CASE WHEN id % 10 = 0 THEN -1 ELSE id % 7 END AS LONG) AS grp",
        "CAST(id * 100 AS DOUBLE) AS val",
    ).unionByName(
        spark.range(200, 210).selectExpr(
            "id AS k", "CAST(-1 AS LONG) AS grp", "CAST(999 AS DOUBLE) AS val"
        )
    )
    v0 = load_delta(loc).version
    v = merge_delta(
        spark,
        loc,
        src,
        ["k"],
        when_matched_update={"val": "s.val"},
        matched_condition="s.grp >= 0 AND s.val > t.val",
        when_matched_delete="s.grp < 0",
        when_not_matched_insert=True,
        not_matched_condition="s.k % 2 = 0",
        when_not_matched_by_source_delete="t.k >= 90",
    )
    assert v == v0 + 1  # one atomic commit
    got = {r["k"]: (r["grp"], r["val"]) for r in read_delta(spark, loc).collect()}
    # expectations: k in 0,10,20 deleted (matched, grp<0); k 1..29
    # (non-multiples of 10) updated to val=k*100 EXCEPT k=0 case and
    # s.val>t.val always true for k>=1; k=0 is a delete anyway;
    # unmatched targets 30..89 untouched; 90..99 deleted (nmbs);
    # inserts: 200..208 even only.
    assert all(k not in got for k in (0, 10, 20))
    for k in range(1, 30):
        if k % 10 != 0:
            assert got[k] == (k % 7, float(k * 100)), k
    for k in range(30, 90):
        assert got[k] == (k % 7, float(k))
    assert all(k not in got for k in range(90, 100))
    for k in range(200, 210):
        assert (k in got) == (k % 2 == 0)
        if k in got:
            assert got[k] == (-1, 999.0)
    # duplicate source keys refused
    with pytest.raises(ValueError, match="duplicate key"):
        merge_delta(spark, loc, src.unionByName(src.limit(1)), ["k"])


def test_merge_delta_cdf_rows(spark, tmp_path):
    """CDF-enabled MERGE emits update_pre/postimage for updates,
    delete for both matched and by-source deletes, insert for inserts."""
    from icegopher_spark.delta import read_changes
    from icegopher_spark.delta_write import (
        append_delta,
        create_delta_table,
        merge_delta,
    )

    loc = str(tmp_path / "mcdf")
    tgt = spark.range(0, 20).selectExpr("id AS k", "CAST(id AS DOUBLE) AS val")
    create_delta_table(
        loc, tgt.schema, configuration={"delta.enableChangeDataFeed": "true"}
    )
    append_delta(spark, loc, tgt)
    src = spark.range(0, 5).selectExpr("id AS k", "CAST(1000 AS DOUBLE) AS val")
    v = merge_delta(
        spark,
        loc,
        src,
        ["k"],
        when_matched_update="all",
        when_matched_delete="s.k = 0",
        when_not_matched_by_source_delete="t.k >= 18",
    )
    ch = read_changes(spark, loc, v, v)
    counts = {
        r["_change_type"]: r["n"]
        for r in ch.groupBy("_change_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert counts.get("update_preimage") == 4  # k=1..4
    assert counts.get("update_postimage") == 4
    assert counts.get("delete") == 3  # k=0 matched + k=18,19 by-source
    assert "insert" not in counts
