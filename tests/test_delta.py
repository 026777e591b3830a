"""Delta Lake reader: protocol-level behaviors the gates can't see —
refusals, timestamp travel, vacuumed logs, partition-value decoding."""

from __future__ import annotations

import json
import os
import shutil

import pytest

from icegopher_spark.delta import load_delta, read_delta
from icegopher_spark.delta_queries import _T0, delta_fixture_path

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def fixture_loc() -> str:
    return delta_fixture_path(SF)


def _copy_table(loc: str, tmp_path, name: str) -> str:
    dst = str(tmp_path / name)
    shutil.copytree(loc, dst)
    return dst


def _append_commit(loc: str, version: int, actions: list[dict]) -> None:
    with open(
        os.path.join(loc, "_delta_log", f"{version:020d}.json"), "w", encoding="utf-8"
    ) as f:
        f.write("\n".join(json.dumps(a) for a in actions) + "\n")


# ---------------------------------------------------------------- replay


def test_latest_version_and_live_files(fixture_loc):
    snap = load_delta(fixture_loc)
    assert snap.version == 3
    assert snap.partition_columns == ["o_orderpriority"]
    # v0 (5 files) - 1 removed + v1 (5) + v3 (5) = 14
    assert len(snap.files) == 14
    assert not any("part-00000-5" in p for p, _ in snap.files)


def test_version_travel_marks(fixture_loc):
    assert len(load_delta(fixture_loc, version=0).files) == 5
    assert len(load_delta(fixture_loc, version=1).files) == 10
    assert len(load_delta(fixture_loc, version=2).files) == 9


def test_version_past_latest_raises(fixture_loc):
    with pytest.raises(ValueError, match="> latest"):
        load_delta(fixture_loc, version=99)


def test_timestamp_travel(fixture_loc):
    # commit v's timestamp is _T0 + v*1000; ts between v1 and v2 → v1
    snap = load_delta(fixture_loc, timestamp_ms=_T0 + 1500)
    assert snap.version == 1
    # exactly at v2 → v2 (newest commit with ts <= given)
    assert load_delta(fixture_loc, timestamp_ms=_T0 + 2000).version == 2
    with pytest.raises(ValueError, match="no commit at or before"):
        load_delta(fixture_loc, timestamp_ms=_T0 - 1)


def test_version_and_timestamp_mutually_exclusive(fixture_loc):
    with pytest.raises(ValueError, match="not both"):
        load_delta(fixture_loc, version=1, timestamp_ms=_T0)


def test_vacuumed_log_reads_from_checkpoint(fixture_loc, tmp_path):
    """Pre-checkpoint JSON may be deleted entirely (the protocol allows
    vacuuming it); the checkpoint at v2 must seed the replay."""
    loc = _copy_table(fixture_loc, tmp_path, "vacuumed")
    for v in (0, 1, 2):
        os.remove(os.path.join(loc, "_delta_log", f"{v:020d}.json"))
    snap = load_delta(loc)
    assert snap.version == 3
    assert len(snap.files) == 14
    # but pre-checkpoint versions are no longer reconstructable
    with pytest.raises(FileNotFoundError, match="log has a hole"):
        load_delta(loc, version=1)


def test_checkpoint_only_version_readable(fixture_loc, tmp_path):
    loc = _copy_table(fixture_loc, tmp_path, "cp_only")
    for v in (0, 1, 2, 3):
        os.remove(os.path.join(loc, "_delta_log", f"{v:020d}.json"))
    snap = load_delta(loc)  # only the checkpoint remains
    assert snap.version == 2
    assert len(snap.files) == 9


# --------------------------------------------------------------- refusals


def test_unknown_dv_storage_type_refused(spark, fixture_loc, tmp_path):
    """DVs are now implemented, but an unknown storageType must still
    refuse loudly at read time rather than misread."""
    loc = _copy_table(fixture_loc, tmp_path, "dv")
    _append_commit(
        loc,
        4,
        [
            # protocol-compliant DV attach: remove the DV-less instance,
            # add the (path, dv) instance — replay keys by (path, dv uid)
            {
                "remove": {
                    "path": "part-00000-1.parquet",
                    "deletionTimestamp": _T0,
                    "dataChange": True,
                }
            },
            {
                "add": {
                    "path": "part-00000-1.parquet",
                    "partitionValues": {"o_orderpriority": "1-URGENT"},
                    "size": 1,
                    "modificationTime": _T0,
                    "dataChange": True,
                    "deletionVector": {
                        "storageType": "z",
                        "pathOrInlineDv": "x",
                        "offset": 1,
                        "sizeInBytes": 1,
                        "cardinality": 1,
                    },
                }
            },
        ],
    )
    snap = load_delta(loc)  # replay itself carries the descriptor fine
    assert any(snap.deletion_vectors.values())
    from icegopher_spark.delta import read_delta

    with pytest.raises(NotImplementedError, match="storageType"):
        read_delta(spark, loc)


def test_unknown_column_mapping_mode_refused(fixture_loc, tmp_path):
    """name/id mapping is implemented; an unrecognized mode refuses."""
    loc = _copy_table(fixture_loc, tmp_path, "colmap")
    with open(os.path.join(loc, "_delta_log", f"{0:020d}.json")) as f:
        lines = [json.loads(ln) for ln in f if ln.strip()]
    for a in lines:
        if "metaData" in a:
            a["metaData"]["configuration"] = {"delta.columnMapping.mode": "weird"}
    _append_commit(loc, 0, lines)
    with pytest.raises(NotImplementedError, match="column mapping mode"):
        load_delta(loc, version=0)


def test_unsupported_reader_feature_refused(fixture_loc, tmp_path):
    loc = _copy_table(fixture_loc, tmp_path, "feat")
    _append_commit(
        loc,
        4,
        [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["v2Checkpoint"],
                }
            }
        ],
    )
    with pytest.raises(NotImplementedError, match="v2Checkpoint"):
        load_delta(loc)


def test_supported_reader_feature_ok(fixture_loc, tmp_path):
    loc = _copy_table(fixture_loc, tmp_path, "feat_ok")
    _append_commit(
        loc,
        4,
        [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["timestampNtz"],
                }
            }
        ],
    )
    assert load_delta(loc).version == 4


def test_not_a_delta_table(tmp_path):
    with pytest.raises(FileNotFoundError, match="_delta_log"):
        load_delta(str(tmp_path))


# ------------------------------------------------------------- data path


def test_partition_columns_reattached(spark, fixture_loc):
    df = read_delta(spark, fixture_loc, version=0)
    assert df.columns == ["o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"]
    got = {r["o_orderpriority"] for r in df.select("o_orderpriority").distinct().collect()}
    assert got == {"1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"}
    # every key in v0 is %3==0 and the priority matches the base table
    rows = df.collect()
    assert rows and all(r["o_orderkey"] % 3 == 0 for r in rows)


def test_partition_pruning_limits_scan(spark, fixture_loc):
    df = read_delta(
        spark,
        fixture_loc,
        partition_filter=lambda pv: pv["o_orderpriority"] == "1-URGENT",
    )
    # one URGENT file per add-commit (v0, v1, v3)
    assert len(df.inputFiles()) == 3


def test_empty_selection_keeps_schema(spark, fixture_loc):
    df = read_delta(spark, fixture_loc, partition_filter=lambda pv: False)
    assert df.count() == 0
    assert df.columns == ["o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"]


def test_empty_string_partition_value_is_null_for_nonstring(spark, tmp_path):
    """Protocol: '' in partitionValues means NULL for non-string types."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    loc = str(tmp_path / "nullpart")
    os.makedirs(os.path.join(loc, "_delta_log"))
    pq.write_table(pa.table({"v": pa.array([1, 2], type=pa.int64())}),
                   os.path.join(loc, "f.parquet"))
    schema = {
        "type": "struct",
        "fields": [
            {"name": "v", "type": "long", "nullable": True, "metadata": {}},
            {"name": "p", "type": "integer", "nullable": True, "metadata": {}},
        ],
    }
    _append_commit(
        loc,
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {
                "metaData": {
                    "id": "t",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": json.dumps(schema),
                    "partitionColumns": ["p"],
                    "configuration": {},
                    "createdTime": _T0,
                }
            },
            {
                "add": {
                    "path": "f.parquet",
                    "partitionValues": {"p": ""},
                    "size": 1,
                    "modificationTime": _T0,
                    "dataChange": True,
                }
            },
        ],
    )
    rows = read_delta(spark, loc).collect()
    assert len(rows) == 2 and all(r["p"] is None for r in rows)


# ----------------------------------------------------------------- vacuum


def test_vacuum_finds_removed_file_only(fixture_loc):
    from icegopher_spark.delta import vacuum_candidates

    cands = vacuum_candidates(fixture_loc, retention_ms=0, now_ms=_T0 + 10**12)
    assert len(cands) == 1
    assert os.path.basename(cands[0]) == "part-00000-5.parquet"


def test_vacuum_retention_protects_time_travel(fixture_loc):
    from icegopher_spark.delta import vacuum_candidates

    # retention window reaches back past v0's commit timestamp: every
    # version is still time-travelable, nothing may be vacuumed
    cands = vacuum_candidates(
        fixture_loc, retention_ms=10**12, now_ms=_T0 + 10**12 - 1
    )
    assert cands == []


def test_vacuum_mtime_guard(fixture_loc, tmp_path):
    from icegopher_spark.delta import vacuum_candidates

    # freshen every data file's mtime (the /tmp-cached fixture may be
    # hours old): a "recent" file must be kept by the in-flight-writer
    # guard even when the retention window alone would vacuum it
    import time

    loc = _copy_table(fixture_loc, tmp_path, "mtime")
    for fn in os.listdir(loc):
        if fn.endswith(".parquet"):
            os.utime(os.path.join(loc, fn))
    cands = vacuum_candidates(
        loc, retention_ms=3600 * 1000, now_ms=int(time.time() * 1000)
    )
    assert cands == []


def test_vacuum_never_touches_log(fixture_loc, tmp_path):
    from icegopher_spark.delta import vacuum_candidates

    loc = _copy_table(fixture_loc, tmp_path, "vac_log")
    cands = vacuum_candidates(loc, retention_ms=0, now_ms=_T0 + 10**12)
    assert all("_delta_log" not in c for c in cands)
    # the checkpoint parquet is inside _delta_log and must not appear
    assert not any(c.endswith(".checkpoint.parquet") for c in cands)


# ------------------------------------------------------------ open_table


def test_open_table_sniffs_all_three(spark, fixture_loc, tmp_path):
    from icegopher_spark.open_table import detect_format, open_table

    # delta (version travel passes through)
    assert detect_format(fixture_loc) == "delta"
    v0 = open_table(spark, fixture_loc, version=0)
    assert v0.count() == read_delta(spark, fixture_loc, version=0).count()

    # plain parquet
    assert detect_format(SF) == "parquet"
    n = open_table(spark, f"{SF}").count()
    assert n > 0
    with pytest.raises(ValueError, match="no version history"):
        open_table(spark, SF, version=1)

    # iceberg
    from icegopher_spark.iceberg_queries import _table_for

    t = _table_for(spark, SF)
    loc = t.metadata.location.replace("file://", "")
    assert detect_format(loc) == "iceberg"
    assert open_table(spark, loc).count() == t.scan().to_df(spark).count()

    # ambiguity refused
    both = tmp_path / "both"
    (both / "metadata").mkdir(parents=True)
    (both / "metadata" / "version-hint.text").touch()
    (both / "_delta_log").mkdir()
    with pytest.raises(ValueError, match="BOTH"):
        detect_format(str(both))

    with pytest.raises(ValueError, match="no Iceberg/Delta"):
        detect_format(str(tmp_path / "empty_nothing"))


# ---------------------------------------------------------------- CDF


def test_cdf_recovers_deletes_and_versions(spark, fixture_loc):
    from icegopher_spark.delta import read_changes

    ch = read_changes(spark, fixture_loc, 0, 3)
    agg = {
        (r["_change_type"], r["_commit_version"]): r["n"]
        for r in ch.groupBy("_change_type", "_commit_version")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    assert set(agg) == {("insert", 0), ("insert", 1), ("delete", 2), ("insert", 3)}
    # the delete commit's rows are exactly the removed file's rows
    deleted = ch.filter("_change_type = 'delete'")
    rows = deleted.collect()
    assert all(r["o_orderkey"] % 3 == 0 and r["o_orderpriority"] == "5-LOW" for r in rows)
    # range narrowing
    only2 = read_changes(spark, fixture_loc, 2, 2)
    assert {r["_change_type"] for r in only2.collect()} == {"delete"}


def test_cdf_cdc_files_are_sole_authority(spark, fixture_loc, tmp_path):
    """A commit carrying cdc actions must be read ONLY from its cdc
    files (which carry _change_type in-file, incl. update images) —
    its add/remove actions move data but not change-attribution."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from icegopher_spark.delta import read_changes

    loc = _copy_table(fixture_loc, tmp_path, "cdf_cdc")
    cdc_path = "cdc-00004.parquet"
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array([7, 7], type=pa.int64()),
                "o_custkey": pa.array([1, 1], type=pa.int64()),
                "o_totalprice": pa.array([10.0, 99.0], type=pa.float64()),
                "_change_type": pa.array(["update_preimage", "update_postimage"]),
            }
        ),
        os.path.join(loc, cdc_path),
    )
    _append_commit(
        loc,
        4,
        [
            {
                "cdc": {
                    "path": cdc_path,
                    "partitionValues": {"o_orderpriority": "1-URGENT"},
                    "size": 1,
                    "dataChange": False,
                }
            },
            # the rewritten data files that cdc supersedes for CDF
            {
                "add": {
                    "path": "part-00001-1.parquet",
                    "partitionValues": {"o_orderpriority": "1-URGENT"},
                    "size": 1,
                    "modificationTime": 1,
                    "dataChange": True,
                }
            },
        ],
    )
    ch = read_changes(spark, loc, 4, 4).collect()
    assert len(ch) == 2
    assert {r["_change_type"] for r in ch} == {"update_preimage", "update_postimage"}
    assert all(r["o_orderpriority"] == "1-URGENT" and r["o_orderkey"] == 7 for r in ch)


def test_cdf_schema_change_in_range_refused(spark, fixture_loc, tmp_path):
    from icegopher_spark.delta import read_changes

    loc = _copy_table(fixture_loc, tmp_path, "cdf_schema")
    new_schema = json.loads(
        json.dumps(
            {
                "type": "struct",
                "fields": [
                    {"name": "o_orderkey", "type": "long", "nullable": True, "metadata": {}}
                ],
            }
        )
    )
    _append_commit(
        loc,
        4,
        [
            {
                "metaData": {
                    "id": "icegopher-delta-fixture",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": json.dumps(new_schema),
                    "partitionColumns": [],
                    "configuration": {},
                    "createdTime": 1,
                }
            }
        ],
    )
    with pytest.raises(ValueError, match="changes the table schema"):
        read_changes(spark, loc, 0, 4)


def test_cdf_range_validation(spark, fixture_loc):
    from icegopher_spark.delta import read_changes

    with pytest.raises(ValueError, match="bad CDF range"):
        read_changes(spark, fixture_loc, 2, 1)
    with pytest.raises(ValueError, match="bad CDF range"):
        read_changes(spark, fixture_loc, 0, 99)


def test_delta_history(fixture_loc, tmp_path):
    from icegopher_spark.delta import delta_history

    h = delta_history(fixture_loc)
    assert [r["version"] for r in h] == [3, 2, 1, 0]
    assert h[1]["n_removes"] == 1 and h[1]["n_adds"] == 0
    assert all(r["timestamp"] == _T0 + r["version"] * 1000 for r in h)
    # vacuumed prefix: checkpoint-only versions still listed
    loc = _copy_table(fixture_loc, tmp_path, "hist_vac")
    for v in (0, 1, 2):
        os.remove(os.path.join(loc, "_delta_log", f"{v:020d}.json"))
    h2 = delta_history(loc)
    assert [r["version"] for r in h2] == [3, 2]
    assert h2[1]["operation"] == "UNKNOWN (checkpoint-only)"


def test_ict_timestamp_travel_prefers_in_commit_timestamp(spark):
    """In-Commit Timestamps (protocol § ICT): the resolver must use
    commitInfo.inCommitTimestamp — the fixture's wall-clock `timestamp`
    fields are all equal, so a resolver using them would land on the
    LATEST version for any instant >= _T0."""
    from icegopher_spark.delta import _commit_timestamp
    from icegopher_spark.delta_queries import _T0, delta_ict_fixture_path
    from icegopher_spark.iceberg.io import load_io

    loc = delta_ict_fixture_path(SF)
    assert _commit_timestamp(load_io(loc), loc, 3) == _T0 + 3000
    assert load_delta(loc, timestamp_ms=_T0 + 1000).version == 1
    assert load_delta(loc, timestamp_ms=_T0 + 2500).version == 2
    # history surfaces ICT too
    from icegopher_spark.delta import delta_history

    hist = {h["version"]: h["timestamp"] for h in delta_history(loc)}
    assert hist[2] == _T0 + 2000


def test_vacuum_protocol_check_feature_reads_and_writes(spark, fixture_loc, tmp_path):
    """vacuumProtocolCheck (delta-spark 3.x default) changes no read
    behavior — tables carrying it must read and write, not bounce."""
    loc = _copy_table(fixture_loc, tmp_path, "vpc")
    _append_commit(
        loc,
        4,
        [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["vacuumProtocolCheck"],
                    "writerFeatures": ["vacuumProtocolCheck"],
                }
            }
        ],
    )
    assert load_delta(loc).version == 4
    assert read_delta(spark, loc).count() > 0
    from icegopher_spark.delta_write import append_delta

    df = read_delta(spark, loc).limit(1)
    append_delta(spark, loc, df)
    assert load_delta(loc).version == 5


def test_type_widening_all_faces(spark, tmp_path):
    """int32-written files under a widened long schema: batch
    (spark.read upcast), DataSource face (Arrow kernel cast), and the
    stream source's bootstrap all agree."""
    from icegopher_spark.delta_queries import delta_typewidening_fixture_path

    loc = delta_typewidening_fixture_path(SF)
    batch = read_delta(spark, loc)
    assert dict(batch.dtypes)["o_orderkey"] == "bigint"
    expect = sorted(r["o_orderkey"] for r in batch.collect())

    from icegopher_spark.delta_dsv2 import _DeltaBatchReader

    br = _DeltaBatchReader({"location": loc})
    got = []
    for p in br.partitions():
        for b in br.read(p):
            got.extend(b.column("o_orderkey").to_pylist())
    assert sorted(got) == expect

    from icegopher_spark.streaming.delta_source import _DeltaStreamReader

    r = _DeltaStreamReader({"location": loc})
    got2 = []
    for p in r.partitions(r.initialOffset(), r.latestOffset()):
        for b in r.read(p):
            got2.extend(b.column("o_orderkey").to_pylist())
    assert sorted(got2) == expect


def test_variant_arrow_faces_refuse(spark, tmp_path):
    """VARIANT tables read via the batch path; the Arrow-kernel
    DataSource faces refuse loudly (Arrow has no variant type)."""
    from pyspark.sql import functions as F

    from icegopher_spark.delta_write import append_delta, create_delta_table

    loc = str(tmp_path / "var")
    df = spark.range(3).select(
        F.col("id").alias("k"),
        F.parse_json(F.lit('{"a": 1}')).alias("payload"),
    )
    create_delta_table(loc, df.schema)
    append_delta(spark, loc, df)
    proto = load_delta(loc).protocol
    assert "variantType" in proto["readerFeatures"]
    assert read_delta(spark, loc).count() == 3

    from icegopher_spark.delta_dsv2 import _DeltaBatchReader

    with pytest.raises(NotImplementedError, match="VARIANT"):
        _DeltaBatchReader({"location": loc}).partitions()

    from icegopher_spark.streaming.delta_source import _DeltaStreamReader

    r = _DeltaStreamReader({"location": loc})
    with pytest.raises(NotImplementedError, match="VARIANT"):
        r.partitions(r.initialOffset(), r.latestOffset())


def test_vacuum_execute_deletes_and_table_still_reads(
    spark, fixture_loc, tmp_path, capsys
):
    """vacuum_delta deletes exactly the dry-run candidates, the table
    reads identically afterwards, time travel INSIDE retention keeps
    working, and the <7-day rail refuses without the explicit
    override. CLI --apply drives the same path."""
    import time as _time

    from icegopher_spark.delta import read_delta, vacuum_candidates, vacuum_delta
    from icegopher_spark.iceberg.cli import main as cli_main

    loc = _copy_table(fixture_loc, tmp_path, "vac_exec")
    before_rows = read_delta(spark, loc).count()
    with pytest.raises(ValueError, match="under 7 days"):
        vacuum_delta(loc, retention_ms=1000)
    now = _T0 + 10**12
    cands = vacuum_candidates(loc, retention_ms=0, now_ms=now)
    assert cands  # the fixture has one removed file
    deleted = vacuum_delta(
        loc, retention_ms=0, enforce_retention_check=False, now_ms=now
    )
    assert sorted(deleted) == sorted(
        c.replace(fixture_loc, loc) if fixture_loc in c else c for c in cands
    ) or sorted(os.path.basename(d) for d in deleted) == sorted(
        os.path.basename(c) for c in cands
    )
    for p in deleted:
        assert not os.path.exists(p)
    assert read_delta(spark, loc).count() == before_rows
    # idempotent: second vacuum finds nothing
    assert vacuum_delta(
        loc, retention_ms=0, enforce_retention_check=False, now_ms=now
    ) == []
    # CLI dry-run prints nothing deletable now; --apply without --force
    # refuses a short window via the same rail
    loc2 = _copy_table(fixture_loc, tmp_path, "vac_cli")
    assert (
        cli_main(["delta-vacuum", loc2, "--retention-hours", "1", "--apply"]) == 1
    )
    out = capsys.readouterr()
    assert "under 7 days" in out.err
