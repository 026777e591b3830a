"""Crash safety of the commit files of both table formats.

A write that dies part-way (disk full, killed process) must leave each
table loadable at its pre-commit state, and the next commit must
succeed. The failure is injected at the file layer: ``open`` hands out
a handle whose ``write`` lands half of its bytes and then raises, or
the parquet encoder dies half-way through its output. No Spark: every
commit here is metadata-only or adopts pyarrow-written files.
"""

import builtins
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from icegopher_spark.delta import load_delta
from icegopher_spark.delta_write import _commit, create_delta_table, write_checkpoint
from icegopher_spark.iceberg import write as W
from icegopher_spark.iceberg.schema import Schema
from icegopher_spark.iceberg.table import Table
from icegopher_spark.iceberg.types import LongType as IceLong
from icegopher_spark.iceberg.types import NestedField

ICE_SCHEMA = Schema((NestedField(1, "k", IceLong(), False),), schema_id=0)
DELTA_SCHEMA = StructType([StructField("k", LongType()), StructField("p", StringType())])


class _TornFile:
    """A write handle whose ``write`` lands half its bytes, then fails."""

    def __init__(self, f):
        self.f = f

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.f.close()

    def write(self, data):
        self.f.write(data[: len(data) // 2])
        self.f.flush()
        raise OSError(28, "No space left on device (injected)")


def _tear_writes(monkeypatch, name_part: str) -> None:
    """Every write-mode ``open`` of a path containing ``name_part``
    tears (temp files named after their target included)."""
    real_open = builtins.open

    def torn_open(file, mode="r", *args, **kwargs):
        f = real_open(file, mode, *args, **kwargs)
        if any(c in mode for c in "wxa") and name_part in os.fspath(file):
            return _TornFile(f)
        return f

    monkeypatch.setattr(builtins, "open", torn_open)


def _parquet(tmp_path, name: str, ks: list[int]) -> str:
    path = str(tmp_path / name)
    pq.write_table(pa.table({"k": pa.array(ks, pa.int64())}), path)
    return path


def _ice_files(t: Table) -> int:
    return len(t.scan().plan_files())


def test_torn_iceberg_version_file_leaves_table_at_pre_commit_state(tmp_path, monkeypatch):
    loc = str(tmp_path / "ice")
    t = W.add_files(W.create_table(loc, ICE_SCHEMA), [_parquet(tmp_path, "a.parquet", [1])])
    _tear_writes(monkeypatch, "v3.metadata.json")
    with pytest.raises(OSError, match="injected"):
        W.add_files(t, [_parquet(tmp_path, "b.parquet", [2])])
    monkeypatch.undo()

    t = Table.from_location(loc)
    assert t.metadata_location.endswith("/v2.metadata.json")
    assert _ice_files(t) == 1
    # the next commit takes the version the torn one never claimed
    t = W.add_files(t, [_parquet(tmp_path, "c.parquet", [3])])
    assert t.metadata_location.endswith("/v3.metadata.json")
    assert _ice_files(Table.from_location(loc)) == 2


def test_stale_version_hint_steps_forward(tmp_path, monkeypatch):
    loc = str(tmp_path / "ice")
    t = W.add_files(W.create_table(loc, ICE_SCHEMA), [_parquet(tmp_path, "a.parquet", [1])])
    # v3 lands whole; the hint rewrite after it dies
    _tear_writes(monkeypatch, "version-hint.text")
    with pytest.raises(OSError, match="injected"):
        W.add_files(t, [_parquet(tmp_path, "b.parquet", [2])])
    monkeypatch.undo()
    hint = tmp_path / "ice" / "metadata" / "version-hint.text"
    assert hint.read_text().strip() == "2"

    t = Table.from_location(loc)
    assert t.metadata_location.endswith("/v3.metadata.json")
    assert _ice_files(t) == 2
    assert _ice_files(Table.from_location(f"{loc}/metadata/v2.metadata.json").refresh()) == 2
    t = W.add_files(t, [_parquet(tmp_path, "c.parquet", [3])])
    assert hint.read_text().strip() == "4"
    assert _ice_files(Table.from_location(loc)) == 3


def _delta_add(loc: str, version: int, name: str) -> None:
    """Commit ``version``: one add of a new one-row file in partition p=x."""
    os.makedirs(os.path.join(loc, "p=x"), exist_ok=True)
    path = os.path.join(loc, "p=x", name)
    pq.write_table(pa.table({"k": pa.array([version], pa.int64())}), path)
    add = {
        "path": f"p=x/{name}",
        "partitionValues": {"p": "x"},
        "size": os.path.getsize(path),
        "modificationTime": 0,
        "dataChange": True,
    }
    _commit(loc, version, [{"add": add}])


def test_torn_delta_commit_leaves_table_at_pre_commit_state(tmp_path, monkeypatch):
    loc = str(tmp_path / "delta")
    create_delta_table(loc, DELTA_SCHEMA, ["p"])
    _delta_add(loc, 1, "a.parquet")
    _tear_writes(monkeypatch, f"{2:020d}.json")
    with pytest.raises(OSError, match="injected"):
        _delta_add(loc, 2, "b.parquet")
    monkeypatch.undo()

    snap = load_delta(loc)
    assert snap.version == 1
    assert [os.path.basename(p) for p, _ in snap.files] == ["a.parquet"]
    _delta_add(loc, 2, "c.parquet")
    assert [os.path.basename(p) for p, _ in load_delta(loc).files] == [
        "a.parquet",
        "c.parquet",
    ]


def _tear_parquet_encoder(monkeypatch) -> None:
    """``pq.write_table`` dies half-way through its output, wherever
    that output goes."""
    real_write_table = pq.write_table

    def torn(table, where, *args, **kwargs):
        sink = pa.BufferOutputStream()
        real_write_table(table, sink, *args, **kwargs)
        data = sink.getvalue().to_pybytes()
        half = data[: len(data) // 2]
        if isinstance(where, (str, os.PathLike)):
            with builtins.open(where, "wb") as f:
                f.write(half)
        else:
            where.write(half)
        raise OSError(28, "No space left on device (injected)")

    monkeypatch.setattr(pq, "write_table", torn)


@pytest.mark.parametrize("layer", ["encoder", "file"])
def test_torn_delta_checkpoint_leaves_table_loadable(tmp_path, monkeypatch, layer):
    loc = str(tmp_path / "delta")
    create_delta_table(loc, DELTA_SCHEMA, ["p"])
    _delta_add(loc, 1, "a.parquet")
    _delta_add(loc, 2, "b.parquet")
    if layer == "encoder":
        _tear_parquet_encoder(monkeypatch)
    else:
        _tear_writes(monkeypatch, ".checkpoint.parquet")
    with pytest.raises(OSError, match="injected"):
        write_checkpoint(loc)
    monkeypatch.undo()

    snap = load_delta(loc)
    assert snap.version == 2
    assert [os.path.basename(p) for p, _ in snap.files] == ["a.parquet", "b.parquet"]
    log = os.path.join(loc, "_delta_log")
    assert not [f for f in os.listdir(log) if ".checkpoint." in f]
    # a later checkpoint lands and seeds replay on its own
    assert write_checkpoint(loc) == 2
    assert json.loads(open(os.path.join(log, "_last_checkpoint")).read())["version"] == 2
    for v in range(3):
        os.remove(os.path.join(log, f"{v:020d}.json"))
    assert [os.path.basename(p) for p, _ in load_delta(loc).files] == ["a.parquet", "b.parquet"]
