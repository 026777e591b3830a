"""Persist-registry thread safety (r9 verdict #8): interleaved calls in
one SparkSession must never orphan a persisted frame (a leak for the
session's lifetime) or corrupt the session cache — stealing another
in-flight call's warm cache is allowed (costs a recompute only)."""

from __future__ import annotations

import random
import sys
import threading
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

import icegopher_spark.iceberg.write as W
from icegopher_spark import session_cache
from icegopher_spark.iceberg import expressions as E
from icegopher_spark.iceberg.changelog import changelog_df
from icegopher_spark.iceberg.schema import Schema
from icegopher_spark.iceberg.types import DoubleType, LongType, NestedField


def _mk(spark, path, n=30):
    schema = Schema(
        (
            NestedField(1, "k", LongType(), True),
            NestedField(2, "v", DoubleType(), False),
        ),
        schema_id=0,
    )
    t = W.create_table(str(path), schema)
    df = spark.range(n).select(F.col("id").alias("k"), F.col("id").cast("double").alias("v"))
    t = W.append(t, df)
    t = W.delete_where_mor(t, spark, E.equal_to("k", 1))
    t = W.append(t, spark.createDataFrame([(100, 1.0)], "k long, v double"))
    return t


def _persisted_count(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_concurrent_changelogs_no_leak(spark, tmp_path):
    tables = [_mk(spark, tmp_path / f"t{i}") for i in range(2)]
    first = [t.metadata.snapshots[0].snapshot_id for t in tables]
    slots = [("changelog", t.location) for t in tables]

    def tracked() -> int:
        return sum(len(session_cache.held(spark, slot)) for slot in slots)

    # baseline: other suites in the shared session may hold persisted
    # frames of their own (simhash slot, incremental index, ...) — this
    # test asserts the CHANGELOG slots' growth only
    baseline = _persisted_count(spark) - tracked()

    def run(i: int):
        t = tables[i % 2]
        rows = changelog_df(t, spark, from_snapshot_id=first[i % 2]).collect()
        # delete of k=1 plus insert of k=100 must always be present
        kinds = {(r["k"], r["_change_type"]) for r in rows}
        assert (1, "delete") in kinds and (100, "insert") in kinds

    with ThreadPoolExecutor(max_workers=4) as ex:
        list(ex.map(run, range(12)))  # raises if any worker failed

    # the cache holds at most one frame list per table, and the total
    # persisted-block residency is bounded by what those lists track —
    # nothing orphaned by the interleaving
    assert sum(1 for slot in slots if session_cache.held(spark, slot)) <= 2
    assert _persisted_count(spark) - baseline <= tracked() + 2


def test_concurrent_simhash_no_leak(spark):
    from icegopher_spark.operators.dedup import simhash_neardup_pairs

    df = spark.createDataFrame(
        [(i, f"the quick brown fox {i % 5} jumps over") for i in range(40)],
        "doc_id long, text string",
    )

    def run(_: int):
        simhash_neardup_pairs(df, max_hamming=2).count()

    with ThreadPoolExecutor(max_workers=4) as ex:
        list(ex.map(run, range(8)))
    # exactly the latest call's frame
    assert len(session_cache.held(spark, "simhash_signatures")) == 1


def test_concurrent_manifest_decode_memo_at_cap():
    """8 threads over more manifests than the decode memo holds: it
    never exceeds its cap, its record count matches what it holds,
    every call is counted once as a hit or a miss, and every caller
    gets the file's own entries."""
    import random
    import struct
    import sys

    from icegopher_spark.iceberg.manifests import (
        DataFile,
        ManifestEntry,
        ManifestEntryStatus,
        _DecodeMemo,
        _weight,
        write_manifest,
    )

    pfields = [{"name": "flag", "type": ["null", "string"], "field-id": 1000}]
    files = [
        write_manifest(
            [
                ManifestEntry(
                    ManifestEntryStatus.ADDED,
                    1,
                    DataFile(
                        file_path=f"/d/{m}-{i}.parquet",
                        partition={"flag": str(m)},
                        lower_bounds={1: struct.pack("<q", i)},
                    ),
                )
                for i in range(1 + m % 4)
            ],
            pfields,
        )
        for m in range(16)
    ]
    cap = 100  # 2 to 10 of the 16 files, weighing 10 to 40 items each
    memo = _DecodeMemo(max_items=cap)
    calls_per_thread = 300

    def run(seed: int) -> None:
        rng = random.Random(seed)
        for _ in range(calls_per_thread):
            m = rng.randrange(len(files))
            recs = memo.records(files[m])
            assert [r["data_file"]["file_path"] for r in recs] == [
                f"/d/{m}-{i}.parquet" for i in range(1 + m % 4)
            ]
            assert memo.stats()["items"] <= cap

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # interleave threads inside the memo
    try:
        with ThreadPoolExecutor(max_workers=8) as ex:
            list(ex.map(run, range(8), timeout=120))
    finally:
        sys.setswitchinterval(switch)

    s = memo.stats()
    assert s["hits"] + s["misses"] == 8 * calls_per_thread
    assert s["evictions"] > 0 and s["hits"] > 0
    assert s["items"] <= cap
    assert s["items"] == sum(_weight(r) for r, _ in memo._records.values())
    assert s["files"] == len(memo._records)


def test_concurrent_session_cache_bounds(spark):
    """8 threads drive memo() with persisted values past the persisted
    cap and rotate/hold/release on shared slots: the caps hold, every
    frame that left the cache was unpersisted exactly once and no other
    was, the persisted RDDs grew only by what the cache holds, and
    every memo call counted as one hit or one miss."""
    n = spark.newSession()
    # push every earlier entry out, so the cache holds only this test's
    for i in range(session_cache.MAX_ENTRIES):
        session_cache.memo(n, ("fill", i), lambda: None)
    baseline = _persisted_count(spark)
    before = session_cache.stats()
    lock = threading.Lock()
    unpersists: Counter = Counter()
    made = []

    def frame(tag: str):
        df = n.range(1).selectExpr(f"'{tag}' AS tag").persist()
        df.count()  # materialize, so the persisted RDD exists
        unpersist = df.unpersist

        def counted(*a, **kw):
            with lock:
                unpersists[tag] += 1
            return unpersist(*a, **kw)

        df.unpersist = counted
        with lock:
            made.append((tag, df))
        return df

    ops_per_thread, memo_calls = 16, Counter()

    def run(t: int) -> None:
        rng = random.Random(t)
        for i in range(ops_per_thread):
            tag = f"{t}-{i}"
            op = rng.randrange(4)
            if op < 2:
                memo_calls[t] += 1
                session_cache.memo(n, ("frame", rng.randrange(12)), lambda: frame(tag))
            else:
                slot = ("slot", rng.randrange(3))
                if op == 2:
                    session_cache.rotate(n, slot, frame(tag))
                elif rng.random() < 0.5:
                    session_cache.hold(n, slot, frame(tag))
                else:
                    session_cache.release(n, slot)
            s = session_cache.stats()
            assert s["entries"] <= session_cache.MAX_ENTRIES
            assert s["persisted"] <= session_cache.MAX_PERSISTED

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # interleave threads inside the cache
    try:
        with ThreadPoolExecutor(max_workers=8) as ex:
            list(ex.map(run, range(8), timeout=300))
    finally:
        sys.setswitchinterval(switch)

    after = session_cache.stats()
    assert after["entries"] <= session_cache.MAX_ENTRIES
    assert after["persisted"] <= session_cache.MAX_PERSISTED
    assert after["evictions"] > before["evictions"]
    assert (after["hits"] - before["hits"]) + (after["misses"] - before["misses"]) == sum(
        memo_calls.values()
    )
    # frames the cache still owns: persisted memo values and held frames
    live = {id(df) for k, (_, f) in session_cache._CACHE.items() if k[0] is n for df in f}
    assert len(live) == after["persisted"] + after["held"]
    for tag, df in made:
        assert unpersists[tag] == (0 if id(df) in live else 1), tag
    assert after["unpersists"] - before["unpersists"] == len(made) - len(live)
    assert _persisted_count(spark) - baseline <= len(live)
