"""Session identity of the cached plans: a new session and a changed
shuffle-partition target each miss, and every frame handed out belongs
to the session that asked for it."""

from __future__ import annotations

import pytest

from icegopher_spark import session_cache
from icegopher_spark.iceberg.table import _memo_reader
from icegopher_spark.queries import load


@pytest.fixture
def sf_dir(spark, tmp_path):
    # one file, so the scan has one split and _scale_out always repartitions
    docs = spark.range(40).selectExpr("id AS doc_id", "concat('doc ', id) AS text")
    docs.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    spark.range(5).selectExpr("id AS r_regionkey").write.parquet(str(tmp_path / "region.parquet"))
    return str(tmp_path)


def _delta(before: dict) -> dict:
    after = session_cache.stats()
    return {k: after[k] - before[k] for k in ("hits", "misses")}


def test_new_session_gets_its_own_frames(spark, sf_dir):
    first = load(spark, sf_dir, "region")
    assert first.sparkSession is spark
    n = spark.newSession()
    before = session_cache.stats()
    mine = load(n, sf_dir, "region")
    assert mine.sparkSession is n
    assert _delta(before) == {"hits": 0, "misses": 1}
    assert load(n, sf_dir, "region") is mine
    assert load(spark, sf_dir, "region") is first
    assert _delta(before) == {"hits": 2, "misses": 1}

    paths = [f"{sf_dir}/region.parquet"]
    schema = first.schema
    reader = _memo_reader(spark, schema, "PARQUET", paths)
    before = session_cache.stats()
    other = _memo_reader(n, schema, "PARQUET", paths)
    assert other.sparkSession is n and reader.sparkSession is spark
    assert _delta(before) == {"hits": 0, "misses": 1}
    assert other.collect() == reader.collect()


def test_shuffle_partition_change_misses_load_memo(spark, sf_dir):
    conf = "spark.sql.shuffle.partitions"
    target = spark.conf.get(conf)
    docs = load(spark, sf_dir, "documents")
    try:
        spark.conf.set(conf, str(int(target) + 3))
        before = session_cache.stats()
        wider = load(spark, sf_dir, "documents")
        assert _delta(before) == {"hits": 0, "misses": 1}
        assert wider is not docs
        # the miss re-took _scale_out's decision at the new target
        assert wider.rdd.getNumPartitions() == int(target) + 3
    finally:
        spark.conf.set(conf, target)
    before = session_cache.stats()
    assert load(spark, sf_dir, "documents") is docs
    assert _delta(before) == {"hits": 1, "misses": 0}
    assert docs.rdd.getNumPartitions() == int(target)


def test_rotate_keeps_cache_of_identical_repeat(spark):
    """A repeat call that builds the same plan shares the released
    frame's CacheManager entry, so rotating must not unpersist it: the
    held frame stays cached and no persisted RDD is added. A call with
    a different plan still releases the previous cache."""
    from icegopher_spark.operators.dedup import simhash_neardup_pairs

    df = spark.createDataFrame(
        [(i, f"the quick brown fox {i % 5} jumps over") for i in range(40)],
        "doc_id long, text string",
    )
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    simhash_neardup_pairs(df, max_hamming=2).count()
    first = session_cache.held(spark, "simhash_signatures")[0]
    n_rdds = persistent().size()
    simhash_neardup_pairs(df, max_hamming=2).count()
    held = session_cache.held(spark, "simhash_signatures")
    assert len(held) == 1 and held[0] is not first
    assert held[0].storageLevel.useMemory
    assert persistent().size() <= n_rdds
    simhash_neardup_pairs(df.filter("doc_id < 30"), max_hamming=2).count()
    assert not first.storageLevel.useMemory
