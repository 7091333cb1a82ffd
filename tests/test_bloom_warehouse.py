"""Unit tests: Bloom pre-filter guarantees + warehouse snapshot layer."""

import pandas as pd

from privacy_crawler_parser_tokenizer_spark.operators.bloom import (
    BloomFilter,
    ShardedBloom,
)
from privacy_crawler_parser_tokenizer_spark.sources.warehouse import Warehouse


def test_bloom_no_false_negatives():
    b = BloomFilter(capacity=1000, fpp=0.01)
    added = pd.Series([f"http://x{i}.com/p" for i in range(1000)])
    b.add(added)
    assert b.might_contain(added).all()


def test_bloom_fpp_reasonable():
    b = BloomFilter(capacity=2000, fpp=0.01)
    b.add(pd.Series([f"url-{i}" for i in range(2000)]))
    probes = pd.Series([f"other-{i}" for i in range(10000)])
    fp = b.might_contain(probes).mean()
    assert fp < 0.05, fp


def test_bloom_merge_and_shards():
    a = BloomFilter(1000)
    c = BloomFilter(1000)
    a.add(pd.Series(["u1", "u2"]))
    c.add(pd.Series(["u3"]))
    a.merge(c)
    assert a.might_contain(pd.Series(["u1", "u2", "u3"])).all()

    s = ShardedBloom(capacity=4000, n_shards=4)
    vals = pd.Series([f"k{i}" for i in range(500)])
    s.add(vals)
    assert s.might_contain(vals).all()
    assert s.might_contain(pd.Series(["nope" * 4])).sum() <= 1


def test_warehouse_snapshots_and_commits(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    df1 = spark.createDataFrame([(1, "a")], "id int, v string")
    df2 = spark.createDataFrame([(2, "b")], "id int, v string")
    wh.write(df1, "t", 0)
    wh.write(df2, "t", 1)
    assert wh.read(spark, "t").collect()[0].id == 2          # current
    assert wh.read(spark, "t", snapshot=0).collect()[0].id == 1  # time travel
    assert wh.read(spark, "missing") is None

    wh.commit(0, ["t"])
    wh.commit(1, ["t"])
    assert wh.last_committed_round() == 1

    # re-write of an uncommitted snapshot is idempotent (crash replay)
    wh.write(df1, "t", 1)
    assert wh.read(spark, "t").collect()[0].id == 1

    wh.write(df2, "t", 2)
    wh.write(df2, "t", 3)
    wh.expire_snapshots("t", keep=2)
    assert wh.snapshots("t") == [2, 3]


def test_warehouse_compaction(spark, tmp_path):
    """Compaction merges delta snapshots <= upto into one; readers see
    identical contents; later snapshots untouched."""
    wh = Warehouse(str(tmp_path / "whc"))
    for i in range(4):
        wh.write(spark.createDataFrame([(i,)], "v int"), "t", i)
    wh.compact(spark, "t", 2)
    assert sorted(wh.snapshots("t")) == [2, 3]
    merged = spark.read.parquet(wh.snapshot_path("t", 2))
    assert sorted(r.v for r in merged.collect()) == [0, 1, 2]
    assert spark.read.parquet(wh.snapshot_path("t", 3)).collect()[0].v == 3
    # idempotent / no-op on single snapshot
    wh.compact(spark, "t", 2)
    assert sorted(wh.snapshots("t")) == [2, 3]


def test_warehouse_monitor_blocks_compaction(spark, tmp_path):
    """An attached streaming monitor pins the snap= dirs: compaction is
    a no-op until the marker is released (ADVICE r01 race)."""
    wh = Warehouse(str(tmp_path / "whm"))
    for i in range(4):
        wh.write(spark.createDataFrame([(i,)], "v int"), "t", i)
    marker = wh.acquire_monitor("t")
    wh.compact(spark, "t", 3)
    assert sorted(wh.snapshots("t")) == [0, 1, 2, 3]  # untouched
    wh.release_monitor(marker)
    wh.compact(spark, "t", 3)
    assert sorted(wh.snapshots("t")) == [3]
