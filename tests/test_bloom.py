"""Direct properties of the partitioned bloom sidecar (plans/bloom.py) —
the north-rule URL-seen fast path: zero false negatives (exactness depends
on it), bounded false positives (the scale win depends on it), and
version carry-forward across insertion rounds."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawler_german_localpoliticans_spark.plans.bloom import BloomSidecar, with_hashes

PARTS = 8
N = 100_000


def _urls(spark, lo: int, hi: int):
    return spark.range(lo, hi).select(
        F.concat(F.lit("https://h"), F.col("id") % 997, F.lit(".de/p/"), F.col("id")).alias("url")
    )


def test_no_false_negatives_and_bounded_fpr(spark, tmp_path):
    bloom = BloomSidecar(str(tmp_path), PARTS, capacity=N // PARTS, fpp=0.01)
    seen = with_hashes(_urls(spark, 0, N), "url", PARTS).persist()
    # the insert's frame writes the version when it runs: one row per key
    inserted = bloom.insert(seen.select("part", "h1", "h2"), None, 0).count()
    assert inserted == N

    # every inserted key must test maybe_seen — exact-set correctness relies
    # on the no-false-negative guarantee
    hits = bloom.prefilter(seen, 0).where(~F.col("maybe_seen")).count()
    assert hits == 0

    # disjoint unseen keys: false-positive rate near the configured 1%
    unseen = with_hashes(_urls(spark, N, 2 * N), "url", PARTS)
    fp = bloom.prefilter(unseen, 0).where(F.col("maybe_seen")).count()
    assert fp / N < 0.03, fp
    seen.unpersist()


def test_reopen_with_another_partition_count_is_refused(tmp_path):
    """Keys live in part pmod(h1, partitions), so a state written at 32
    partitions and probed at 64 would look keys up in the wrong part files:
    false negatives, and seen URLs enqueued again. Reopening refuses it."""
    BloomSidecar(str(tmp_path), 32, capacity=1024, fpp=0.01)
    BloomSidecar(str(tmp_path), 32, capacity=1024, fpp=0.01)  # same config reopens
    with pytest.raises(ValueError, match="partitions: 32 -> 64"):
        BloomSidecar(str(tmp_path), 64, capacity=1024, fpp=0.01)


def test_version_carry_forward_is_cumulative(spark, tmp_path):
    bloom = BloomSidecar(str(tmp_path), PARTS, capacity=4096, fpp=0.01)
    a = with_hashes(_urls(spark, 0, 2000), "url", PARTS)
    first = bloom.insert(a.select("part", "h1", "h2"), None, 0).collect()
    # probed against the empty filter: nothing is maybe-seen
    assert not any(row["maybe_seen"] for row in first)
    # second round touches only one partition; the rest carry forward. Its
    # keys of `a` probe version 0 in the same pass, so they come back seen.
    b = with_hashes(_urls(spark, 2000, 4000), "url", PARTS).where(F.col("part") == 3)
    again = a.where(F.col("part") == 3).select("part", "h1", "h2")
    second = bloom.insert(b.select("part", "h1", "h2").unionByName(again), 0, 1).collect()
    seen_keys = {(row["h1"], row["h2"]) for row in again.collect()}
    assert seen_keys
    assert all(row["maybe_seen"] for row in second if (row["h1"], row["h2"]) in seen_keys)

    both = a.unionByName(b)
    misses = bloom.prefilter(both, 1).where(~F.col("maybe_seen")).count()
    assert misses == 0


def test_crawl_bloom_versions_equal_cumulative_frontier_inserts(spark, smoke_dir, tmp_path):
    """The crawl writes bloom version r+1 from every deduped child of round
    r, not only the enqueued ones. The children the URL-seen anti-join
    drops are already in bloom version r, so each version must be
    byte-identical to a fresh filter built from frontier rounds 0..k."""
    import os

    from crawler_german_localpoliticans_spark.config import CrawlConfig
    from crawler_german_localpoliticans_spark.plans.crawl import CrawlDriver
    from crawler_german_localpoliticans_spark.sources.seeds import seeds_from_table
    from crawler_german_localpoliticans_spark.sources.tables import FRONTIER_SCHEMA, read_robots

    config = CrawlConfig(seen_partitions=PARTS)
    work = str(tmp_path / "work")
    driver = CrawlDriver(
        spark, work, f"{smoke_dir}/pages.parquet",
        read_robots(spark, f"{smoke_dir}/robots.parquet"), config,
    )
    tables = driver.run(seeds_from_table(spark.read.parquet(f"{smoke_dir}/seeds.parquet")))
    versions = sorted({m["bloom_version"] for m in tables.metrics} | {0})
    assert len(versions) > 1  # the smoke crawl expands

    fresh = BloomSidecar(
        str(tmp_path / "fresh"), PARTS, config.bloom_capacity_per_partition, config.bloom_fpp
    )
    for k in versions:
        rnd = driver.catalog.read_rounds("frontier", [k], FRONTIER_SCHEMA)
        fresh.insert(with_hashes(rnd, "url", PARTS), k - 1 if k else None, k).count()
        crawl_dir, fresh_dir = driver.bloom._vdir(k), fresh._vdir(k)
        names = sorted(n for n in os.listdir(crawl_dir) if n.startswith("part-"))
        assert names == sorted(n for n in os.listdir(fresh_dir) if n.startswith("part-")), k
        assert names, k
        for name in names:
            with open(os.path.join(crawl_dir, name), "rb") as a, open(os.path.join(fresh_dir, name), "rb") as b:
                assert a.read() == b.read(), (k, name)
