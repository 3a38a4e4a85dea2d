"""Politeness scheduler unit tests (FIXTURES.md scenario 4; reference
semantics src/main.rs:688-700, :149-161)."""

from __future__ import annotations

from pyspark.sql import functions as F

from crawler_german_localpoliticans_spark.config import CrawlConfig
from crawler_german_localpoliticans_spark.plans.politeness import schedule_wave
from oracle_reference import crawl_order


def wave_df(spark, n_a=10, n_b=3):
    rows = [(i, f"https://a.de/s{i}", "a.de", i % 3 == 0, False, 5000) for i in range(n_a)]
    rows += [(100 + i, f"https://b.de/s{i}", "b.de", False, False, None) for i in range(n_b)]
    return spark.createDataFrame(
        rows,
        "seq long, url string, host string, keyword_hit boolean, robots_blocked boolean,"
        " crawl_delay_ms long",
    )


def test_effective_delay_is_max_of_config_and_robots(spark):
    cfg = CrawlConfig(politeness_delay_ms=2000)
    out = schedule_wave(wave_df(spark), cfg).select("host", "effective_delay_ms").distinct()
    got = {r["host"]: r["effective_delay_ms"] for r in out.collect()}
    assert got == {"a.de": 5000, "b.de": 2000}  # robots 5s beats 2s; None -> config


def test_priority_order_keyword_first_then_seq(spark):
    cfg = CrawlConfig()
    out = schedule_wave(wave_df(spark), cfg)
    a = {r["seq"]: r["host_slot"] for r in out.where(F.col("host") == "a.de").collect()}
    # keyword rows (seq 0,3,6,9) occupy the first slots in seq order
    assert a[0] == 0 and a[3] == 1 and a[6] == 2 and a[9] == 3
    assert a[1] == 4  # first non-keyword row follows


def test_per_host_rate_cap_honored(spark):
    # host a.de: delay 5000ms, budget 10000ms -> cap 2 pages/slice
    cfg = CrawlConfig(politeness_delay_ms=2000, slice_budget_ms=10000)
    out = schedule_wave(wave_df(spark), cfg)
    sizes = (
        out.groupBy("host", "slice").count().collect()
    )
    for r in sizes:
        cap = 2 if r["host"] == "a.de" else 5  # b.de: 10000/2000 = 5
        assert r["count"] <= cap, (r["host"], r["slice"], r["count"])
    # a.de's 10 pages need ceil(10/2)=5 slices
    a_slices = out.where(F.col("host") == "a.de").agg(F.max("slice")).collect()[0][0]
    assert a_slices == 4


def test_salted_schedule_slots_injective_and_caps_hold(spark):
    """FIXTURES.md scenario 2 (hot host): salted window partitioning keeps
    per-host slots unique, so slice caps still bound every host."""
    cfg = CrawlConfig(politeness_delay_ms=2000, slice_budget_ms=10000, salt_buckets=4)
    out = schedule_wave(wave_df(spark, n_a=40), cfg)
    a = out.where(F.col("host") == "a.de").collect()
    slots = [r["host_slot"] for r in a]
    assert len(set(slots)) == len(slots)  # injective per host
    sizes = out.groupBy("host", "slice").count().collect()
    for r in sizes:
        cap = 2 if r["host"] == "a.de" else 5
        assert r["count"] <= cap


def test_salting_does_not_change_crawl_results(spark, smoke_fixture, smoke_dir, tmp_path):
    from crawler_german_localpoliticans_spark.plans.oracle import crawl_oracle
    from crawler_german_localpoliticans_spark.plans.crawl import CrawlDriver
    from crawler_german_localpoliticans_spark.sources.seeds import seeds_from_table
    from crawler_german_localpoliticans_spark.sources.tables import read_robots

    cfg = CrawlConfig(salt_buckets=4, seen_partitions=8)
    oracle_res = crawl_oracle(smoke_fixture.seeds, smoke_fixture.pages, smoke_fixture.robots, cfg)
    robots = read_robots(spark, f"{smoke_dir}/robots.parquet")
    seeds = seeds_from_table(spark.read.parquet(f"{smoke_dir}/seeds.parquet"))
    d = CrawlDriver(spark, str(tmp_path), f"{smoke_dir}/pages.parquet", robots, cfg)
    tables = d.run(seeds)
    engine_order = [
        (r["depth"], r["seq"], r["url"])
        for r in tables.fetched.select("depth", "seq", "url").orderBy("seq").collect()
    ]
    assert engine_order == crawl_order(oracle_res)
    assert {r["url"] for r in tables.url_seen.select("url").collect()} == oracle_res.url_seen


def test_sched_offset_spacing(spark):
    cfg = CrawlConfig(politeness_delay_ms=2000)
    out = schedule_wave(wave_df(spark), cfg).where(F.col("host") == "a.de")
    offs = sorted(r["sched_offset_ms"] for r in out.collect())
    # consecutive fetches of one host are spaced by the effective delay
    assert offs == [i * 5000 for i in range(10)]
