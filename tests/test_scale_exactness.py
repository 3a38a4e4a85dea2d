"""Large-profile exactness stress: engine vs oracle at ~10k pages with
heavy hot-host skew, bloom prefilter + salted politeness on. Slow (~2 min);
gated behind SPARK_SLOW_TESTS=1 (CI default runs the smoke/correctness
profiles)."""

from __future__ import annotations

import os

import pytest

from crawler_german_localpoliticans_spark import fixtures
from crawler_german_localpoliticans_spark.config import CrawlConfig
from crawler_german_localpoliticans_spark.fixtures import write_fixture_parquet
from crawler_german_localpoliticans_spark.plans.crawl import CrawlDriver
from crawler_german_localpoliticans_spark.plans.oracle import crawl_oracle
from crawler_german_localpoliticans_spark.sources.seeds import seeds_from_table
from crawler_german_localpoliticans_spark.sources.tables import read_robots
from oracle_reference import crawl_order
from fixture_profiles import STRESS

pytestmark = pytest.mark.skipif(
    os.environ.get("SPARK_SLOW_TESTS") != "1",
    reason="large-profile stress; set SPARK_SLOW_TESTS=1",
)


def test_stress_profile_exact_match(spark, tmp_path):
    fx = fixtures.generate(STRESS)
    fx_dir = tmp_path / "fx"
    fx_dir.mkdir()
    write_fixture_parquet(fx, str(fx_dir))

    config = CrawlConfig(seen_partitions=32, salt_buckets=8)
    oracle_res = crawl_oracle(fx.seeds, fx.pages, fx.robots, config)
    assert len(oracle_res.fetched) > 3000  # the profile actually fans out

    robots = read_robots(spark, f"{fx_dir}/robots.parquet")
    seeds = seeds_from_table(spark.read.parquet(f"{fx_dir}/seeds.parquet"))
    driver = CrawlDriver(spark, str(tmp_path / "work"), f"{fx_dir}/pages.parquet", robots, config)
    tables = driver.run(seeds)

    engine_order = [
        (r["depth"], r["seq"], r["url"])
        for r in tables.fetched.select("depth", "seq", "url").orderBy("seq").collect()
    ]
    assert engine_order == crawl_order(oracle_res)
    engine_seen = {r["url"] for r in tables.url_seen.select("url").collect()}
    assert engine_seen == oracle_res.url_seen
    # hot host actually got the skewed traffic
    hot = [u for _, _, u in engine_order if "host0000" in u]
    assert len(hot) > 40
