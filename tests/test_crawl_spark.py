"""End-to-end golden tests: the Spark crawl engine must exactly match the
single-threaded reference oracle on shared fixtures (BASELINE.json:
"crawl-order + URL-seen exact match vs reference on shared seed list";
byte-identical extracted text per url)."""

from __future__ import annotations

from crawler_german_localpoliticans_spark.config import CrawlConfig
from crawler_german_localpoliticans_spark.plans.crawl import CrawlDriver
from crawler_german_localpoliticans_spark.plans.oracle import crawl_oracle
from crawler_german_localpoliticans_spark.sources.seeds import seeds_from_table


def run_engine(spark, fixture_dir, tmp_path, config):
    from crawler_german_localpoliticans_spark.sources.tables import read_robots

    robots = read_robots(spark, f"{fixture_dir}/robots.parquet")
    seeds = seeds_from_table(spark.read.parquet(f"{fixture_dir}/seeds.parquet"))
    driver = CrawlDriver(
        spark, str(tmp_path), f"{fixture_dir}/pages.parquet", robots, config
    )
    return driver.run(seeds), driver


def assert_exact_match(tables, oracle_res):
    # crawl order: (depth, seq, url) exact
    engine_order = [
        (r["depth"], r["seq"], r["url"])
        for r in tables.fetched.select("depth", "seq", "url").orderBy("seq").collect()
    ]
    assert engine_order == oracle_res.crawl_order

    # per-page payloads exact: found_links, flags
    engine_rows = {
        r["seq"]: r
        for r in tables.fetched.select(
            "seq", "url", "found_links", "keyword_hit", "robots_blocked", "fetch_failed"
        ).collect()
    }
    for o in oracle_res.fetched:
        e = engine_rows[o.seq]
        assert e["url"] == o.url
        assert list(e["found_links"]) == o.found_links, o.url
        assert e["keyword_hit"] == o.keyword_hit, o.url
        assert e["robots_blocked"] == o.robots_blocked, o.url
        assert e["fetch_failed"] == o.fetch_failed, o.url

    # URL-seen set exact
    engine_seen = {r["url"] for r in tables.url_seen.select("url").collect()}
    assert engine_seen == oracle_res.url_seen

    # extraction bytes exact per url
    engine_ext = {
        r["url"]: (r["clean_html"], r["text"], r["custom_id"])
        for r in tables.extracted.collect()
    }
    oracle_ext = {
        e["url"]: (e["clean_html"], e["text"], e["custom_id"]) for e in oracle_res.extracted
    }
    assert engine_ext == oracle_ext


def test_smoke_exact_match(spark, smoke_fixture, smoke_dir, tmp_path):
    config = CrawlConfig(seen_partitions=8)
    oracle_res = crawl_oracle(smoke_fixture.seeds, smoke_fixture.pages, smoke_fixture.robots, config)
    tables, _ = run_engine(spark, smoke_dir, tmp_path, config)
    assert_exact_match(tables, oracle_res)


def test_correctness_exact_match(spark, correctness_fixture, correctness_dir, tmp_path):
    config = CrawlConfig(seen_partitions=16)
    oracle_res = crawl_oracle(
        correctness_fixture.seeds, correctness_fixture.pages, correctness_fixture.robots, config
    )
    tables, driver = run_engine(spark, correctness_dir, tmp_path, config)
    assert_exact_match(tables, oracle_res)
    # sanity: the crawl actually exercised the interesting paths
    assert any(m.get("robots_blocked", 0) > 0 for m in tables.metrics)
    assert any(m.get("enqueued", 0) > 0 for m in tables.metrics)


def test_politeness_slicing_does_not_change_results(spark, smoke_fixture, smoke_dir, tmp_path):
    """FIXTURES.md scenario 4: per-host rate caps cut each wave's schedule
    into slices, with results unchanged."""
    config = CrawlConfig(
        slice_budget_ms=4000,  # cap = 4000/eff_delay pages per host per slice
        seen_partitions=8,
    )
    oracle_res = crawl_oracle(smoke_fixture.seeds, smoke_fixture.pages, smoke_fixture.robots, config)
    tables, driver = run_engine(spark, smoke_dir, tmp_path, config)
    assert_exact_match(tables, oracle_res)
    # the schedule itself honored the cap
    assert all(m["politeness"]["slices"] >= 1 for m in tables.metrics)


def test_dedup_idempotent_rerun(spark, smoke_fixture, smoke_dir, tmp_path):
    """Property (SURVEY.md §5): re-running from checkpoints changes nothing."""
    config = CrawlConfig(seen_partitions=8)
    tables, driver = run_engine(spark, smoke_dir, tmp_path, config)
    before = sorted(
        (r["depth"], r["seq"], r["url"]) for r in tables.fetched.collect()
    )
    resumed = driver.run(resume=True)  # nothing left to do: same tables
    after = sorted((r["depth"], r["seq"], r["url"]) for r in resumed.fetched.collect())
    assert before == after


def test_metrics_recorded(spark, smoke_dir, tmp_path):
    config = CrawlConfig(seen_partitions=8)
    tables, driver = run_engine(spark, smoke_dir, tmp_path, config)
    assert len(tables.metrics) == config.max_depth + 1
    for m in tables.metrics:
        assert m["scheduled"] > 0
        assert "lineage" in m and "politeness" in m
        assert m["wall_s"] >= 0
