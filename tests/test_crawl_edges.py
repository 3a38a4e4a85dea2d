"""Engine edge cases: drained frontiers, max_depth=0, all-blocked seeds."""

from __future__ import annotations

from crawler_german_localpoliticans_spark.config import CrawlConfig
from crawler_german_localpoliticans_spark.fixtures import write_fixture_parquet
from crawler_german_localpoliticans_spark.plans.crawl import CrawlDriver
from crawler_german_localpoliticans_spark.plans.oracle import crawl_oracle
from crawler_german_localpoliticans_spark.sources.seeds import seeds_from_table
from crawler_german_localpoliticans_spark.sources.tables import read_robots


def run_both(spark, tmp_path, seeds, pages, robots, config):
    from crawler_german_localpoliticans_spark.fixtures import WebFixture, SMOKE

    fx = WebFixture(
        SMOKE, seeds, pages, robots,
        {u: i for i, u in enumerate(pages)}, {u: "de" for u in pages},
    )
    d = tmp_path / "fx"
    d.mkdir()
    write_fixture_parquet(fx, str(d))
    oracle_res = crawl_oracle(seeds, pages, robots, config)
    robots_df = read_robots(spark, f"{d}/robots.parquet")
    seeds_df = seeds_from_table(spark.read.parquet(f"{d}/seeds.parquet"))
    driver = CrawlDriver(spark, str(tmp_path / "work"), f"{d}/pages.parquet", robots_df, config)
    tables = driver.run(seeds_df)
    engine_order = [
        (r["depth"], r["seq"], r["url"])
        for r in tables.fetched.select("depth", "seq", "url").orderBy("seq").collect()
    ]
    assert engine_order == oracle_res.crawl_order
    assert {r["url"] for r in tables.url_seen.select("url").collect()} == oracle_res.url_seen
    return tables


def test_all_seeds_robots_blocked(spark, tmp_path):
    pages = {"https://a.de/x": '<a href="/y">y</a>', "https://a.de/y": ""}
    robots = {"https://a.de": "User-agent: *\nDisallow: /\n"}
    config = CrawlConfig(seen_partitions=4)
    tables = run_both(spark, tmp_path, ["https://a.de/x"], pages, robots, config)
    rows = tables.fetched.collect()
    assert len(rows) == 1 and rows[0]["robots_blocked"]
    # frontier drained at round 1 -> loop stopped early, tables consistent
    assert tables.extracted.count() == 0


def test_max_depth_zero_fetches_seeds_only(spark, tmp_path):
    pages = {
        "https://a.de/": '<a href="/child">c</a>',
        "https://a.de/child": "",
    }
    config = CrawlConfig(max_depth=0, seen_partitions=4)
    tables = run_both(spark, tmp_path, ["https://a.de/"], pages, {}, config)
    rows = tables.fetched.collect()
    assert [r["url"] for r in rows] == ["https://a.de/"]
    # the seed's links are still recorded, just never enqueued
    assert list(rows[0]["found_links"]) == ["https://a.de/child"]


def test_seeds_with_dead_urls_only(spark, tmp_path):
    pages = {"https://real.de/": ""}
    config = CrawlConfig(seen_partitions=4)
    tables = run_both(
        spark, tmp_path, ["https://tot.de/", "https://auch-tot.de/"], pages, {}, config
    )
    rows = tables.fetched.collect()
    assert all(r["fetch_failed"] for r in rows)


def test_seeds_are_seen_only_once_popped(spark, tmp_path):
    """Seeds are enqueued without a visited-set add (seeder.rs:146), so a
    link to a seed re-enqueues it iff the linking page popped before every
    row of that seed."""
    a, b, c, x = "https://a.de/", "https://b.de/", "https://c.de/", "https://a.de/x"
    pages = {
        a: f'<a href="{a}">self</a><a href="{b}">b</a><a href="/x">x</a>',
        b: f'<a href="{a}">a</a><a href="{c}">c</a>',
        c: f'<a href="{b}">b</a>',
        x: "",
    }
    # seq: a=0, b=1, a=2 (duplicated seed row), c=3
    config = CrawlConfig(seen_partitions=4)
    tables = run_both(spark, tmp_path, [a, b, a, c], pages, {}, config)
    rows = tables.fetched.select("depth", "url").orderBy("seq").collect()
    assert [(r["depth"], r["url"]) for r in rows] == [
        (0, a), (0, b), (0, a), (0, c),
        # a (seq 0) links the later seed b: re-enqueued (after x, which
        # sorts first in a's found_links); a's link to itself and b's link
        # back to the earlier seed a are not
        (1, x), (1, b),
        # first discovered by b (seq 1), which popped before seed c (seq 3)
        (1, c),
    ]


def test_missing_committed_round_fails_loud(spark, tmp_path):
    import shutil

    import pytest

    from crawler_german_localpoliticans_spark.sources.tables import MissingRoundError

    pages = {"https://a.de/": '<a href="/b">b</a>', "https://a.de/b": ""}
    config = CrawlConfig(max_depth=1, seen_partitions=4)
    run_both(spark, tmp_path, ["https://a.de/"], pages, {}, config)
    driver = CrawlDriver(
        spark, str(tmp_path / "work"), f"{tmp_path}/fx/pages.parquet",
        read_robots(spark, f"{tmp_path}/fx/robots.parquet"), config,
    )
    driver.result_tables()
    shutil.rmtree(driver.catalog.round_dir("frontier", 1))
    with pytest.raises(MissingRoundError, match="frontier"):
        driver.result_tables()
