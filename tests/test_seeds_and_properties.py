"""CSV seed-scan path (S1, seeder.rs:20-69) + hypothesis property tests for
the row-level golden functions."""

from __future__ import annotations

import string

from hypothesis import given, settings
from hypothesis import strategies as st

from crawler_german_localpoliticans_spark.functions.html import extract_links, extract_text
from crawler_german_localpoliticans_spark.functions.robots import parse_robots
from crawler_german_localpoliticans_spark.functions.urls import canonicalize_url, join_url
from html_reference import clean_html


# ------------------------------------------------------------------ S1 CSV
def test_read_seeds_csv_column_selection(spark, tmp_path):
    from crawler_german_localpoliticans_spark.sources.seeds import read_seeds_csv

    p = tmp_path / "seeds.csv"
    p.write_text(
        "Id,Websites,Notes\n"
        "1,https://a.de/,x\n"
        "2,  https://b.de/  ,y\n"
        "3,,blank-skipped\n"
        "4,https://c.de/#frag,z\n"
    )
    # case-insensitive header-name match (seeder.rs:27-39)
    out = read_seeds_csv(spark, str(p), column_name="websites").orderBy("seed_order").collect()
    assert [r["raw_url"] for r in out] == ["https://a.de/", "https://b.de/", "https://c.de/#frag"]
    # unknown name falls back to first column
    out3 = read_seeds_csv(spark, str(p), column_name="nope").orderBy("seed_order").collect()
    assert [r["raw_url"] for r in out3] == ["1", "2", "3", "4"]


def test_seed_csv_to_frontier_order(spark, smoke_dir, smoke_fixture, tmp_path):
    """The CSV path and the parquet path yield the same depth-0 frontier."""
    from crawler_german_localpoliticans_spark.config import CrawlConfig
    from crawler_german_localpoliticans_spark.plans.crawl import CrawlDriver
    from crawler_german_localpoliticans_spark.sources.seeds import read_seeds_csv
    from crawler_german_localpoliticans_spark.sources.tables import read_robots

    robots = read_robots(spark, f"{smoke_dir}/robots.parquet")
    config = CrawlConfig(max_depth=0, seen_partitions=8)
    d = CrawlDriver(spark, str(tmp_path), f"{smoke_dir}/pages.parquet", robots, config)
    csv_seeds = read_seeds_csv(spark, f"{smoke_dir}/seeds.csv", column_name="Websites")
    f0 = d.run(csv_seeds).frontier.orderBy("seq").collect()
    from crawler_german_localpoliticans_spark.functions.urls import canonicalize_url as canon

    expected = [canon(s) for s in smoke_fixture.seeds if canon(s) is not None]
    assert [r["url"] for r in f0] == expected
    assert [r["seq"] for r in f0] == list(range(len(expected)))


# ------------------------------------------------------------- properties
url_text = st.text(
    alphabet=string.ascii_letters + string.digits + ":/?#[]@!$&'()*+,;=.-_~%äöü ",
    max_size=80,
)


@settings(max_examples=300, deadline=None)
@given(url_text)
def test_canonicalize_idempotent(raw):
    c = canonicalize_url("https://h.example.de/" + raw)
    if c is not None:
        assert canonicalize_url(c) == c


@settings(max_examples=200, deadline=None)
@given(url_text)
def test_join_result_canonical(href):
    j = join_url("https://base.example.de/a/b?q=1", href)
    if j is not None:
        assert canonicalize_url(j) == j


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=300))
def test_clean_html_total_and_idempotent_on_output(html):
    out = clean_html(html)
    assert isinstance(out, str)
    assert "<script" not in out.lower() or clean_html(out) == out
    # extract_text is total too
    assert isinstance(extract_text(out), str)


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=300))
def test_extract_links_total(html):
    links = extract_links(html)
    assert all(isinstance(x, str) for x in links)


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=400))
def test_parse_robots_total(txt):
    p = parse_robots(txt)
    assert p.is_allowed("/") in (True, False)
    assert p.crawl_delay_ms is None or p.crawl_delay_ms >= 0
