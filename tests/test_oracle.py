"""Behavioral tests for the single-threaded reference oracle
(semantics: SURVEY.md §3.1, src/main.rs:554-980)."""

from __future__ import annotations

import pytest

from crawler_german_localpoliticans_spark.config import CrawlConfig
from crawler_german_localpoliticans_spark.plans.oracle import crawl_oracle, page_found_links
from oracle_reference import crawl_order


def cfg(**kw):
    return CrawlConfig(**kw)


def link_page(*hrefs: str) -> str:
    return "".join(f'<a href="{h}">l</a>' for h in hrefs)


def test_bfs_order_fifo_within_depth():
    pages = {
        "https://a.de/": link_page("/x", "/y"),
        "https://b.de/": link_page("/z"),
        "https://a.de/x": "",
        "https://a.de/y": "",
        "https://b.de/z": "",
    }
    res = crawl_oracle(["https://a.de/", "https://b.de/"], pages, {}, cfg(max_depth=1))
    assert crawl_order(res) == [
        (0, 0, "https://a.de/"),
        (0, 1, "https://b.de/"),
        (1, 2, "https://a.de/x"),
        (1, 3, "https://a.de/y"),
        (1, 4, "https://b.de/z"),
    ]


def test_per_page_links_sorted_unique():
    html = link_page("/c", "/a", "/b", "/a", "/c#frag")
    assert page_found_links("https://h.de/", html) == [
        "https://h.de/a",
        "https://h.de/b",
        "https://h.de/c",
    ]


def test_first_discovery_wins_dedup():
    pages = {
        "https://a.de/": link_page("/shared", "/only-a"),
        "https://b.de/": link_page("/shared2", "https://a.de/shared"),
        "https://a.de/shared": "",
        "https://a.de/only-a": "",
        "https://b.de/shared2": "",
    }
    res = crawl_oracle(["https://a.de/", "https://b.de/"], pages, {}, cfg(max_depth=1))
    urls = [r.url for r in res.fetched]
    assert urls.count("https://a.de/shared") == 1


def test_duplicate_seed_fetched_twice_expanded_once():
    pages = {"https://a.de/": link_page("/x"), "https://a.de/x": ""}
    res = crawl_oracle(["https://a.de/", "https://a.de/"], pages, {}, cfg(max_depth=1))
    # both seed instances are popped and fetched (seeder does not dedup,
    # seeder.rs:146; pop does not check membership, src/main.rs:644-654)
    assert [r.url for r in res.fetched] == [
        "https://a.de/",
        "https://a.de/",
        "https://a.de/x",
    ]
    # child enqueued once: first pop wins
    assert res.fetched[0].found_links == ["https://a.de/x"]


def test_depth_cutoff_pages_at_max_depth_fetched_children_not():
    pages = {
        "https://a.de/": link_page("/d1"),
        "https://a.de/d1": link_page("/d2"),
        "https://a.de/d2": link_page("/d3"),
        "https://a.de/d3": "",
    }
    res = crawl_oracle(["https://a.de/"], pages, {}, cfg(max_depth=2))
    urls = {r.url for r in res.fetched}
    assert "https://a.de/d2" in urls  # AT max_depth: fetched
    assert "https://a.de/d3" not in urls  # children of max_depth: not enqueued
    # d2's found_links still recorded even though not enqueued
    d2 = next(r for r in res.fetched if r.url == "https://a.de/d2")
    assert d2.found_links == ["https://a.de/d3"]
    assert "https://a.de/d3" not in res.url_seen


def test_robots_blocked_stays_in_seen_no_expansion():
    pages = {
        "https://a.de/": link_page("/privat/x", "/ok"),
        "https://a.de/privat/x": link_page("/privat/deeper"),
        "https://a.de/ok": "",
    }
    robots = {"https://a.de": "User-agent: *\nDisallow: /privat\n"}
    res = crawl_oracle(["https://a.de/"], pages, robots, cfg(max_depth=2))
    blocked = next(r for r in res.fetched if r.url == "https://a.de/privat/x")
    assert blocked.robots_blocked
    assert blocked.found_links == []
    assert "https://a.de/privat/x" in res.url_seen  # seen before filtering
    assert "https://a.de/privat/deeper" not in res.url_seen


def test_failed_fetch_in_seen_recorded_as_failed():
    pages = {"https://a.de/": link_page("/tot")}
    res = crawl_oracle(["https://a.de/"], pages, {}, cfg(max_depth=2))
    dead = next(r for r in res.fetched if r.url == "https://a.de/tot")
    assert dead.fetch_failed and not dead.robots_blocked
    assert "https://a.de/tot" in res.url_seen


def test_invalid_seed_skipped():
    res = crawl_oracle(["not a url", "https://a.de/"], {"https://a.de/": ""}, {}, cfg())
    assert [r.url for r in res.fetched] == ["https://a.de/"]


def test_extraction_only_for_keyword_pages():
    pages = {
        "https://a.de/rathaus": "<html><body><script>x()</script><p>Bürger</p></body></html>",
        "https://a.de/sonst": "<p>nichts</p>",
    }
    res = crawl_oracle(["https://a.de/rathaus", "https://a.de/sonst"], pages, {}, cfg(max_depth=0))
    assert len(res.extracted) == 1
    ext = res.extracted[0]
    assert ext["url"] == "https://a.de/rathaus"
    assert "script" not in ext["clean_html"]
    assert ext["text"] == "Bürger"
    assert ext["custom_id"] == "request_a.de_rathaus.html"


def test_smoke_fixture_runs(smoke_fixture):
    res = crawl_oracle(smoke_fixture.seeds, smoke_fixture.pages, smoke_fixture.robots)
    assert len(res.fetched) > 10
    assert res.url_seen >= {r.url for r in res.fetched}
    # seq strictly increasing, depth non-decreasing (BFS)
    seqs = [r.seq for r in res.fetched]
    assert seqs == sorted(seqs) == list(range(len(seqs)))
    depths = [r.depth for r in res.fetched]
    assert depths == sorted(depths)
    assert any(r.robots_blocked for r in res.fetched)
    assert any(r.keyword_hit for r in res.fetched)
    assert len(res.extracted) > 0


def test_oracle_deterministic(smoke_fixture):
    r1 = crawl_oracle(smoke_fixture.seeds, smoke_fixture.pages, smoke_fixture.robots)
    r2 = crawl_oracle(smoke_fixture.seeds, smoke_fixture.pages, smoke_fixture.robots)
    assert crawl_order(r1) == crawl_order(r2)
    assert r1.url_seen == r2.url_seen
    assert r1.extracted == r2.extracted
