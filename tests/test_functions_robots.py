"""Parity tests for the robots.txt parser/matcher port
(reference: src/main.rs:97-108, :187-271 — quirks preserved exactly)."""

from __future__ import annotations

from crawler_german_localpoliticans_spark.functions.robots import (
    DEFAULT_USER_AGENT,
    RobotsPolicy,
    parse_robots,
)


def test_empty_allows_all():
    p = parse_robots("", DEFAULT_USER_AGENT)
    assert p.is_allowed("/anything")
    assert p.crawl_delay_ms is None


def test_longest_prefix_disallow_wins_only_if_longer():
    p = RobotsPolicy(allow=["/seite/1-"], disallow=["/seite/1"])
    assert not p.is_allowed("/seite/1")  # d=8 > a=0
    assert p.is_allowed("/seite/1-rathaus")  # a=9 > d=8
    assert not p.is_allowed("/seite/10")  # prefix semantics: /seite/1 matches!
    assert p.is_allowed("/andere")  # d=0


def test_equal_length_allows():
    # d > a required: tie -> allowed (src/main.rs:107)
    p = RobotsPolicy(allow=["/a"], disallow=["/a"])
    assert p.is_allowed("/a/x")


def test_empty_disallow_line_has_no_effect():
    p = parse_robots("User-agent: *\nDisallow:\n", DEFAULT_USER_AGENT)
    assert p.is_allowed("/x")  # empty prefix has len 0 -> d>0 false


def test_wildcard_group():
    p = parse_robots("User-agent: *\nDisallow: /privat\nCrawl-delay: 2.5\n", DEFAULT_USER_AGENT)
    assert not p.is_allowed("/privat/x")
    assert p.is_allowed("/oeffentlich")
    assert p.crawl_delay_ms == 2500  # ceil(2.5 * 1000)


def test_fractional_delay_ceil():
    p = parse_robots("User-agent: *\nCrawl-delay: 0.0001\n", DEFAULT_USER_AGENT)
    assert p.crawl_delay_ms == 1  # ceil to ms (src/main.rs:219-222)


def test_specific_beats_wildcard():
    txt = "User-agent: *\nDisallow: /\n\nUser-agent: DistributedCrawler\nDisallow: /nur-hier\n"
    p = parse_robots(txt, DEFAULT_USER_AGENT)
    # wildcard group cleared by specific match (src/main.rs:249-257)
    assert p.is_allowed("/")
    assert not p.is_allowed("/nur-hier/x")


def test_bidirectional_substring_ua_match():
    # group UA is a substring of worker UA
    p = parse_robots("User-agent: crawler\nDisallow: /a\n", "MegaCrawler/2.0")
    assert not p.is_allowed("/a")
    # worker UA is a substring of group UA (the nonstandard direction)
    p = parse_robots("User-agent: SuperMegaCrawler/2.0-beta\nDisallow: /a\n", "MegaCrawler/2.0")
    assert not p.is_allowed("/a")
    # case-insensitive
    p = parse_robots("User-agent: CRAWLER\nDisallow: /a\n", "megacrawler")
    assert not p.is_allowed("/a")


def test_consecutive_ua_lines_split_groups():
    # reference quirk: every user-agent line with a non-empty current group
    # starts a NEW group, so rules attach only to the LAST ua line
    txt = "User-agent: googlebot\nUser-agent: bingbot\nDisallow: /x\n"
    p = parse_robots(txt, "googlebot")
    assert p.is_allowed("/x")  # googlebot group carries no rules
    p = parse_robots(txt, "bingbot")
    assert not p.is_allowed("/x")


def test_multiple_matching_groups_merge_first_delay_wins():
    txt = (
        "User-agent: distributedcrawler\nDisallow: /a\nCrawl-delay: 3\n\n"
        "User-agent: crawler\nDisallow: /b\nCrawl-delay: 7\n"
    )
    p = parse_robots(txt, DEFAULT_USER_AGENT)
    assert not p.is_allowed("/a")
    assert not p.is_allowed("/b")
    assert p.crawl_delay_ms == 3000  # first chosen group's delay


def test_comments_blanks_and_case_insensitive_keys():
    txt = "# kommentar\n\nUSER-AGENT: *\n  DISALLOW :/x\nCrawl-Delay: 1\n"
    # note "DISALLOW :" -> key "disallow" after trim, value "/x"
    p = parse_robots(txt, DEFAULT_USER_AGENT)
    assert not p.is_allowed("/x/y")
    assert p.crawl_delay_ms == 1000


def test_no_matching_group_allows_all():
    p = parse_robots("User-agent: googlebot\nDisallow: /\n", DEFAULT_USER_AGENT)
    assert p.is_allowed("/anything")


def test_rules_before_any_ua_line():
    # rules accumulate into the headless group; it has no UA so never matches
    p = parse_robots("Disallow: /x\nUser-agent: *\nDisallow: /y\n", DEFAULT_USER_AGENT)
    assert p.is_allowed("/x")
    assert not p.is_allowed("/y")


def test_nonfinite_and_negative_delay_saturating_cast():
    """Rust parses Crawl-delay with `(sec * 1000.0).ceil() as u64`
    (src/main.rs:219-221) — a SATURATING float cast: NaN -> 0, negative -> 0,
    +inf -> u64::MAX. The port clamps +inf to i64::MAX (the engine's delay
    columns are signed 64-bit); everything else matches bit-for-bit."""

    def delay(value: str):
        return parse_robots(f"User-agent: *\nCrawl-delay: {value}\n", DEFAULT_USER_AGENT).crawl_delay_ms

    assert delay("inf") == 2**63 - 1
    assert delay("Infinity") == 2**63 - 1
    assert delay("nan") == 0
    assert delay("-3") == 0
    assert delay("-inf") == 0
    # huge finite values saturate too, exactly like the Rust cast
    assert delay("1e30") == 2**63 - 1
    # unparseable stays None (Rust: parse::<f64>() Err -> no delay)
    assert delay("bald") is None
