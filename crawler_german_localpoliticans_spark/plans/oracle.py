"""Single-threaded reference oracle.

Reproduces the reference worker's canonical single-worker behavior end-to-end
(reference: src/main.rs:554-980 worker_loop, src/bin/seeder.rs:119-146 seeding)
over in-memory fixtures, defining the golden `(depth, seq)` crawl order,
URL-seen set, and extraction bytes the Spark engine must match exactly
(BASELINE.json: "crawl-order + URL-seen exact match vs reference").

Faithfully modeled ordering/membership rules (SURVEY.md §7 "Hard parts"):
- FIFO queue (LPUSH head / BRPOP tail, src/main.rs:622, :30-45): BFS by depth,
  FIFO within depth, per-page links in lexicographic order (:908-909);
- every *popped* URL is marked seen before any filtering (:644-654), so
  robots-blocked and fetch-failed URLs are in URL-seen;
- children are marked seen at *enqueue* (first-discovery-wins, :30-45);
- seeds are enqueued without a seen-check (seeder.rs:146): duplicate seeds are
  popped twice (two seq values) but their children enqueue only once;
- pages AT max_depth are fetched, their children are not enqueued (:939-941);
- seed URLs get fragment-strip + parse normalization only (seeder.rs:57).

This oracle shares every row-level function with the engine
(functions/*), so a mismatch in tests isolates orchestration bugs.
"""

from __future__ import annotations

from collections import deque
from dataclasses import dataclass, field

from ..config import CrawlConfig, DEFAULT_CONFIG
from ..functions.html import clean_and_extract, extract_links
from ..functions.keywords import DEFAULT_KEYWORDS, matches_keywords
from ..functions.robots import DEFAULT_USER_AGENT, RobotsPolicy, parse_robots
from ..functions.urls import (
    canonicalize_url,
    derive_custom_id,
    host_key,
    is_http_scheme,
    join_url,
    safe_filename_from_url,
    url_path,
)


@dataclass
class OracleFetched:
    seq: int
    url: str
    depth: int
    found_links: list[str]
    keyword_hit: bool
    robots_blocked: bool
    fetch_failed: bool  # no page bytes available (non-2xx / dead link)


@dataclass
class OracleResult:
    fetched: list[OracleFetched] = field(default_factory=list)
    url_seen: set[str] = field(default_factory=set)
    extracted: list[dict] = field(default_factory=list)


def sorted_unique(links: list[str]) -> list[str]:
    """`sort(); dedup()` of src/main.rs:908-909 — lexicographic sorted-unique."""
    return sorted(set(links))


def page_found_links(
    page_url: str, html: bytes | str | None, _cache: dict | None = None
) -> list[str]:
    """The full per-page link pipeline (src/main.rs:859-909): extract a[href]
    in document order, trim + resolve against the page URL, keep http(s),
    canonicalize, sorted-unique.

    `_cache` memoizes href resolution across a batch (udfs.found_links):
    absolute http(s) hrefs resolve independently of the base URL, so they
    cache on the trimmed href alone; root-relative hrefs depend only on the
    base's ORIGIN (RFC 3986 keeps the authority, replaces the path), so they
    cache on (origin, href) — the hot '/seite/0'-style links shared by every
    page of a host hit the memo instead of re-resolving per page; all other
    relative forms cache on (base, href). Resolution itself goes through
    join_url_fast (urls.py): provable shortcuts with the golden urllib
    join_url as fallback. Pure speedups — results are bit-identical with or
    without cache or fast path (differential-tested)."""
    from ..functions.urls import join_url_fast, url_origin

    out: list[str] = []
    origin = url_origin(page_url)
    for href in extract_links(html):
        h = href.strip()
        if _cache is not None:
            if h.startswith(("http://", "https://")):
                key: object = h
            elif origin is not None and h.startswith("/") and not h.startswith("//"):
                key = (origin, h)
            else:
                key = (page_url, h)
            resolved = _cache.get(key, 0)
            if resolved == 0:
                resolved = join_url_fast(page_url, h, origin)
                _cache[key] = resolved
        else:
            resolved = join_url_fast(page_url, h, origin)
        if resolved is None or not is_http_scheme(resolved):
            continue
        out.append(resolved)
    return sorted_unique(out)


def crawl_oracle(
    seeds: list[str],
    pages: dict[str, bytes | str],
    robots: dict[str, str],
    config: CrawlConfig = DEFAULT_CONFIG,
) -> OracleResult:
    """Run the canonical single-worker crawl over in-memory fixtures.

    `pages` maps canonical URL -> html bytes (the offline stand-in for HTTP
    fetch, per BASELINE.json input_hint); a URL absent from `pages` models a
    failed/non-HTML fetch (dropped with no CrawlResult, src/main.rs:794-800).
    `robots` maps host_key -> robots.txt text (absent -> empty policy = allow
    all, src/main.rs:138-141).
    """
    result = OracleResult()
    policy_cache: dict[str, RobotsPolicy] = {}

    queue: deque[tuple[str, int]] = deque()
    for raw in seeds:
        seed = canonicalize_url(raw)  # seeder.rs:55-58: parse-normalize + defrag
        if seed is None:
            continue  # invalid seed skipped, seeder.rs:60
        queue.append((seed, 0))

    seq = 0
    while queue:
        url, depth = queue.popleft()
        my_seq = seq
        seq += 1
        result.url_seen.add(url)  # SADD at pop, src/main.rs:644-654

        hk = host_key(url)
        if hk not in policy_cache:
            policy_cache[hk] = parse_robots(robots.get(hk, ""), DEFAULT_USER_AGENT)
        policy = policy_cache[hk]

        keyword_hit = matches_keywords(url, DEFAULT_KEYWORDS)

        if not policy.is_allowed(url_path(url)):
            # dequeued but not fetched (src/main.rs:684-686); stays in seen
            result.fetched.append(
                OracleFetched(my_seq, url, depth, [], keyword_hit, True, False)
            )
            continue

        html = pages.get(url)
        if html is None:
            # fetch failure / non-HTML: no CrawlResult (src/main.rs:794-800)
            result.fetched.append(
                OracleFetched(my_seq, url, depth, [], keyword_hit, False, True)
            )
            continue

        found_links = page_found_links(url, html)
        result.fetched.append(
            OracleFetched(my_seq, url, depth, found_links, keyword_hit, False, False)
        )

        if keyword_hit:
            cleaned, text = clean_and_extract(html)
            result.extracted.append(
                {
                    "url": url,
                    "clean_html": cleaned,
                    "text": text,
                    "custom_id": derive_custom_id(safe_filename_from_url(url) + ".html"),
                }
            )

        # first-discovery-wins enqueue (src/main.rs:30-45), depth cutoff
        # :939-941 — pages AT max_depth are fetched, children not enqueued
        next_depth = depth + 1
        if next_depth <= config.max_depth:
            for link in found_links:
                if link not in result.url_seen:
                    result.url_seen.add(link)
                    queue.append((link, next_depth))

    return result
