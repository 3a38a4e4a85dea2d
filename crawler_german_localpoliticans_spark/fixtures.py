"""Deterministic synthetic web-graph fixtures (FIXTURES.md).

Generates the `pages` / `seeds` / `robots` inputs consumed by BOTH the
single-threaded oracle and the Spark engine, entirely from a fixed seed — no
external data, no network (BASELINE input_hint: synthesize the input table
shape `pages(url, warc_ts, html, text, lang)` deterministically).

Profiles mirror FIXTURES.md: smoke (5 hosts × 8 pages), correctness
(50 × 40), bench (500 × 2000 — for smaller runs pass a FixtureProfile
with fewer pages_per_host). Link targets deliberately exercise
canonicalization edge cases: explicit :80/:443 ports, fragments, relative
hrefs, uppercase hosts, mailto:/javascript: schemes, duplicate links, dead
links, dot segments.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

KEYWORD_SLUGS = ["gemeinderat", "stadtrat", "buergermeister-rathaus", "landrat", "politik"]
# note: "buergermeister" itself does NOT match the umlaut keyword
# "Bürgermeister" (ascii-substring match) — the slug includes "rathaus" so the
# page still gates; this asymmetry is intentional coverage for F4 semantics.


@dataclass(frozen=True)
class FixtureProfile:
    name: str
    hosts: int
    pages_per_host: int
    max_links: int  # links/page ~ uniform 2..max_links
    cross_host_fraction: float = 0.3
    hot_host_factor: int = 1  # in-link multiplier for host 0
    keyword_fraction: float = 0.25
    script_fraction: float = 0.5
    robots_disallow_hosts: int = 1
    robots_delay_hosts: int = 1
    seed: int = 42


SMOKE = FixtureProfile("smoke", hosts=5, pages_per_host=8, max_links=6, hot_host_factor=1)
CORRECTNESS = FixtureProfile(
    "correctness",
    hosts=50,
    pages_per_host=40,
    max_links=12,
    hot_host_factor=10,
    robots_disallow_hosts=10,
    robots_delay_hosts=5,
)
BENCH = FixtureProfile(
    "bench",
    hosts=500,
    pages_per_host=2000,
    max_links=20,
    hot_host_factor=100,
    robots_disallow_hosts=100,
    robots_delay_hosts=50,
)

PROFILES = {p.name: p for p in (SMOKE, CORRECTNESS, BENCH)}


@dataclass
class WebFixture:
    profile: FixtureProfile
    seeds: list[str]  # raw seed CSV values, in CSV order
    pages: dict[str, str]  # canonical url -> html
    robots: dict[str, str]  # host_key -> robots.txt text
    warc_ts: dict[str, int]  # canonical url -> seconds offset from epoch base
    lang: dict[str, str]


def _host(i: int) -> str:
    return f"host{i:04d}.example.de"


def _page_path(rng: random.Random, j: int, keyword_fraction: float) -> str:
    if rng.random() < keyword_fraction:
        slug = rng.choice(KEYWORD_SLUGS)
        return f"/seite/{j}-{slug}"
    return f"/seite/{j}"


def _page_url(i: int, path: str) -> str:
    return f"https://{_host(i)}{path}"


def generate(profile: FixtureProfile | str = SMOKE) -> WebFixture:
    if isinstance(profile, str):
        profile = PROFILES[profile]
    rng = random.Random(f"{profile.name}-{profile.seed}")

    # --- page URL universe -------------------------------------------------
    paths: dict[int, list[str]] = {}
    urls: dict[int, list[str]] = {}
    for i in range(profile.hosts):
        host_paths = [_page_path(rng, j, profile.keyword_fraction) for j in range(profile.pages_per_host)]
        paths[i] = host_paths
        urls[i] = [_page_url(i, p) for p in host_paths]

    # host in-link weights: host 0 is the hot host (FIXTURES.md skew scenario)
    host_weights = [profile.hot_host_factor] + [1] * (profile.hosts - 1)

    # --- links -------------------------------------------------------------
    def random_target(src_host: int) -> tuple[int, int]:
        if profile.hosts > 1 and rng.random() < profile.cross_host_fraction:
            tgt_host = rng.choices(range(profile.hosts), weights=host_weights, k=1)[0]
        else:
            tgt_host = src_host
        return tgt_host, rng.randrange(profile.pages_per_host)

    def href_variant(src_host: int, tgt_host: int, tgt_path: str) -> str:
        """Render the link in one of several equivalent-but-messy spellings."""
        roll = rng.random()
        if tgt_host == src_host:
            if roll < 0.25:
                return tgt_path  # relative to host root
            if roll < 0.35:
                return f"..{tgt_path}"  # dot segments
            if roll < 0.45:
                return f"{tgt_path}#abschnitt-{rng.randrange(5)}"  # fragment
        full = _page_url(tgt_host, tgt_path)
        if roll < 0.55:
            return full
        if roll < 0.65:
            return full.replace("https://", "https://", 1).replace(
                _host(tgt_host), f"{_host(tgt_host)}:443", 1
            )  # explicit default port
        if roll < 0.72:
            return full.replace(_host(tgt_host), _host(tgt_host).upper(), 1)  # uppercase host
        if roll < 0.80:
            return full + "#top"
        if roll < 0.85:
            return full + "?utm=1"  # query variant -> a distinct (dead) URL
        return full

    # --- HTML bodies ---------------------------------------------------------
    pages: dict[str, str] = {}
    warc_ts: dict[str, int] = {}
    lang: dict[str, str] = {}
    row_index = 0
    for i in range(profile.hosts):
        for j in range(profile.pages_per_host):
            url = urls[i][j]
            n_links = rng.randint(2, profile.max_links)
            hrefs: list[str] = []
            for _ in range(n_links):
                th, tj = random_target(i)
                hrefs.append(href_variant(i, th, paths[th][tj]))
            if rng.random() < 0.1:
                hrefs.append(hrefs[0])  # duplicate link within the page
            if rng.random() < 0.05:
                hrefs.append(f"/tote-seite/{rng.randrange(1000)}")  # dead link
            if rng.random() < 0.1:
                hrefs.append("mailto:rat@example.de")
            if rng.random() < 0.1:
                hrefs.append("javascript:void(0)")

            scripts = ""
            if rng.random() < profile.script_fraction:
                for _ in range(rng.randint(1, 3)):
                    scripts += f"<script>var x_{rng.randrange(100)} = {rng.randrange(1000)};</script>"
            anchors = "".join(
                f'<a href="{h}">Link {k}</a> ' for k, h in enumerate(hrefs)
            )
            title = f"Seite {j} von {_host(i)}"
            body_text = (
                f"<h1>{title}</h1><p>Informationen über Gemeinderat und "
                f"Verwaltung, Beschluss Nr. {rng.randrange(10000)}.</p>"
            )
            malformed = rng.random() < 0.05
            if malformed:
                # unclosed tags exercise tolerant parsing + passthrough paths
                html = f"<html><head><title>{title}{scripts}<body>{body_text}{anchors}<div><p>offen"
            else:
                html = (
                    f"<html><head><title>{title}</title>{scripts}</head>"
                    f"<body>{body_text}{anchors}</body></html>"
                )
            pages[url] = html
            warc_ts[url] = row_index
            lang[url] = "en" if rng.random() < 0.05 else "de"
            row_index += 1

    # --- robots --------------------------------------------------------------
    robots: dict[str, str] = {}
    disallow_hosts = list(range(1, min(profile.robots_disallow_hosts + 1, profile.hosts)))
    delay_hosts = list(range(1, min(profile.robots_delay_hosts + 1, profile.hosts)))
    for i in disallow_hosts:
        hk = f"https://{_host(i)}"
        variant = i % 4
        if variant == 0:
            txt = (
                "# robots fixture: specific UA beats wildcard\n"
                "User-agent: *\nDisallow: /\n\n"
                "User-agent: DistributedCrawler\nDisallow: /seite/1\nAllow: /seite/1-\n"
            )
        elif variant == 1:
            txt = (
                "User-agent: *\n"
                "Disallow: /seite/2\n"
                "Allow: /seite/2-\n"
                "Crawl-delay: 2.5\n"
            )
        elif variant == 2:
            txt = (
                "User-agent: googlebot\nDisallow: /\n\n"
                "User-agent: *\nDisallow: /seite/3\n"
            )
        else:
            txt = "User-agent: *\nDisallow: /seite/4\nDisallow: /seite/5\n"
        robots[hk] = txt
    for i in delay_hosts:
        hk = f"https://{_host(i)}"
        if hk not in robots:
            robots[hk] = "User-agent: *\nCrawl-delay: 5\n"
    # one empty robots file (allow all) on the last host
    robots[f"https://{_host(profile.hosts - 1)}"] = ""

    # --- seeds ---------------------------------------------------------------
    n_seeds = (profile.hosts + 1) // 2
    seeds = [urls[i][0] for i in range(n_seeds)]
    if seeds:
        seeds.append(seeds[0])  # duplicate seed row (FIXTURES.md scenario 1)
        seeds.append(urls[0][min(1, profile.pages_per_host - 1)] + "#fragment")

    return WebFixture(profile, seeds, pages, robots, warc_ts, lang)


# ---------------------------------------------------------------------------
# parquet materialization for the Spark side
# ---------------------------------------------------------------------------


def write_fixture_parquet(fixture: WebFixture, out_dir: str) -> None:
    """Write pages/seeds/robots as parquet (+ seeds.csv for the CSV-scan
    path, FIXTURES.md) so Spark and the oracle consume identical bytes."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    base_ts = 1735689600_000_000  # 2025-01-01T00:00:00Z in microseconds

    urls = list(fixture.pages.keys())
    pages_tbl = pa.table(
        {
            "url": pa.array(urls, pa.string()),
            "warc_ts": pa.array(
                [base_ts + fixture.warc_ts[u] * 1_000_000 for u in urls],
                pa.timestamp("us", tz="UTC"),
            ),
            "html": pa.array([fixture.pages[u].encode("utf-8") for u in urls], pa.binary()),
            "text": pa.array([None] * len(urls), pa.string()),
            "lang": pa.array([fixture.lang[u] for u in urls], pa.string()),
        }
    )
    pq.write_table(pages_tbl, os.path.join(out_dir, "pages.parquet"))

    seeds_tbl = pa.table({"Websites": pa.array(fixture.seeds, pa.string())})
    pq.write_table(seeds_tbl, os.path.join(out_dir, "seeds.parquet"))
    with open(os.path.join(out_dir, "seeds.csv"), "w", encoding="utf-8") as f:
        f.write("Websites\n")
        for s in fixture.seeds:
            f.write(s + "\n")

    hks = sorted(fixture.robots.keys())
    robots_tbl = pa.table(
        {
            "host_key": pa.array(hks, pa.string()),
            "robots_txt": pa.array([fixture.robots[h] for h in hks], pa.string()),
        }
    )
    pq.write_table(robots_tbl, os.path.join(out_dir, "robots.parquet"))
