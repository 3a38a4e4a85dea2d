"""Spark-UDF ↔ pure-Python parity: the Arrow wrapping layer must be a
transparent transport for the golden functions (null handling, encoding,
batch boundaries)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from crawler_german_localpoliticans_spark.functions import udfs
from crawler_german_localpoliticans_spark.functions.robots import RobotsPolicy
from crawler_german_localpoliticans_spark.functions.urls import (
    canonicalize_url,
    derive_custom_id,
    host_key,
    join_url,
    safe_filename_from_url,
    url_path,
)
from crawler_german_localpoliticans_spark.plans.crawl import evaluate_robots, parse_policies_df
from crawler_german_localpoliticans_spark.sources.tables import read_robots
from url_reference import url_host

URLS = [
    "https://Example.DE:443/a/../b#frag",
    "http://host.de:80",
    "https://host.de/seite/1?a=1&b=2",
    "mailto:x@y.de",
    "HTTPS://UPPER.DE/Pfad Mit Leerzeichen",
    None,
    "   ",
]


def _generated_urls(n: int = 3000, seed: int = 14) -> list[str]:
    """Seeded raw URLs over the shapes canonicalize_url accepts: special and
    non-special schemes, userinfo, IPv6 / IPvFuture literals, default and
    non-default ports, encoded, spaced, umlaut and backslash paths, query and
    fragment, opaque URLs and resolved relative hrefs."""
    rng = random.Random(seed)
    schemes = ["http", "https", "HTTPS", "ftp", "ws", "wss", "file", "x-y", "git+ssh"]
    hosts = ["a.de", "Host.Beispiel.DE", "münchen.de", "10.0.0.1", "[::1]", "[2001:DB8::7]",
             "[::ffff:1.2.3.4]", "[v1.x]", "u:p@b.de", "u@[::2]", ""]
    ports = ["", ":", ":80", ":443", ":21", ":8080", ":0", ":65535"]
    paths = ["", "/", "/a/../b/./c", "/seite 1", "/%7Eu/ä", "/a\\b", "/x;y", "/.hidden", "/a:b@c"]
    tails = ["", "?q=1", "?a=[1]&b", "#frag", "?x#y", "?"]
    hrefs = ["c", "../c", "/r?x=1", "//cdn.de:81/x", "?q", "#f", "mailto:x@y.de"]
    out = []
    for _ in range(n):
        kind = rng.random()
        if kind < 0.8:
            out.append(rng.choice(schemes) + "://" + rng.choice(hosts) + rng.choice(ports)
                       + rng.choice(paths) + rng.choice(tails))
        elif kind < 0.9:
            out.append(rng.choice(["mailto:", "urn:", "x-y:", "file:"]) + rng.choice(["x@y.de", "a/b", "", "/p ä"])
                       + rng.choice(tails))
        else:
            base = "https://" + rng.choice(hosts[:5]) + rng.choice(ports) + "/d/e"
            out.append(join_url(base, rng.choice(hrefs)) or "")
    return out


def test_url_udfs_match_python(spark):
    """The Arrow UDFs equal the golden functions on raw URLs, and the Column
    forms of the URL parts equal them on canonical URLs (the only input the
    Column forms are valid on), in one Spark job."""
    raws = URLS + _generated_urls()
    df = spark.createDataFrame([(u,) for u in raws], "raw string")
    canon = udfs.canonicalize_url(F.col("raw"))
    out = df.select(
        "raw",
        canon.alias("canon"),
        udfs.url_host_col(canon).alias("host"),
        udfs.url_path_col(canon).alias("path"),
        udfs.host_key_col(canon).alias("hk"),
        udfs.safe_filename(F.col("raw")).alias("fn"),
    ).collect()
    assert len(out) == len(raws)
    n_canonical = 0
    for r in out:
        raw = r["raw"]
        c = canonicalize_url(raw) if raw is not None else None
        assert r["canon"] == c, raw
        if raw is not None:
            assert r["fn"] == safe_filename_from_url(raw), raw
        if c is None:
            assert (r["host"], r["path"], r["hk"]) == (None, None, None), raw
            continue
        n_canonical += 1
        assert r["host"] == url_host(c), c
        assert r["path"] == url_path(c), c
        assert r["hk"] == host_key(c), c
    assert n_canonical > len(raws) // 2
    assert {r["hk"] for r in out if r["canon"]} >= {"http://[::1]", "ftp://[2001:db8::7]:8080", "x-y://"}


def test_robots_column_match_equals_is_allowed(spark):
    """evaluate_robots' Column longest-prefix match equals
    `RobotsPolicy.is_allowed(url_path(url))` on the edge cases: a host with
    no policy row (null arrays), an empty prefix, a percent-encoded path, a
    non-ASCII rule, a tie where the longest allow equals the longest
    disallow, query-only and fragment-free URLs."""
    rules = {
        "https://a.de": (["/priv/pub"], ["/priv", "/x"]),
        "https://empty.de": ([], [""]),
        "https://allow-empty.de": ([""], ["/a"]),
        "https://tie.de": (["/ab", "/a"], ["/a", "/ac"]),
        "https://enc.de": (["/%C3%A4/ok"], ["/%C3%A4", "/ä"]),
        "https://umlaut.de": ([], ["/ä", "/seite"]),
        "https://nothing.de": ([], []),
    }
    urls = [
        "https://a.de/priv/x", "https://a.de/priv/pub/y", "https://a.de/", "https://a.de/xyz?q=/priv",
        "https://empty.de/", "https://empty.de/anything", "https://allow-empty.de/a/b",
        "https://allow-empty.de/b", "https://tie.de/a", "https://tie.de/ab", "https://tie.de/ac",
        "https://enc.de/%C3%A4/ok/1", "https://enc.de/%C3%A4/no", "https://enc.de/",
        "https://umlaut.de/%C3%A4", "https://umlaut.de/seite?x", "https://nothing.de/x",
        "https://norow.de/priv", "https://norow.de/",
    ]
    policies = spark.createDataFrame(
        [(hk, a, d, None) for hk, (a, d) in rules.items()],
        "host_key string, allow array<string>, disallow array<string>, crawl_delay_ms bigint",
    )
    frontier = spark.createDataFrame([(u,) for u in urls], "url string")
    frontier = frontier.select("url", udfs.host_key_col(F.col("url")).alias("host_key"))
    got = dict(evaluate_robots(frontier, policies).select("url", "robots_blocked").collect())
    assert set(got) == set(urls)
    for u in urls:
        a, d = rules.get(host_key(u), ([], []))
        assert got[u] == (not RobotsPolicy(a, d).is_allowed(url_path(u))), u
    assert got["https://tie.de/a"] is False and got["https://a.de/priv/x"] is True
    assert got["https://empty.de/"] is False and got["https://norow.de/priv"] is False


def test_custom_id_udf_lineage(spark):
    df = spark.createDataFrame([("https://a.de/x/y?z=1",)], "url string")
    got = df.select(udfs.custom_id_from_url(F.col("url")).alias("cid")).collect()[0]["cid"]
    assert got == derive_custom_id(safe_filename_from_url("https://a.de/x/y?z=1") + ".html")


def test_parse_policies_executor_parse(spark, smoke_dir, smoke_fixture):
    """Policies parsed distributed over the robots table equal the pure
    parser's output for every host."""
    from crawler_german_localpoliticans_spark.functions.robots import DEFAULT_USER_AGENT, parse_robots

    robots_df = read_robots(spark, f"{smoke_dir}/robots.parquet")
    state = {
        r["host_key"]: (tuple(r["allow"]), tuple(r["disallow"]), r["crawl_delay_ms"])
        for r in parse_policies_df(robots_df).collect()
    }
    assert set(state) == set(smoke_fixture.robots)
    for hk, txt in smoke_fixture.robots.items():
        p = parse_robots(txt, DEFAULT_USER_AGENT)
        assert state[hk] == (tuple(p.allow), tuple(p.disallow), p.crawl_delay_ms), hk


# --------------------------------------------------------------- fingerprint


def test_fingerprint_batch_matches_python_oracle():
    """The vectorized numpy kernel (fingerprint_batch) must agree with the
    per-character fingerprint_py on every class of input: empty, shorter than
    the window, exactly the window, long, repeated chars, non-ASCII and
    astral code points, and lone surrogates."""
    from crawler_german_localpoliticans_spark.operators.textstats import (
        FP_WINDOW,
        fingerprint_batch,
        fingerprint_py,
    )

    texts = [
        "",
        "a",
        "x" * (FP_WINDOW - 1),
        "y" * FP_WINDOW,
        "z" * (FP_WINDOW + 1),
        "hello wörld " * 10,
        "Gemeinderat München — Sitzungsprotokoll 2024 §17",
        "\U0001F600 astral \U0010FFFF chars",
        "a\ud800b",  # lone surrogate: ord() == 0xD800 on both paths
        "the quick brown fox jumps over the lazy dog " * 50,
        " ".join(str(i * 7919 % 1000) for i in range(500)),
    ]
    doc, mg = fingerprint_batch(texts)
    for i, t in enumerate(texts):
        d, m = fingerprint_py(t)
        assert doc[i] == d, (i, t[:40])
        assert mg[i] == m, (i, t[:40])


def test_fingerprint_batch_matches_python_oracle_random():
    """Randomized differential test: byte-for-byte agreement on 300 random
    unicode-ish strings of random lengths around the window size."""
    import random

    from crawler_german_localpoliticans_spark.operators.textstats import (
        fingerprint_batch,
        fingerprint_py,
    )

    rng = random.Random(1234)
    alphabet = "abcdefgh \t\nÄÖÜß€\U0001F600"
    texts = [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 64)))
        for _ in range(300)
    ]
    doc, mg = fingerprint_batch(texts)
    for i, t in enumerate(texts):
        d, m = fingerprint_py(t)
        assert (doc[i], mg[i]) == (d, m), (i, repr(t))
