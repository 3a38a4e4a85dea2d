"""Spark-UDF ↔ pure-Python parity: the Arrow wrapping layer must be a
transparent transport for the golden functions (null handling, encoding,
batch boundaries)."""

from __future__ import annotations

from pyspark.sql import functions as F

from crawler_german_localpoliticans_spark.functions import udfs
from crawler_german_localpoliticans_spark.functions.urls import (
    canonicalize_url,
    derive_custom_id,
    host_key,
    safe_filename_from_url,
    url_host,
    url_path,
)
from crawler_german_localpoliticans_spark.plans.crawl import parse_policies_df
from crawler_german_localpoliticans_spark.sources.tables import read_robots

URLS = [
    "https://Example.DE:443/a/../b#frag",
    "http://host.de:80",
    "https://host.de/seite/1?a=1&b=2",
    "mailto:x@y.de",
    "HTTPS://UPPER.DE/Pfad Mit Leerzeichen",
    None,
    "   ",
]


def test_url_udfs_match_python(spark):
    df = spark.createDataFrame([(u,) for u in URLS], "raw string")
    out = df.select(
        "raw",
        udfs.canonicalize_url(F.col("raw")).alias("canon"),
        udfs.url_host(F.col("raw")).alias("host"),
        udfs.url_path(F.col("raw")).alias("path"),
        udfs.host_key(F.col("raw")).alias("hk"),
        udfs.safe_filename(F.col("raw")).alias("fn"),
    ).collect()
    for r in out:
        raw = r["raw"]
        assert r["canon"] == (canonicalize_url(raw) if raw is not None else None)
        if raw is not None:
            assert r["host"] == url_host(raw)
            assert r["path"] == url_path(raw)
            assert r["hk"] == host_key(raw)
            assert r["fn"] == safe_filename_from_url(raw)


def test_custom_id_udf_lineage(spark):
    df = spark.createDataFrame([("https://a.de/x/y?z=1",)], "url string")
    got = df.select(udfs.custom_id_from_url(F.col("url")).alias("cid")).collect()[0]["cid"]
    assert got == derive_custom_id(safe_filename_from_url("https://a.de/x/y?z=1") + ".html")


def test_parse_policies_executor_parse(spark, smoke_dir, smoke_fixture):
    """Policies parsed distributed over the robots table equal the pure
    parser's output for every host."""
    from crawler_german_localpoliticans_spark.config import DEFAULT_CONFIG
    from crawler_german_localpoliticans_spark.functions.robots import parse_robots

    robots_df = read_robots(spark, f"{smoke_dir}/robots.parquet")
    state = {
        r["host_key"]: (tuple(r["allow"]), tuple(r["disallow"]), r["crawl_delay_ms"])
        for r in parse_policies_df(robots_df, DEFAULT_CONFIG).collect()
    }
    assert set(state) == set(smoke_fixture.robots)
    for hk, txt in smoke_fixture.robots.items():
        p = parse_robots(txt, DEFAULT_CONFIG.user_agent)
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
