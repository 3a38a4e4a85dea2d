"""Deterministic Common-Crawl-style corpus derived from the testdata
`documents` table.

BASELINE.json input_hint fixes the input shape `pages(url, warc_ts, html,
text, lang)` and mandates deterministic small-scale synthesis. This module
derives that table (plus seeds + robots) from `documents.parquet` with pure
Column expressions — no Python in the loop, no randomness: URL, link graph,
scripts and robots rules are all modular arithmetic over doc_id, so the same
sf_dir always yields byte-identical pages on any executor count.

The derivation is per-row work, so it goes through `tables.spread`: a
documents input with fewer parquet row groups than the session's cores
(the one-row-group testdata) is spread across them first, and a multi-file
input is derived split-parallel with no exchange.

Used by the flagship entry()/bench crawl; pytest uses the richer
fixtures.py generator (edge-case links, malformed HTML).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crawler_german_localpoliticans_spark.sources.tables import spread

N_LINKS = 8
BASE_TS = "2025-01-01 00:00:00"


def _url_expr(doc_id, n_hosts: int):
    host = F.format_string("host%04d.beispiel.de", (doc_id % n_hosts).cast("int"))
    slug = F.when(doc_id % 4 == 0, F.lit("-rathaus")).otherwise(F.lit(""))
    return F.concat(F.lit("https://"), host, F.lit("/seite/"), doc_id.cast("string"), slug)


def corpus_from_documents(spark: SparkSession, sf_dir: str):
    """(pages_df, seeds_df, robots_df) derived from `<sf_dir>/documents.parquet`.

    Link graph: doc i links to (i*7 + j*13 + 1) mod n for j in 0..7 — an
    expander-style graph with one hot host (host 0 receives extra links from
    every page, the FIXTURES.md skew scenario).
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text", "lang")
    n = docs.count()
    # the html/url/anchor derivation below is a dozen concat/format
    # expressions per row (see `spread`); spreading also gives the derived
    # pages parquet a multi-file layout. Every consumer orders explicitly.
    docs = spread(docs)
    n_hosts = max(4, n // 50)
    did = F.col("doc_id")

    url = _url_expr(did, n_hosts)
    targets = [(did * 7 + j * 13 + 1) % n for j in range(N_LINKS)]
    anchors = F.concat(
        *[
            F.format_string('<a href="%s">l%d</a>', _url_expr(t, n_hosts), F.lit(j))
            for j, t in enumerate(targets)
        ]
    )
    # hot-host skew: every page also links to host 0's first page
    hot = F.format_string('<a href="%s">hot</a>', _url_expr(F.lit(0), n_hosts))
    script = F.when(
        did % 2 == 0, F.format_string("<script>var x = %d;</script>", did.cast("int"))
    ).otherwise(F.lit(""))
    html = F.concat(
        F.lit("<html><head><title>Seite "),
        did.cast("string"),
        F.lit("</title>"),
        script,
        F.lit("</head><body><h1>Dokument</h1><p>"),
        F.col("text"),
        F.lit("</p>"),
        anchors,
        hot,
        F.lit("</body></html>"),
    )
    pages = docs.select(
        url.alias("url"),
        (F.to_timestamp(F.lit(BASE_TS)) + F.make_interval(secs=did.cast("double"))).alias(
            "warc_ts"
        ),
        F.encode(html, "UTF-8").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.col("lang"),
    )

    n_seeds = max(4, n // 100)
    seeds = (
        docs.where(did < n_seeds)
        .select(_url_expr(did, n_hosts).alias("raw_url"), did.cast("long").alias("seed_order"))
    )

    # robots: every 5th host disallows /seite/1 (prefix!) for all agents,
    # every 7th host sets a crawl delay
    hosts = spark.range(n_hosts).select(
        F.format_string("https://host%04d.beispiel.de", F.col("id").cast("int")).alias(
            "host_key"
        ),
        F.when(F.col("id") % 5 == 1, F.lit("User-agent: *\nDisallow: /seite/1\n"))
        .when(F.col("id") % 7 == 3, F.lit("User-agent: *\nCrawl-delay: 4.5\n"))
        .otherwise(F.lit(""))
        .alias("robots_txt"),
    )
    return pages, seeds, hosts


def run_flagship_crawl(spark: SparkSession, sf_dir: str, max_depth: int = 2):
    """End-to-end flagship: derive the corpus, run the iterative crawl in a
    fresh temp directory, return (tables, driver)."""
    import tempfile

    from ..config import CrawlConfig
    from ..plans.crawl import CrawlDriver

    pages, seeds, robots = corpus_from_documents(spark, sf_dir)
    work_dir = tempfile.mkdtemp(prefix="crawl_flagship_")
    pages_path = f"{work_dir}/pages_input"
    pages.write.mode("overwrite").parquet(pages_path)
    config = CrawlConfig(max_depth=max_depth, seen_partitions=32)
    driver = CrawlDriver(spark, f"{work_dir}/state", pages_path, robots, config)
    tables = driver.run(seeds)
    return tables, driver
