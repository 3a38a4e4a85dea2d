"""Relational crawl-ledger analytics.

Spark-native rebuild of the reference's ingestion/upsert surface
(python_container/crawler_ingest.py):

- D6 URL-ledger aggregation (crawler_ingest.py:189-241): per normalized URL,
  last_seen_at = max(seen), last_depth = min(depth), fetch count;
- D5 found_links_count (crawler_ingest.py:477);
- D8/O6 top-k by count (validation/validation.py:463).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def url_ledger(fetched: DataFrame) -> DataFrame:
    """D6 — the reference's per-URL upsert algebra as one aggregation
    (crawler_ingest.py:189-241): the INSERT ... ON CONFLICT DO NOTHING keeps
    the first-processed row's timestamp as first_seen_at (processing order
    is fetch order, i.e. seq), the conflict UPDATE keeps
    last_seen_at = GREATEST(seen) and last_depth = LEAST(depth) ignoring
    nulls (min already skips nulls in Spark). URLs are already canonical in
    the engine; the reference normalizes at ingest (see
    urls.normalize_url_ingest for the relational parts)."""
    return (
        fetched.groupBy("url")
        .agg(
            F.min(F.struct(F.col("seq"), F.col("scraped_at"))).alias("_first"),
            F.min("depth").alias("last_depth"),
            F.max("scraped_at").alias("last_seen_at"),
            F.count(F.lit(1)).alias("n_fetches"),
        )
        .select(
            "url",
            F.col("_first.scraped_at").alias("first_seen_at"),
            "last_seen_at",
            "last_depth",
            "n_fetches",
        )
    )


def found_links_count(fetched: DataFrame) -> DataFrame:
    """D5."""
    return fetched.select("seq", "url", F.size("found_links").alias("found_links_count"))


def top_k_by_count(df: DataFrame, group_col: str, k: int = 5) -> DataFrame:
    """D8/O6: GROUP BY ... ORDER BY count DESC LIMIT k (deterministic tie
    break on the group key)."""
    return (
        df.groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col(group_col).asc())
        .limit(k)
    )
