"""Views of a `plans.oracle.crawl_oracle` result that only tests compare."""

from __future__ import annotations

from crawler_german_localpoliticans_spark.plans.oracle import OracleResult


def crawl_order(res: OracleResult) -> list[tuple[int, int, str]]:
    """(depth, seq, url) of every fetched page, in fetch order."""
    return [(r.depth, r.seq, r.url) for r in res.fetched]
