"""Relational crawl-ledger analytics: D8/O6 top-k by count
(validation/validation.py:463) over the reference's ingestion surface
(python_container/crawler_ingest.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def top_k_by_count(df: DataFrame, group_col: str, k: int = 5) -> DataFrame:
    """D8/O6: GROUP BY ... ORDER BY count DESC LIMIT k (deterministic tie
    break on the group key)."""
    return (
        df.groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col(group_col).asc())
        .limit(k)
    )
