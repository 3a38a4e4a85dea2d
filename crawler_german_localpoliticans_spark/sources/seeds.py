"""Seed sources: CSV scan (S1) and seed -> depth-0 frontier (S2).

reference: src/bin/seeder.rs:20-69 (column select by case-insensitive header
name, blank/invalid rows skipped, fragment-only normalization; the
reference's select-by-index is not offered),
:119-146 (depth-0 tasks pushed in CSV order — order is load-bearing for seq).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_seeds_csv(spark: SparkSession, path: str, column_name: str | None = None) -> DataFrame:
    """CSV seed scan preserving file order as `seed_order`.

    Column resolution mirrors seeder.rs:23-45 without its index select:
    case-insensitive header-name match falling back to the first column.
    """
    df = spark.read.option("header", True).csv(path)
    cols = df.columns
    idx = 0
    if column_name is not None:
        target = column_name.strip().lower()
        for pos, c in enumerate(cols):
            if c.strip().lower() == target:
                idx = pos
                break
    col = cols[idx]
    # CSV order: single-file CSV reads preserve row order within a partition;
    # pin it explicitly for multi-partition reads at scale
    df = df.coalesce(1).withColumn("seed_order", F.monotonically_increasing_id())
    return (
        df.select(F.trim(F.col(col)).alias("raw_url"), "seed_order")
        .where(F.col("raw_url").isNotNull() & (F.col("raw_url") != ""))
    )


def seeds_from_table(df: DataFrame) -> DataFrame:
    """Seeds from the `Websites` column of a parquet table (fixture path),
    preserving row order."""
    return (
        df.coalesce(1)
        .withColumn("seed_order", F.monotonically_increasing_id())
        .select(F.trim(F.col("Websites")).alias("raw_url"), "seed_order")
        .where(F.col("raw_url").isNotNull() & (F.col("raw_url") != ""))
    )
