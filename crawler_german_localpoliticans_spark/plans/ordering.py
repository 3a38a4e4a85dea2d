"""Deterministic, shuffle-safe global sequence assignment.

The reference's crawl order is the single-worker FIFO order (SURVEY.md §2.7
O1); the rebuild pins it as an explicit `seq` column. A naive
`row_number() OVER (ORDER BY ...)` funnels the whole round through one
partition — fine at sf0.001, a wall at 10^10 URLs — so
`assign_global_seq_counted` computes the same total order in two distributed
passes:

1. range-bucket rows by the leading order column (order-aligned buckets),
   rank within each bucket (`partitionBy(bucket)` window);
2. collect the tiny per-bucket counts to the driver, turn them into offsets,
   broadcast-join them back: seq = base + bucket_offset + local_rank.

Never depends on partition iteration order (SURVEY.md §7: "always row_number
over an explicit sort").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def assign_global_seq_counted(
    df: DataFrame,
    order_cols: list[str],
    base: int = 0,
    buckets: int = 32,
    out_col: str = "seq",
    known_bounds: tuple[int, int] | None = None,
) -> tuple[DataFrame, int]:
    """Add `out_col` = base + 0-based dense position of the row in the total
    order defined by `order_cols` (which must be duplicate-free), and return
    it with the total row count — the per-bucket counts already pay for it,
    so callers never need an extra count() action.

    `known_bounds=(lo, hi)` skips the bounds scan when the caller already
    knows the leading column's inclusive range (e.g. crawl expansion:
    parent_seq ∈ [0, next_seq-1] by construction) — one less full pass over
    the input, which at 10^10-candidate waves is a whole scan saved. The
    bounds only steer bucket BALANCE; correctness needs lo <= min(lead)
    (bucket ids just clamp coarser if hi is loose), which the callers
    guarantee by construction."""
    lead = order_cols[0]
    if known_bounds is not None:
        lo, hi = known_bounds
    else:
        bounds = df.agg(
            F.min(lead).alias("lo"), F.max(lead).alias("hi"), F.count(F.lit(1)).alias("n")
        ).collect()[0]
        if bounds["n"] == 0:
            return df.withColumn(out_col, F.lit(0).cast("long")), 0
        lo, hi = bounds["lo"], bounds["hi"]
    span = (hi - lo) + 1 if hi is not None else 1
    # monotone double form, never (lead-lo)*buckets on longs: a lead-column
    # domain spanning >= 2^58 (hash-derived keys) would overflow the
    # product and wrap into negative buckets, breaking the bucket-order ==
    # key-order invariant the offset pass relies on. long->double and
    # division are monotone, so ordering is preserved at any span.
    bucket = (
        F.least(
            F.floor((F.col(lead).cast("double") - float(lo)) / F.lit(float(span)) * buckets),
            F.lit(buckets - 1),
        ).cast("int")
        if span > 1
        else F.lit(0)
    )
    df = df.withColumn("_bucket", bucket)
    w = Window.partitionBy("_bucket").orderBy(*[F.col(c).asc() for c in order_cols])
    df = df.withColumn("_local", F.row_number().over(w))
    counts = df.groupBy("_bucket").count().collect()
    offsets: dict[int, int] = {}
    acc = 0
    for row in sorted(counts, key=lambda r: r["_bucket"]):
        offsets[row["_bucket"]] = acc
        acc += row["count"]
    spark = df.sparkSession
    offsets_df = spark.createDataFrame(
        [(b, o) for b, o in offsets.items()], "_bucket int, _offset long"
    )
    out = (
        df.join(F.broadcast(offsets_df), "_bucket")
        .withColumn(out_col, (F.lit(base) + F.col("_offset") + F.col("_local") - 1).cast("long"))
        .drop("_bucket", "_local", "_offset")
    )
    return out, acc
