"""Deterministic, shuffle-safe global prefix sum: crawl seq and token packing.

The reference's crawl order is the single-worker FIFO order (SURVEY.md §2.7
O1); the rebuild pins it as an explicit `seq` column. Sequence packing needs
the same shape with token counts as weights (operators/packing.py). A naive
`SUM() OVER (ORDER BY ...)` funnels the whole input through one partition —
fine at sf0.001, a wall at 10^10 rows — so `assign_global_seq_counted`
computes the same running total in two distributed passes:

1. range-bucket rows by the leading order column (order-aligned buckets,
   one per `defaultParallelism` slot), running-sum the weights within each
   bucket (`partitionBy(bucket)` window);
2. collect the tiny per-bucket totals to the driver, turn them into offsets,
   broadcast-join them back: out = base + bucket_offset + running - weight.

Never depends on partition iteration order: every running total is taken
over an explicit sort (SURVEY.md §7).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def assign_global_seq_counted(
    df: DataFrame,
    order_cols: list[str],
    base: int = 0,
    out_col: str = "seq",
    known_bounds: tuple[int, int] | None = None,
    weight: Column | None = None,
) -> tuple[DataFrame, int]:
    """Add `out_col` = base + the exclusive running total of `weight` in the
    total order defined by `order_cols` (which must be duplicate-free), and
    return it with the grand total — the per-bucket totals already pay for
    it, so callers never need an extra count() action. `weight=None` counts
    1 per row, so `out_col` is then the row's 0-based dense position and the
    total is the row count.

    `known_bounds=(lo, hi)` skips the bounds scan when the caller already
    knows the leading column's inclusive range (e.g. crawl expansion:
    parent_seq ∈ [0, next_seq-1] by construction) — one less full pass over
    the input, which at 10^10-candidate waves is a whole scan saved. The
    bounds only steer bucket BALANCE; correctness needs lo <= min(lead)
    (bucket ids just clamp coarser if hi is loose), which the callers
    guarantee by construction.

    Without `known_bounds` the kernel runs two eager actions (bounds, bucket
    totals), so it persists its input for them — a UDF-heavy upstream then
    executes once for both probes — and unpersists that handle before it
    returns, so nothing leaks into a long-lived session (under AQE the cache
    build runs as one extra job of its own). The handle is kept
    apart from `df`, which is rebound below: unpersisting a derived frame
    would be a CacheManager no-op (plan mismatch) and leave the input
    pinned."""
    lead = order_cols[0]
    w_col = (F.lit(1) if weight is None else weight).cast("long")
    cached_input = None
    if known_bounds is not None:
        lo, hi = known_bounds
    else:
        cached_input = df = df.persist()
        bounds = df.agg(
            F.min(lead).alias("lo"), F.max(lead).alias("hi"), F.count(F.lit(1)).alias("n")
        ).collect()[0]
        if bounds["n"] == 0:
            cached_input.unpersist()
            return df.withColumn(out_col, F.lit(0).cast("long")), 0
        lo, hi = bounds["lo"], bounds["hi"]
    buckets = df.sparkSession.sparkContext.defaultParallelism
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
    df = df.withColumn("_bucket", bucket).withColumn("_w", w_col)
    w = (
        Window.partitionBy("_bucket")
        .orderBy(*[F.col(c).asc() for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # inclusive within-bucket running total; exclusive = inclusive - own
    df = df.withColumn("_incl", F.sum("_w").over(w))
    totals = df.groupBy("_bucket").agg(F.sum("_w").alias("_t")).collect()
    offsets: dict[int, int] = {}
    acc = 0
    for row in sorted(totals, key=lambda r: r["_bucket"]):
        offsets[row["_bucket"]] = acc
        acc += int(row["_t"] or 0)
    offsets_df = df.sparkSession.createDataFrame(
        [(b, o) for b, o in offsets.items()], "_bucket int, _offset long"
    )
    out = (
        df.join(F.broadcast(offsets_df), "_bucket")
        .withColumn(
            out_col, (F.lit(base) + F.col("_offset") + F.col("_incl") - F.col("_w")).cast("long")
        )
        .drop("_bucket", "_w", "_incl", "_offset")
    )
    if cached_input is not None:
        cached_input.unpersist(blocking=False)
    return out, acc
