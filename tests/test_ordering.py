"""Shuffle-safe global sequence assignment (plans/ordering.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from crawler_german_localpoliticans_spark.plans.ordering import assign_global_seq_counted


def test_seq_equals_total_order_rank(spark):
    df = spark.range(1000).select(
        (F.col("id") * 37 % 1000).alias("k"), F.col("id").alias("tie")
    )
    out = assign_global_seq_counted(df, ["k", "tie"], base=10)[0].collect()
    expected = sorted(((r["k"], r["tie"]) for r in out))
    for r in out:
        assert r["seq"] == 10 + expected.index((r["k"], r["tie"]))


def test_known_bounds_matches_scanned_bounds(spark):
    """known_bounds skips the bounds scan but must produce the identical
    total order — including with a LOOSE upper bound (bucket balance may
    differ, ranks may not)."""
    df = spark.range(500).select((F.col("id") * 13 % 500).alias("k"))
    base = assign_global_seq_counted(df, ["k"], base=0)[0].collect()
    exact = assign_global_seq_counted(
        df, ["k"], base=0, known_bounds=(0, 499)
    )[0].collect()
    loose = assign_global_seq_counted(
        df, ["k"], base=0, known_bounds=(0, 10_000)
    )[0].collect()
    ref = {r["k"]: r["seq"] for r in base}
    assert {r["k"]: r["seq"] for r in exact} == ref
    assert {r["k"]: r["seq"] for r in loose} == ref


def test_known_bounds_empty_input(spark):
    df = spark.range(0).select(F.col("id").alias("k"))
    out, n = assign_global_seq_counted(df, ["k"], known_bounds=(0, 100))
    assert n == 0
    assert out.count() == 0


def test_wide_span_lead_column_keeps_order(spark):
    """Bucketing stays monotone when the lead column spans +/- 2^62: a naive
    (lead-lo)*buckets long product would wrap into negative buckets."""
    keys = [-(2**62), -(2**40), -17, 0, 3, 2**41, 2**62, 2**62 + 5]
    df = spark.createDataFrame([(k,) for k in reversed(keys)], "k long")
    out, n = assign_global_seq_counted(df, ["k"], base=7)
    assert n == len(keys)
    assert {r["k"]: r["seq"] for r in out.collect()} == {
        k: 7 + i for i, k in enumerate(keys)
    }


def test_weighted_prefix_sum_matches_python(spark):
    """weight= turns the dense position into the exclusive running total of
    the weights in key order; the returned total is their grand sum."""
    rows = [(int((i * 7919) % 1000) - 500, (i * 31) % 11) for i in range(400)]
    rows = list({k: (k, w) for k, w in rows}.values())
    df = spark.createDataFrame(rows, "k long, w long")
    out, total = assign_global_seq_counted(
        df, ["k"], base=100, out_col="start", weight=F.col("w")
    )
    expect, acc = {}, 100
    for k, w in sorted(rows):
        expect[k] = acc
        acc += w
    assert total == acc - 100
    assert {r["k"]: r["start"] for r in out.collect()} == expect
    assert out.columns == ["k", "w", "start"]


def test_bounds_scan_releases_its_input_cache(spark):
    """The kernel caches its input for the bounds and totals actions and
    drops that cache before it returns, empty input included."""
    from pyspark import StorageLevel

    for n_rows in (50, 0):
        df = spark.range(n_rows).select((F.col("id") * 3).alias("k"))
        assign_global_seq_counted(df, ["k"])
        assert df.storageLevel == StorageLevel.NONE
