"""Shuffle-safe global sequence assignment (plans/ordering.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from crawler_german_localpoliticans_spark.plans.ordering import assign_global_seq_counted


def test_seq_equals_total_order_rank(spark):
    df = spark.range(1000).select(
        (F.col("id") * 37 % 1000).alias("k"), F.col("id").alias("tie")
    )
    out = assign_global_seq_counted(df, ["k", "tie"], base=10, buckets=8)[0].collect()
    expected = sorted(((r["k"], r["tie"]) for r in out))
    for r in out:
        assert r["seq"] == 10 + expected.index((r["k"], r["tie"]))


def test_known_bounds_matches_scanned_bounds(spark):
    """known_bounds skips the bounds scan but must produce the identical
    total order — including with a LOOSE upper bound (bucket balance may
    differ, ranks may not)."""
    df = spark.range(500).select((F.col("id") * 13 % 500).alias("k"))
    base = assign_global_seq_counted(df, ["k"], base=0, buckets=16)[0].collect()
    exact = assign_global_seq_counted(
        df, ["k"], base=0, buckets=16, known_bounds=(0, 499)
    )[0].collect()
    loose = assign_global_seq_counted(
        df, ["k"], base=0, buckets=16, known_bounds=(0, 10_000)
    )[0].collect()
    ref = {r["k"]: r["seq"] for r in base}
    assert {r["k"]: r["seq"] for r in exact} == ref
    assert {r["k"]: r["seq"] for r in loose} == ref


def test_known_bounds_empty_input(spark):
    df = spark.range(0).select(F.col("id").alias("k"))
    out, n = assign_global_seq_counted(df, ["k"], known_bounds=(0, 100))
    assert n == 0
    assert out.count() == 0
