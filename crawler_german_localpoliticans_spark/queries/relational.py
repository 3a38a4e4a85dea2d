"""Registry relational queries over the events, documents and TPC-H-style
tables — aggregates, top-k, windows, rollup, set operations,
sessionization — each beside its DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.ledger import top_k_by_count
from .common import _docs, _e6


def _q_ledger_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.groupBy("user_id").agg(
        F.min("ts").alias("first_seen_at"),
        F.max("ts").alias("last_seen_at"),
        F.count(F.lit(1)).alias("n_events"),
        _e6(F.sum("value")).alias("total_value_e6"),
    )


_LEDGER_EVENTS_SQL = """
            SELECT user_id, min(ts) AS first_seen_at, max(ts) AS last_seen_at,
                   count(*) AS n_events,
                   CAST(round(sum(value) * 1000000) AS BIGINT) AS total_value_e6
            FROM events GROUP BY user_id
        """

_TOP_SOURCES = 5


def _q_top_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    return top_k_by_count(_docs(spark, sf_dir), "source", k=_TOP_SOURCES).select("source", "n")


_TOP_SOURCES_SQL = f"""
            SELECT source, count(*) AS n FROM documents
            GROUP BY source ORDER BY n DESC, source ASC LIMIT {_TOP_SOURCES}
        """


def _q_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.row_number().over(w).alias("rn"),
        F.lag("event_type").over(w).alias("prev_type"),
    )


_EVENTS_WINDOW_SQL = """
            SELECT event_id, user_id,
                   CAST(row_number() OVER w AS INT) AS rn,
                   lag(event_type) OVER w AS prev_type
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """

_SHIP_CUTOFF = "1998-09-02"


def _q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.where(F.col("l_shipdate") <= F.lit(_SHIP_CUTOFF))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity") * 100).cast("long").alias("sum_qty_e2"),
            F.round(F.sum("l_extendedprice") * 100).cast("long").alias("sum_base_price_e2"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100
            ).cast("long").alias("sum_disc_price_e2"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_PRICING_SUMMARY_SQL = f"""
            SELECT l_returnflag, l_linestatus,
                   CAST(round(sum(l_quantity) * 100) AS BIGINT) AS sum_qty_e2,
                   CAST(round(sum(l_extendedprice) * 100) AS BIGINT)
                       AS sum_base_price_e2,
                   CAST(round(sum(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)
                       AS sum_disc_price_e2,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '{_SHIP_CUTOFF} 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """


def _q_volume_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100)
            .cast("long")
            .alias("revenue_e2"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_VOLUME_BY_NATION_SQL = """
            SELECT n_name,
                   CAST(round(sum(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)
                       AS revenue_e2,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            GROUP BY n_name
        """


def _q_rollup_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity") * 100).cast("long").alias("sum_qty_e2"),
        )
    )


_ROLLUP_PRICING_SQL = """
            SELECT l_returnflag, l_linestatus, count(*) AS n,
                   CAST(round(sum(l_quantity) * 100) AS BIGINT) AS sum_qty_e2
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """

_SEGMENT = "BUILDING"
_BIG_ORDER = 100000


def _q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    building = c.where(F.col("c_mktsegment") == _SEGMENT).select(
        F.col("c_custkey").alias("custkey")
    )
    big_spenders = o.where(F.col("o_totalprice") > _BIG_ORDER).select(
        F.col("o_custkey").alias("custkey")
    )
    inter = building.intersect(big_spenders).withColumn("op", F.lit("intersect"))
    exc = building.exceptAll(big_spenders.distinct()).distinct().withColumn("op", F.lit("except"))
    return inter.unionByName(exc).select("op", "custkey")


_SET_OPS_SQL = f"""
            WITH building AS (
                SELECT c_custkey AS custkey FROM customer
                WHERE c_mktsegment = '{_SEGMENT}'
            ),
            big AS (
                SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > {_BIG_ORDER}
            )
            SELECT 'intersect' AS op, custkey FROM (SELECT custkey FROM building INTERSECT SELECT custkey FROM big)
            UNION ALL
            SELECT 'except' AS op, custkey FROM (SELECT custkey FROM building EXCEPT SELECT custkey FROM big)
        """

_SESSION_GAP_S = 1800


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond-exact integer gap (epoch micros; ts is NTZ, session tz is
    # UTC) so the semantics can never diverge from DuckDB's fractional
    # epoch(ts - lag(ts)) on sub-second data; session_id cast to BIGINT on
    # BOTH sides so the driver's cell normalizer sees the same representation
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    new_sess = F.when(gap.isNull() | (gap > _SESSION_GAP_S * 1000000), 1).otherwise(0)
    wsum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(new_sess).over(wsum).cast("long").alias("session_id"),
    )


_SESSIONIZE_SQL = f"""
            WITH gaps AS (
                SELECT event_id, user_id,
                       CASE WHEN lag(ts) OVER w IS NULL
                              OR epoch(ts - lag(ts) OVER w) > {_SESSION_GAP_S}
                            THEN 1 ELSE 0 END AS new_sess,
                       ts, event_id AS eid
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            )
            SELECT event_id, user_id,
                   CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, eid
                                            ROWS UNBOUNDED PRECEDING) AS BIGINT)
                       AS session_id
            FROM gaps
        """

QUERIES = {
    "ledger_events": (_q_ledger_events, _LEDGER_EVENTS_SQL),
    "top_sources": (_q_top_sources, _TOP_SOURCES_SQL),
    "events_window": (_q_events_window, _EVENTS_WINDOW_SQL),
    "pricing_summary": (_q_pricing_summary, _PRICING_SUMMARY_SQL),
    "volume_by_nation": (_q_volume_by_nation, _VOLUME_BY_NATION_SQL),
    "rollup_pricing": (_q_rollup_pricing, _ROLLUP_PRICING_SQL),
    "set_ops": (_q_set_ops, _SET_OPS_SQL),
    "sessionize": (_q_sessionize, _SESSIONIZE_SQL),
}
