"""Incremental ingest of committed crawl output as a stream.

Replaces the reference's poll-loop incremental scan
(python_container/crawler_ingest.py:406-420 S3 relisting + :244-303 ETag
reprocess gate): Spark's file stream source tracks processed files in its
own checkpoint, so each committed round directory is ingested exactly once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import FETCHED_SCHEMA


def stream_fetched_counts(
    spark: SparkSession, fetched_dir: str, checkpoint_dir: str, query_name: str = "fetched_counts"
):
    """availableNow stream over `<work_dir>/fetched/round=*` producing
    per-depth page counts into an in-memory sink. Returns the started query;
    caller awaits termination and reads `spark.table(query_name)`."""
    stream = (
        spark.readStream.schema(FETCHED_SCHEMA)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(fetched_dir)
    )
    agg = stream.groupBy("depth").agg(
        F.count(F.lit(1)).alias("pages"),
        F.sum(F.col("keyword_hit").cast("long")).alias("keyword_pages"),
        F.sum(F.size("found_links")).alias("links"),
    )
    return (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# S10: ETag-change reprocessing gate
# ---------------------------------------------------------------------------

#: columns a storage listing must carry; `etag` is the content fingerprint
#: (md5 of the object bytes in the offline model, matching S3 semantics)
STORAGE_KEY_COLS = ("bucket", "object_key")


def merge_storage_objects(
    current: DataFrame | None, listed: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """The reference's per-object ETag gate as a set operation
    (python_container/crawler_ingest.py:245-303 `upsert_storage_object`):
    a listed object needs processing iff it is NEW (no ledger row for its
    (bucket, object_key)) or its etag CHANGED; unchanged objects only
    refresh their ledger metadata.

    Returns (new_ledger, to_process):
    - new_ledger: listed rows overwrite matching ledger rows (the reference's
      ON CONFLICT DO UPDATE); unlisted ledger rows survive untouched;
    - to_process: the listed rows with `inserted` / `etag_changed` flags —
      exactly the rows the reference re-upserts. Flag semantics match the
      reference exactly: `etag_changed` initializes True and is only
      compared when a ledger row existed (crawler_ingest.py:257-260), so
      inserted rows carry (inserted=True, etag_changed=True) on both the
      bootstrap and incremental paths. Null etags compare null-safely
      (None != None is False in the reference's Python check).

    Idempotence: merging the same listing twice flags nothing the second
    time — the ledger already carries the new etags (tests/test_resume.py).
    At scale both sides hash-shuffle on the composite key; the ledger is the
    big side and the listing the small delta, so AQE broadcasts the delta.
    """
    keys = list(STORAGE_KEY_COLS)
    if current is None:
        to_process = listed.withColumn("inserted", F.lit(True)).withColumn(
            "etag_changed", F.lit(True)
        )
        return listed, to_process
    old = current.select(
        *keys, F.col("etag").alias("_old_etag"), F.lit(True).alias("_present")
    )
    gated = listed.join(old, on=keys, how="left")
    to_process = (
        gated.withColumn("inserted", F.col("_present").isNull())
        .withColumn(
            "etag_changed",
            F.col("_present").isNull() | ~F.col("etag").eqNullSafe(F.col("_old_etag")),
        )
        .where(F.col("inserted") | F.col("etag_changed"))
        .drop("_old_etag", "_present")
    )
    survivors = current.join(listed.select(*keys), on=keys, how="left_anti")
    new_ledger = survivors.unionByName(listed)
    return new_ledger, to_process
