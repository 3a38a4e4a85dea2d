"""Engine table schemas + a parquet-backed catalog with atomic commits.

Explicit StructType everywhere — never schema inference (the reference fixes
schemas at every worker boundary: serde structs src/main.rs:58-85, DDL
python_container/crawler_ingest.py:63-132).

Production target is Iceberg (BASELINE.json: "Iceberg frontier/fetched
tables"): every append here maps to `writeTo(...).append()`, every round
commit to an Iceberg snapshot, and resume to snapshot time-travel. The
sandbox container has no Iceberg runtime jar, so `Catalog` reproduces the two
properties the engine actually relies on with plain parquet:

- *atomic visibility*: data is written to a temp dir then renamed into place,
  and readers only see directories listed in the checkpoint log;
- *incremental append*: each crawl round writes its own `round=NNNN`
  directory (partition pruning on resume and on per-round reads).

(Jar availability re-checked rounds 4 and 5 — `find / -name '*iceberg*.jar'`
empty, no pyiceberg module: the container's pyspark distribution ships no
Iceberg/Delta/Hudi jars and there is no network to
fetch one, so the documented emulation stands rather than a faked
`MERGE INTO`. On a real cluster, swap `Catalog` appends for
`writeTo(...).append()` behind the same interface.)
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# --- input shape fixed by BASELINE.json input_hint -------------------------
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)

ROBOTS_SCHEMA = T.StructType(
    [
        T.StructField("host_key", T.StringType()),
        T.StructField("robots_txt", T.StringType()),
    ]
)

# --- engine tables ----------------------------------------------------------
FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType(), False),  # global crawl-order key
        T.StructField("url", T.StringType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("host", T.StringType()),
        T.StructField("host_key", T.StringType()),
    ]
)

FETCHED_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("scraped_at", T.TimestampType()),
        T.StructField("found_links", T.ArrayType(T.StringType()), False),
        T.StructField("keyword_hit", T.BooleanType(), False),
        T.StructField("robots_blocked", T.BooleanType(), False),
        T.StructField("fetch_failed", T.BooleanType(), False),
    ]
)

EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("clean_html", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("custom_id", T.StringType()),
    ]
)


class MissingRoundError(FileNotFoundError):
    """A round the checkpoint log commits has no directory on disk."""


class Catalog:
    """Parquet table layout under a work dir, with atomic per-round commits.

    Layout: `<root>/<table>/round=NNNN/*.parquet`. A round directory becomes
    visible only after the checkpoint row for that round is committed
    (plans/checkpoint.py); readers pass the committed round list.
    """

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _table_dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def round_dir(self, table: str, round_no: int) -> str:
        return os.path.join(self._table_dir(table), f"round={round_no:06d}")

    def write_round(self, table: str, round_no: int, df: DataFrame) -> None:
        """Atomic: write to temp dir, rename into place."""
        final = self.round_dir(table, round_no)
        tmp = final + f".tmp-{uuid.uuid4().hex[:8]}"
        df.write.mode("overwrite").parquet(tmp)
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(tmp, final)

    def has_round(self, table: str, round_no: int) -> bool:
        return os.path.isdir(self.round_dir(table, round_no))

    def drop_rounds_after(self, table: str, last_committed: int) -> None:
        """Remove uncommitted round dirs (resume after a kill)."""
        tdir = self._table_dir(table)
        if not os.path.isdir(tdir):
            return
        for name in os.listdir(tdir):
            if not name.startswith("round="):
                continue
            rno = int(name.split("=", 1)[1].split(".")[0])
            if rno > last_committed or ".tmp-" in name:
                shutil.rmtree(os.path.join(tdir, name))

    def read_rounds(self, table: str, rounds: list[int], schema: T.StructType) -> DataFrame:
        """Union of the given round dirs. Every requested round must exist: a
        lost frontier dir would silently shrink the URL-seen set and
        re-enqueue duplicates, so it raises MissingRoundError instead."""
        if not rounds:
            return self.spark.createDataFrame([], schema)
        missing = [r for r in rounds if not self.has_round(table, r)]
        if missing:
            raise MissingRoundError(
                f"{table}: committed round(s) {missing} missing under {self._table_dir(table)}"
            )
        return self.spark.read.schema(schema).parquet(*[self.round_dir(table, r) for r in rounds])


def spread(df: DataFrame) -> DataFrame:
    """`df` round-robin repartitioned to defaultParallelism when its parquet
    input has fewer row groups than that, else `df` unchanged.

    The row group is the scan's parallelism unit: a one-row-group file (the
    testdata tables at every sf) scans in ONE task however many byte splits
    Spark plans for it, and every per-document kernel fused into that scan
    stage (regexp Columns, Arrow UDFs, explodes feeding a shuffle) runs on
    one core. One round-robin exchange of the text up front lets the kernels
    use every core (measured at sf1.0, local[32], min-of-2: pii_scrub 5.6s ->
    1.1s, fingerprint 5.3s -> 0.9s, contamination 22.8s -> 5.2s, bigram_lm
    12.8s -> 4.8s). A multi-file table with at least defaultParallelism row
    groups already scans split-parallel, and the exchange would be a full
    shuffle that buys nothing. `rdd.getNumPartitions()` cannot make this
    call: it counts byte splits, most of which are empty when a large row
    group is cut into several.

    Row groups are counted from the footers of `df.inputFiles()` (the
    pyarrow read `checkpoint.partition_lineage` uses), stopping once the
    count reaches defaultParallelism, so a many-file table costs at most
    that many footer reads. Call it only before heavy per-document work:
    a plan that is one cheap column pass plus a partial aggregation
    (exact_dedup, source_mix, hash_split) pays the text shuffle for
    nothing (measured exact_dedup 0.43s -> 1.5s with the spread)."""
    import pyarrow.fs as pafs
    import pyarrow.parquet as pq

    cores = df.sparkSession.sparkContext.defaultParallelism
    row_groups = 0
    for uri in df.inputFiles():
        fs, path = pafs.FileSystem.from_uri(uri)
        row_groups += pq.read_metadata(path, filesystem=fs).num_row_groups
        if row_groups >= cores:
            return df
    return df.repartition(cores)


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(PAGES_SCHEMA).parquet(path)


def read_robots(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(ROBOTS_SCHEMA).parquet(path)
