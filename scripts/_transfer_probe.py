"""Frontier-scaling residual analysis (VERDICT r3 #7): is the sub-0.8
frontier-stage efficiency parse work or pure Arrow/memory-bandwidth
transfer share?

Runs the frontier stage's data movement at one parallelism level in two
forms over the identical replicated corpus:

  transfer   the same (url, html) Arrow shipment into python workers, but
             the UDF only touches lengths — no parse, no resolution. This
             is the irreducible transfer floor of any python-side frontier.
  frontier   the real found_links pipeline (parse + resolve + memo +
             posexplode + first-discovery groupBy), as _scaling_job.py.

Printed JSON feeds scripts/bench_scaling.py-style min-of-N comparison by
the caller (interleave levels yourself; see BENCH/BASELINE.md methodology).

Usage: taskset -c 0-(N-1) python scripts/_transfer_probe.py <cores> <replicas> <sf_dir> <mode>
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(cores: int, replicas: int, sf_dir: str, mode: str) -> None:
    import pandas as pd
    from pyspark.sql import SparkSession, functions as F
    from pyspark.sql import types as T

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(f"transfer-probe-{cores}-{mode}")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "24g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    from crawler_german_localpoliticans_spark.functions import udfs
    from crawler_german_localpoliticans_spark.sources.webcorpus import corpus_from_documents

    base, _, _ = corpus_from_documents(spark, sf_dir)
    pages = (
        base.crossJoin(F.broadcast(spark.range(replicas).select(F.col("id").alias("rep"))))
        .withColumn("url", F.concat(F.col("url"), F.lit("?r="), F.col("rep")))
        .drop("rep")
    )
    pages = pages.repartition(64).persist()
    n_pages = pages.count()

    @F.pandas_udf(T.LongType())
    def touch(urls: pd.Series, htmls: pd.Series) -> pd.Series:
        # transfer-only control: force materialization of both columns,
        # do no parsing
        return htmls.str.len().fillna(0).astype("int64") + urls.str.len()

    t0 = time.monotonic()
    if mode == "transfer":
        out = pages.select(touch(F.col("url"), F.col("html")).alias("n"))
        agg = out.agg(F.sum("n")).collect()[0][0]
    elif mode == "frontier":
        links = pages.select(
            F.col("url"), udfs.found_links(F.col("url"), F.col("html")).alias("found_links")
        )
        cand = links.select(
            F.xxhash64("url").alias("parent"),
            F.posexplode("found_links").alias("pos", "child"),
        )
        first = cand.groupBy("child").agg(
            F.min(F.struct("parent", "pos")).alias("first"), F.count(F.lit(1)).alias("n")
        )
        agg = first.agg(F.count(F.lit(1)), F.sum("n")).collect()[0][1]
    else:
        raise SystemExit(f"unknown mode {mode}")
    wall = time.monotonic() - t0

    spark.stop()
    print(json.dumps({"cores": cores, "mode": mode, "pages": n_pages,
                      "agg": int(agg), "wall_sec": round(wall, 2)}))


if __name__ == "__main__":
    main(int(sys.argv[1]), int(sys.argv[2]), sys.argv[3], sys.argv[4])
