"""Benchmark harness (driver contract).

Runs the headline workload at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": <total headline sec>, "unit": "sec",
 "queries": {name: sec, ...}, "sf": ..., plus throughput fields}.

Headline metrics mirror BASELINE.json: frontier URLs scheduled+deduped/sec
(the crawl pipeline: schedule -> robots -> politeness -> fetch-join ->
link extraction -> candidate dedup) and pages extracted/sec (clean_html +
text extraction pandas UDFs over every page). Scaling evidence across two
parallelism levels is produced by scripts/bench_scaling.py -> BENCH/BASELINE.md.

Every timed section reports the min of BENCH_RUNS (default 2) runs — the
same pinned min-of-N methodology as scripts/bench_scaling.py (see
BENCH/BASELINE.md "Variance"): run 1 absorbs JIT/codegen of the plan shapes
and this host's steal-time spikes; a production crawl is a long-lived job
where those amortize to zero. Set BENCH_RUNS=1 for the old single-shot
behavior.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


BENCH_RUNS = max(1, int(os.environ.get("BENCH_RUNS", "2")))


def build_spark(cpus: int, app_name: str = "crawler-spark-bench"):
    """The benchmark session; bench_extra.py builds the same one."""
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus * 2, 16)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_BENCH_DRIVER_MEM", "24g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .getOrCreate()
    )


def bench_crawl(spark, sf_dir: str) -> dict:
    """Full iterative crawl over the corpus derived from sf_dir documents.
    Input preparation (corpus derivation + parquet write + robots parse) is
    setup, not crawl work — the timer covers driver.run() only.
    Throughput = (URLs scheduled + candidate links deduped) / wall sec."""
    import tempfile

    from crawler_german_localpoliticans_spark.config import CrawlConfig
    from crawler_german_localpoliticans_spark.plans.crawl import CrawlDriver
    from crawler_german_localpoliticans_spark.sources.webcorpus import corpus_from_documents

    pages, seeds, robots = corpus_from_documents(spark, sf_dir)
    base_dir = tempfile.mkdtemp(prefix="bench_crawl_")
    pages_path = f"{base_dir}/pages_input"
    pages.write.mode("overwrite").parquet(pages_path)
    config = CrawlConfig(max_depth=2, seen_partitions=32)

    wall = None
    for run in range(BENCH_RUNS):
        # fresh state dir AND cleared cache per run — each run is a complete
        # cold crawl (Spark's CacheManager would otherwise rewrite run 2's
        # identical plans onto run 1's cached relations); only JVM/worker
        # warmup carries over, which is the point of min-of-N
        spark.catalog.clearCache()
        driver = CrawlDriver(spark, f"{base_dir}/state_{run}", pages_path, robots, config)
        t0 = time.monotonic()
        tables = driver.run(seeds)
        # force full materialization
        n_fetched = tables.fetched.count()
        w = time.monotonic() - t0
        wall = w if wall is None else min(wall, w)
    scheduled = sum(m.get("scheduled", 0) for m in tables.metrics)
    candidates = sum(m.get("candidates", 0) for m in tables.metrics)
    return {
        "sec": wall,
        "fetched": n_fetched,
        "urls_scheduled": scheduled,
        "candidates_deduped": candidates,
        "urls_per_sec": (scheduled + candidates) / wall if wall > 0 else 0.0,
    }


def bench_extraction(spark, sf_dir: str) -> dict:
    """clean_html + extract_text pandas UDFs over EVERY derived page (the
    extraction stage without the keyword gate, to measure UDF throughput)."""
    from pyspark.sql import functions as F

    from crawler_german_localpoliticans_spark.functions import udfs
    from crawler_german_localpoliticans_spark.sources.webcorpus import corpus_from_documents

    pages, _, _ = corpus_from_documents(spark, sf_dir)
    pages = pages.repartition(int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    wall = None
    for _ in range(BENCH_RUNS):
        t0 = time.monotonic()
        out = pages.select("url", udfs.clean_extract(F.col("html")).alias("ce")).select(
            "url", F.col("ce.text").alias("text")
        )
        n = out.where(F.length("text") > 0).count()
        w = time.monotonic() - t0
        wall = w if wall is None else min(wall, w)
    return {"sec": wall, "pages": n, "pages_per_sec": n / wall if wall > 0 else 0.0}


def bench_pipeline_throughput(spark, sf_dir: str, replicas: int = 20) -> dict:
    """Steady-state throughput of the wave pipeline's compute stages over a
    replicated corpus (amortizes fixed job costs that dominate the tiny
    end-to-end crawl at sandbox scale): link-extraction UDF + candidate
    explode + first-discovery dedup, and the extraction UDFs."""
    from pyspark.sql import functions as F

    from crawler_german_localpoliticans_spark.functions import udfs
    from crawler_german_localpoliticans_spark.sources.webcorpus import corpus_from_documents

    base, _, _ = corpus_from_documents(spark, sf_dir)
    pages = (
        base.crossJoin(F.broadcast(spark.range(replicas).select(F.col("id").alias("rep"))))
        .withColumn("url", F.concat(F.col("url"), F.lit("?r="), F.col("rep")))
        .drop("rep")
        .repartition(64)
        .persist()
    )
    n_pages = pages.count()

    frontier_sec = extract_sec = None
    for _ in range(BENCH_RUNS):
        t0 = time.monotonic()
        links = pages.select(
            F.col("url"), udfs.found_links(F.col("url"), F.col("html")).alias("fl")
        )
        cand = links.select(
            F.xxhash64("url").alias("parent"), F.posexplode("fl").alias("pos", "child")
        )
        row = (
            cand.groupBy("child")
            .agg(F.min(F.struct("parent", "pos")).alias("f"), F.count(F.lit(1)).alias("n"))
            .agg(F.count(F.lit(1)).alias("d"), F.sum("n").alias("c"))
            .collect()[0]
        )
        w = time.monotonic() - t0
        frontier_sec = w if frontier_sec is None else min(frontier_sec, w)

        t0 = time.monotonic()
        n_ext = (
            pages.select(udfs.clean_extract(F.col("html")).alias("ce"))
            .where(F.length("ce.text") > 0)
            .count()
        )
        w = time.monotonic() - t0
        extract_sec = w if extract_sec is None else min(extract_sec, w)
    pages.unpersist()
    n_cand = int(row["c"])
    return {
        "pages": n_pages,
        "frontier_sec": round(frontier_sec, 2),
        "pipeline_urls_per_sec": round((n_pages + n_cand) / frontier_sec, 1),
        "extract_sec": round(extract_sec, 2),
        "pipeline_pages_extracted_per_sec": round(n_ext / extract_sec, 1),
    }


def bench_query(spark, sf_dir: str, fn) -> float:
    wall = None
    for _ in range(BENCH_RUNS):
        # cold data every run (operators with internal persists — e.g. the
        # minhash signature table — must rebuild, not re-read run 1's cache)
        spark.catalog.clearCache()
        t0 = time.monotonic()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        w = time.monotonic() - t0
        wall = w if wall is None else min(wall, w)
    return wall


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = build_spark(cpus)

    import __spark_entry__ as entrymod

    # warm-up: JVM JIT + python-worker pool spin-up (~15-25 s on this host)
    # is session overhead, not engine throughput — pay it before timing
    from pyspark.sql import functions as F

    from crawler_german_localpoliticans_spark.functions import udfs

    warm = spark.range(2000).select(
        F.concat(F.lit("https://w.de/"), F.col("id")).alias("url"),
        F.encode(F.lit("<a href='/x'>x</a>"), "UTF-8").alias("html"),
    )
    warm.select(udfs.found_links(F.col("url"), F.col("html"))).write.format("noop").mode(
        "overwrite"
    ).save()
    warm.select(udfs.clean_extract(F.col("html"))).write.format("noop").mode("overwrite").save()

    queries: dict[str, float] = {}

    crawl = bench_crawl(spark, sf_dir)
    queries["crawl_pipeline"] = round(crawl["sec"], 3)
    extraction = bench_extraction(spark, sf_dir)
    queries["extraction"] = round(extraction["sec"], 3)
    pipeline = bench_pipeline_throughput(spark, sf_dir)
    queries["pipeline_throughput"] = round(pipeline["frontier_sec"] + pipeline["extract_sec"], 3)
    spark.catalog.clearCache()  # don't let the big stage's cache/GC bleed into the operator timings

    q = entrymod.queries()
    for name in (
        "exact_dedup",
        "minhash_neardup",
        "simhash",
        "embedding_neardup",
        "cosine_topk",
        "lang_id",
        "quality_score",
        "token_count",
        "fingerprint",
        "pii_scrub",
        "contamination",
        "repetition_stats",
        "ledger_events",
        "events_window",
        "pricing_summary",
        "volume_by_nation",
    ):
        queries[name] = round(bench_query(spark, sf_dir, q[name]), 3)

    # round-5 operators, reported OUTSIDE the headline set (which stays
    # fixed across rounds for like-for-like totals); the heavy substring
    # queries are pinned separately in BENCH/NOTES.md (their walls swing
    # 2-3x with this testdata's near-dup density — noise, not signal)
    new_ops: dict[str, float] = {}
    for name in (
        "bigram_lm",
        "quality_topk_per_source",
        "mix_rebalance",
        "hash_split",
        "pack_emit",
        "ann_ivf_pruned",
    ):
        new_ops[name] = round(bench_query(spark, sf_dir, q[name]), 3)

    total = round(sum(queries.values()), 3)
    result = {
        "metric": "headline workload wall-clock (crawl pipeline + extraction + operator queries)",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": sf_dir,
        "cpus": cpus,
        "frontier_urls_scheduled_plus_deduped_per_sec": round(crawl["urls_per_sec"], 1),
        "pages_extracted_per_sec": round(extraction["pages_per_sec"], 1),
        "crawl_fetched_pages": crawl["fetched"],
        "extraction_pages": extraction["pages"],
        # steady-state stage throughput on a replicated corpus (fixed job
        # costs amortized — the number that projects to cluster scale)
        "steady_state": pipeline,
        # round-5 operator timings, outside the stable headline set
        "new_operator_queries": new_ops,
    }
    spark.stop()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
