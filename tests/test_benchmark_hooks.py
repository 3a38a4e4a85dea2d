"""The benchmark's traced run (perfbench/tracing.py) wraps engine calls by
name. A renamed or removed target is only listed in `Tracer.missing` and its
per-layer metric silently reads 0, so every hook must resolve, and
`uninstall()` must put every original back."""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

from tracing import Tracer  # noqa: E402


def test_crawl_hooks_resolve_and_uninstall(spark):
    from crawler_german_localpoliticans_spark.plans import crawl
    from crawler_german_localpoliticans_spark.plans.bloom import BloomSidecar
    from crawler_german_localpoliticans_spark.plans.checkpoint import CheckpointLog
    from crawler_german_localpoliticans_spark.sources.tables import Catalog

    targets = [
        (crawl.CrawlDriver, "__init__"),
        (crawl.CrawlDriver, "run"),
        (crawl.CrawlDriver, "_run_round"),
        (Catalog, "write_round"),
        (crawl, "assign_global_seq_counted"),
        (BloomSidecar, "insert"),
        (CheckpointLog, "commit"),
    ]
    originals = [getattr(owner, attr) for owner, attr in targets]

    tracer = Tracer(spark, "t")
    tracer.install_crawl()
    try:
        assert tracer.missing == []
        for (owner, attr), original in zip(targets, originals):
            assert getattr(owner, attr) is not original, attr
    finally:
        tracer.uninstall()

    for (owner, attr), original in zip(targets, originals):
        assert getattr(owner, attr) is original, attr


def test_traced_crawl_has_one_span_per_enqueue_layer(spark, smoke_dir, tmp_path):
    """Seeding and every expanding round run exactly one seq assignment, one
    frontier write and one bloom insert inside the wrapped calls; work moved
    outside them would zero a per-layer metric without failing anything."""
    from crawler_german_localpoliticans_spark.config import CrawlConfig
    from crawler_german_localpoliticans_spark.plans.crawl import CrawlDriver
    from crawler_german_localpoliticans_spark.sources.seeds import seeds_from_table
    from crawler_german_localpoliticans_spark.sources.tables import read_robots

    config = CrawlConfig(seen_partitions=8)
    robots = read_robots(spark, f"{smoke_dir}/robots.parquet")
    seeds = seeds_from_table(spark.read.parquet(f"{smoke_dir}/seeds.parquet"))
    tracer = Tracer(spark, "t")
    tracer.install_crawl()
    try:
        driver = CrawlDriver(spark, str(tmp_path), f"{smoke_dir}/pages.parquet", robots, config)
        metrics = driver.run(seeds).metrics
    finally:
        tracer.uninstall()

    layers = ("ordering.seq_assign", "catalog.frontier_write", "bloom.insert")
    expanding = [m["round"] for m in metrics if m["round"] < config.max_depth]
    assert expanding  # the smoke crawl expands at least once
    # seeding's spans carry no round; an expanding round's carry its number
    for round_no in [None, *expanding]:
        names = [s["name"] for s in tracer.spans if s["round"] == round_no]
        assert [names.count(n) for n in layers] == [1, 1, 1], (round_no, names)
    last = [s["name"] for s in tracer.spans if s["round"] == config.max_depth]
    assert not set(layers) & set(last), last
