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
