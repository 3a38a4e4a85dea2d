"""Kill/resume: a run killed mid-crawl resumes from the last committed round
and produces byte-identical final tables (FIXTURES.md scenario 3;
BASELINE.md "Resumability": checkpointed per-partition lineage)."""

from __future__ import annotations

import json
import os
import shutil

import pytest

from crawler_german_localpoliticans_spark.config import CrawlConfig
from crawler_german_localpoliticans_spark.plans.crawl import CrawlDriver
from crawler_german_localpoliticans_spark.sources.seeds import seeds_from_table
from crawler_german_localpoliticans_spark.sources.tables import read_robots


def collect_tables(tables):
    fetched = sorted(
        (r["depth"], r["seq"], r["url"], tuple(r["found_links"]), r["keyword_hit"])
        for r in tables.fetched.collect()
    )
    seen = sorted(r["url"] for r in tables.url_seen.select("url").distinct().collect())
    extracted = sorted(
        (r["url"], r["clean_html"], r["text"], r["custom_id"]) for r in tables.extracted.collect()
    )
    return fetched, seen, extracted


def test_kill_after_round0_resume_exact(spark, smoke_dir, tmp_path):
    config = CrawlConfig(seen_partitions=8)
    robots = read_robots(spark, f"{smoke_dir}/robots.parquet")
    seeds = seeds_from_table(spark.read.parquet(f"{smoke_dir}/seeds.parquet"))

    # uninterrupted reference run
    full_dir = str(tmp_path / "full")
    d_full = CrawlDriver(spark, full_dir, f"{smoke_dir}/pages.parquet", robots, config)
    expected = collect_tables(d_full.run(seeds))

    # killed run: complete everything, then rewind to "only round 0 committed"
    # and corrupt the workspace with uncommitted partial writes
    kill_dir = str(tmp_path / "killed")
    d1 = CrawlDriver(spark, kill_dir, f"{smoke_dir}/pages.parquet", robots, config)
    d1.run(seeds)

    ckpt = os.path.join(kill_dir, "checkpoints.jsonl")
    with open(ckpt) as f:
        lines = f.readlines()
    assert len(lines) == config.max_depth + 1
    with open(ckpt, "w") as f:
        f.write(lines[0])  # only round 0 committed

    # simulate a partial (torn) write of round 1 outputs: half-deleted dir
    fetched_r1 = os.path.join(kill_dir, "fetched", "round=000001")
    for name in os.listdir(fetched_r1)[:1]:
        os.remove(os.path.join(fetched_r1, name))
    # and an orphaned temp dir from a write that never finished
    shutil.copytree(
        os.path.join(kill_dir, "extracted", "round=000001"),
        os.path.join(kill_dir, "extracted", "round=000002.tmp-dead"),
    )

    d2 = CrawlDriver(spark, kill_dir, f"{smoke_dir}/pages.parquet", robots, config)
    resumed = d2.run(resume=True)
    assert collect_tables(resumed) == expected
    # the metrics cover every committed round, not only the ones this run ran
    assert [m["round"] for m in resumed.metrics] == list(range(config.max_depth + 1))

    # checkpoint log is complete again and lineage re-recorded
    with open(ckpt) as f:
        entries = [json.loads(line) for line in f]
    assert [e["round"] for e in entries] == list(range(config.max_depth + 1))
    assert all("lineage" in e for e in entries)


def test_resume_with_a_missing_frontier_round_raises(spark, smoke_dir, tmp_path):
    """A resume whose next frontier round is committed but gone from disk is
    missing state: it raises MissingRoundError naming the table, and the
    run's caches are released on the way out."""
    from pyspark import StorageLevel

    from crawler_german_localpoliticans_spark.sources.tables import MissingRoundError

    config = CrawlConfig(seen_partitions=8)
    robots = read_robots(spark, f"{smoke_dir}/robots.parquet")
    seeds = seeds_from_table(spark.read.parquet(f"{smoke_dir}/seeds.parquet"))
    work = str(tmp_path / "work")
    CrawlDriver(spark, work, f"{smoke_dir}/pages.parquet", robots, config).run(seeds)

    ckpt = os.path.join(work, "checkpoints.jsonl")
    with open(ckpt) as f:
        first = f.readline()
    with open(ckpt, "w") as f:
        f.write(first)  # only round 0 committed
    shutil.rmtree(os.path.join(work, "frontier", "round=000001"))

    driver = CrawlDriver(spark, work, f"{smoke_dir}/pages.parquet", robots, config)
    with pytest.raises(MissingRoundError, match="frontier"):
        driver.run(resume=True)
    assert driver.pages.storageLevel == StorageLevel.NONE
    assert driver.policies_df.storageLevel == StorageLevel.NONE


def test_lineage_of_a_torn_round_file_raises(tmp_path):
    """A round dir whose part file has a torn footer is corrupt state: the
    lineage read raises instead of recording rows None. A missing dir (the
    last round's frontier_next) is no lineage, not an error."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from crawler_german_localpoliticans_spark.plans.checkpoint import partition_lineage

    round_dir = tmp_path / "round=0"
    round_dir.mkdir()
    part = round_dir / "part-0.parquet"
    pq.write_table(pa.table({"url": ["https://a.example/"]}), part)
    assert partition_lineage(str(round_dir)) == [{"file": "part-0.parquet", "rows": 1}]

    part.write_bytes(part.read_bytes()[:-12])
    with pytest.raises(pa.ArrowInvalid):
        partition_lineage(str(round_dir))
    assert partition_lineage(str(tmp_path / "round=1")) == []
