"""The iterative crawl driver: one Spark job per BFS wave.

Spark-native reimplementation of the reference's worker loop
(src/main.rs:554-980) — NOT a port: the Redis queue/set become DataFrame
state (SURVEY.md §3.1 "Spark rebuild lifecycle"):

    frontier(round r) ─ mark seen ─ robots filter (policies join)
      ─ politeness schedule (host partitioning, priority order, rate caps)
      ─ join pages on url (the offline "fetch", BASELINE input_hint)
      ─ keyword gate (Column expr) ─ ONE Arrow pass: found_links +
        clean/extract pandas UDFs (html dropped, wave persisted)
      ─ fetched write, extracted write (a cache read) ─ posexplode
        candidates ─ first-discovery-wins dedup (min (parent_seq, pos) struct)
      ─ ONE grouped bloom pass: probe version r, write version r+1
      ─ exact anti-join vs url_seen ─ host columns (Column exprs) ─ persist
      ─ enqueue: global seq assignment ─ frontier round r+1 ─ commit round
        (checkpoint line)

Python runs in two stages per expanding round (links + extraction; the
bloom pass): each such stage costs a fixed ~0.2 s even over a few hundred
rows, so stage count, not kernel time, sets the round's floor; the robots
match and the host columns are Column expressions for that reason. Seeding
is the same enqueue at round 0 (canonicalize, then one bloom pass writing
version 0 on an empty filter, seq from the seed order), so bloom version k
covers frontier rounds 0..k by construction.

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
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import CrawlConfig, DEFAULT_CONFIG
from ..functions import udfs
from ..functions.keywords import DEFAULT_KEYWORDS
from ..functions.robots import DEFAULT_USER_AGENT, parse_robots
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
    metrics: list[dict]


POLICY_SCHEMA = T.StructType(
    [
        T.StructField("allow", T.ArrayType(T.StringType())),
        T.StructField("disallow", T.ArrayType(T.StringType())),
        T.StructField("crawl_delay_ms", T.LongType()),
    ]
)


def parse_policies_df(robots_df: DataFrame) -> DataFrame:
    """robots table -> policies(host_key, allow, disallow, crawl_delay_ms).

    X3 (src/main.rs:187-271) runs on executors as a pandas UDF over the
    robots table; the result STAYS a DataFrame — nothing is collected to the
    driver, so the policy set scales to 10^8 distinct hosts (the round-1
    verdict's flagship-path scale flag). Hosts without a row get the empty
    allow-all policy via the left join in `evaluate_robots`
    (src/main.rs:138-141)."""

    @F.pandas_udf(POLICY_SCHEMA)
    def parse(txts: pd.Series) -> pd.DataFrame:
        allow, disallow, delay = [], [], []
        for txt in txts:
            p = parse_robots(txt or "", DEFAULT_USER_AGENT)
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


def evaluate_robots(df: DataFrame, policies_df: DataFrame) -> DataFrame:
    """Join `df` (needs a canonical url and its host_key) against the policies
    table and evaluate the longest-prefix match: adds robots_blocked +
    crawl_delay_ms.

    The policy state ships as a JOIN, not a driver dict, with no hint: when
    Spark's size estimate of the policies side is at most
    `spark.sql.autoBroadcastJoinThreshold` it is broadcast (one copy per
    executor); above it Catalyst/AQE picks a shuffle join keyed on host_key —
    per-task memory stays O(hosts/P) at any host count. The match is
    `RobotsPolicy.is_allowed` (src/main.rs:97-108) in Column functions, no
    Python: blocked when the longest matching disallow prefix is strictly
    longer than the longest allow one (0 when none matches, so also > 0).
    Null rule arrays (no robots row) read 0: allowed (src/main.rs:138-141)."""

    def longest(rules: str):
        present = F.coalesce(F.col(rules), F.array().cast("array<string>"))
        hits = F.filter(present, lambda p: F.col("_path").startswith(p))
        return F.aggregate(hits, F.lit(0), lambda acc, p: F.greatest(acc, F.length(p)))

    return (
        df.join(policies_df, on="host_key", how="left")
        .withColumn("_path", udfs.url_path_col(F.col("url")))
        .withColumn("robots_blocked", longest("disallow") > longest("allow"))
        .drop("allow", "disallow", "_path")
    )


_CACHED_PARTITIONING = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"


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
        os.makedirs(work_dir, exist_ok=True)
        self.catalog = tbl.Catalog(spark, work_dir)
        self.checkpoints = CheckpointLog(work_dir)
        self.bloom = BloomSidecar(
            work_dir, config.seen_partitions, config.bloom_capacity_per_partition, config.bloom_fpp
        )
        self.pages_path = pages_path
        # the pages corpus is read once and cached across the rounds of a
        # run (at 100 TB scale: a bucketed-by-url Iceberg table instead of a
        # cache).
        # NOTE (r6): caching it pre-hash-partitioned by url (to let the
        # per-round join skip the pages-side exchange, guide §2.4) was
        # tried and measured SLOWER at sandbox scale — the wave join
        # broadcasts the small frontier side, so the pages cache is never
        # exchanged at all and the extra repartition shuffle of the html
        # payload is pure cost (receipt in BENCH/NOTES.md r6). At cluster
        # scale, where BOTH sides are big, url-bucketed storage is still
        # the right layout, as documented in the module header.
        self.pages = tbl.read_pages(spark, pages_path)
        # robots policies stay a DataFrame (parsed once on executors, reused
        # every round via persist); Spark picks the join strategy from its
        # own size estimate, so no driver-side count is taken
        self.policies_df = parse_policies_df(robots_df)

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
        by `order_cols` from `base` and write them as frontier round r.
        `rows` is the output of the bloom pass that writes version r (see
        `BloomSidecar.insert`), so bloom version k always covers frontier
        rounds 0..k. The host columns (Column expressions) join `rows` before
        its persist; the persist holds every Python pass upstream to
        one run across the seq assignment's actions and the frontier write,
        and is released before this returns. Returns the enqueued count,
        which rides out of the seq assignment's bucket-count pass."""
        rows = rows.select(
            "*",
            udfs.url_host_col(F.col("url")).alias("host"),
            udfs.host_key_col(F.col("url")).alias("host_key"),
        ).persist()
        seqd, n = assign_global_seq_counted(
            rows, order_cols, base=base, known_bounds=known_bounds
        )
        self.catalog.write_round(
            "frontier",
            r,
            seqd.select("seq", "url", F.lit(r).cast("int").alias("depth"), "host", "host_key"),
        )
        rows.unpersist()
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
            cat.read_rounds("frontier", [r], tbl.FRONTIER_SCHEMA), self.policies_df
        ).withColumn(
            "keyword_hit",
            udfs.keyword_hit_col(F.col("url"), DEFAULT_KEYWORDS),
        )
        # blocked rows ride the same scan/window (they sort last per host and
        # get null schedule columns) — a split+union here would scan the
        # frontier and evaluate the robots match twice (verified via explain)
        wave = schedule_wave(frontier, cfg)

        # 3. offline fetch = join against the pages corpus on canonical url
        #    (BASELINE input_hint), then the link pipeline and the extraction
        #    (keyword-gated fetched pages only, src/main.rs:824) as ONE Arrow
        #    pass: rows a UDF does not apply to pass it a null input, so its
        #    (discarded) work costs nothing, and the html payload is dropped
        #    before the persist.
        ok_col = ~F.col("robots_blocked") & F.col("html").isNotNull()
        extract_col = ok_col & F.col("keyword_hit")
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
            .withColumn("ce", udfs.clean_extract(F.when(extract_col, F.col("html"))))
            .withColumn(
                "custom_id", udfs.custom_id_from_url(F.when(extract_col, F.col("url")))
            )
            .withColumn("ok", ok_col)
            .drop("html")
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

        # 5. extracted rows: a read of the wave cache, no Python.
        #    NOTE (r6): overlapping this write with the expansion jobs on a
        #    driver thread (guide §2.6) was tried and measured SLOWER here
        #    (+0.7-1.3s/round): the round's jobs are latency-bound driver
        #    round trips, and the extraction job occupying every executor
        #    slot delays each of them — receipt in BENCH/NOTES.md r6.
        extracted = wave.where(F.col("ok") & F.col("keyword_hit")).select(
            "url",
            F.col("ce.clean_html").alias("clean_html"),
            F.col("ce.text").alias("text"),
            "custom_id",
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
            # one grouped bloom pass probes version r and writes version
            # r+1 = version r ∪ first. The anti-join below hides only
            # candidates already in url_seen ⊆ bloom version r, so the key
            # set (and every bit) equals version r ∪ the enqueued rows.
            # persisted: both branches below read the one pass
            pref = self.bloom.insert(
                with_hashes(first, "url", cfg.seen_partitions), r, r + 1
            ).persist()
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
            # parent_seq ∈ [0, next_seq) by construction (parents are
            # already-sequenced rows), so the bucket-range scan is free
            enqueued = self._enqueue(
                r + 1, definite_new.unionByName(survivors), ["parent_seq", "pos"], next_seq,
                known_bounds=(0, max(next_seq - 1, 0)),
            )
            pref.unpersist()

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
        (raw_url, seed_order) — see sources/seeds.py. The pages and policies
        caches live for this call only: the returned tables read the round
        dirs, not them. So does the session conf set here: the caller's value
        is back when this returns."""
        conf = self.spark.conf
        saved = conf.get(_CACHED_PARTITIONING, None)
        # without this, persisting the wave freezes a non-AQE plan (no
        # broadcast conversion, no partition coalescing) — 5-20x slower
        # rounds; measured in BENCH notes
        conf.set(_CACHED_PARTITIONING, "true")
        self.pages.persist()
        self.policies_df.persist()
        try:
            return self._run(seeds_df, resume)
        finally:
            self.pages.unpersist()
            self.policies_df.unpersist()
            if saved is None:
                conf.unset(_CACHED_PARTITIONING)
            else:
                conf.set(_CACHED_PARTITIONING, saved)

    def _run(self, seeds_df: DataFrame | None, resume: bool) -> CrawlTables:
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
            # kept (the seeder does not dedup). The UDF copy is marked
            # nondeterministic only so the optimizer keeps the null filter
            # above it: pushed below, the filter re-runs the UDF per row.
            canonicalize = udfs.canonicalize_url
            canonicalize = F.pandas_udf(
                canonicalize.func, canonicalize.returnType
            ).asNondeterministic()
            seeded = seeds_df.withColumn(
                "url", canonicalize(F.col("raw_url"))
            ).where(F.col("url").isNotNull())
            seeded = self.bloom.insert(
                with_hashes(seeded, "url", cfg.seen_partitions), None, 0
            ).drop("maybe_seen")
            next_seq = self._enqueue(0, seeded, ["seed_order"], 0)
            start_round = 0

        for r in range(start_round, cfg.max_depth + 1):
            m = self._run_round(r, next_seq)
            next_seq = m["next_seq"]
            self.checkpoints.commit(m)
            if m["enqueued"] == 0 and r < cfg.max_depth:
                break  # frontier drained early

        return self.result_tables()

    def result_tables(self) -> CrawlTables:
        """The tables and metrics of every committed round, a resumed run's
        earlier rounds included."""
        entries = self.checkpoints.entries()
        rounds = sorted({e["round"] for e in entries})
        # frontier round r+1 exists by construction for every committed
        # round r that expanded (r < max_depth), even when it enqueued nothing
        expanded = [r + 1 for r in rounds if r < self.config.max_depth]
        frontier = self.catalog.read_rounds(
            "frontier", sorted({*rounds, *expanded}), tbl.FRONTIER_SCHEMA
        )
        # url_seen == distinct frontier urls (D2 invariant); materialized as a
        # view over the frontier rounds rather than a second table
        url_seen = frontier.select("url").distinct()
        return CrawlTables(
            fetched=self.catalog.read_rounds("fetched", rounds, tbl.FETCHED_SCHEMA),
            url_seen=url_seen,
            extracted=self.catalog.read_rounds("extracted", rounds, tbl.EXTRACTED_SCHEMA),
            frontier=frontier,
            metrics=entries,
        )
