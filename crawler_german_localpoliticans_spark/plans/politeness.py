"""Per-domain politeness scheduler.

The reference sleeps `max(politeness_delay_ms, robots crawl_delay)` before
every fetch and serializes fetches per host through a last-fetch mutex
(src/main.rs:611, :688-700, :149-161). In the offline iterative rebuild the
*schedule* — not the sleep — is the semantic object: which page is fetched in
which per-host slot. The scheduler:

- computes each host's effective delay (config base vs robots crawl-delay);
- orders a wave's rows by the priority score (depth, keyword/whitelist hit
  desc, seq) — the reference's implicit scoring made explicit per the north
  rule ("priority queue ordered by depth/domain-whitelist scoring");
- assigns per-host fetch slots (slot n ⇒ simulated fetch at n·delay ms) and,
  when a slice budget is configured, slices the wave so no host exceeds
  `max(1, floor(budget / delay))` fetches per slice (the per-host rate cap);
- result ordering is untouched: the order key is (depth, seq), never fetch
  time, so slicing cannot change crawl-order parity (expansion is committed
  only after the whole wave, see plans/crawl.py).

All of this is Window + Column arithmetic over a `partitionBy(host)` — the
host-hash partitioning the north rule asks for, with no Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import CrawlConfig


def effective_delay_col(crawl_delay_col, config: CrawlConfig):
    """max(config politeness delay, robots crawl-delay) — src/main.rs:688-696."""
    return F.greatest(F.coalesce(crawl_delay_col, F.lit(0)), F.lit(config.politeness_delay_ms))


def schedule_wave(allowed: DataFrame, config: CrawlConfig) -> DataFrame:
    """Add politeness schedule columns to a wave of frontier rows.

    Input needs: host, seq, keyword_hit, robots_blocked, crawl_delay_ms
    (nullable). Adds: effective_delay_ms, host_slot (0-based per-host fetch
    slot in priority order), sched_offset_ms (simulated fetch time within the
    wave), slice (0-based wave slice honoring the per-host rate cap).

    Robots-blocked rows ride along (they cost no fetch budget): they
    sort LAST within their host's window, so allowed rows receive exactly
    the slots they would get alone, and the blocked rows' schedule columns
    are nulled afterwards. This keeps the whole wave a single scan — no
    split/union, no second robots evaluation (see the plan notes in
    plans/crawl.py).
    """
    blocked_col = F.col("robots_blocked")
    priority = (blocked_col.asc(), F.col("keyword_hit").desc(), F.col("seq").asc())
    df = allowed.withColumn(
        "effective_delay_ms", effective_delay_col(F.col("crawl_delay_ms"), config)
    )
    # Hot-host skew handling (north rule: "salting + per-host rate caps"): a
    # single window partition per host puts a 100x-in-link host's whole wave
    # in ONE task. Salt the partition key with pmod(xxhash64(url), S) and
    # interleave: slot = local_rank*S + salt. Slots stay injective per host,
    # so slice caps still bound every host exactly; priority order is
    # preserved within each salt bucket (keyword-first, then seq) and
    # approximate across buckets — the schedule is a scheduling artifact,
    # never an ordering key, so result parity is untouched (asserted in
    # tests). S = 1 is the exact single-window schedule.
    S = config.salt_buckets
    salt = F.pmod(F.xxhash64("url"), F.lit(S)).cast("int") if S > 1 else F.lit(0)
    w = Window.partitionBy("host", "_salt").orderBy(*priority)
    df = df.withColumn("_salt", salt)
    df = df.withColumn(
        "host_slot",
        F.when(
            ~blocked_col,
            (F.row_number().over(w) - F.lit(1)) * F.lit(S) + F.col("_salt"),
        ),
    ).drop("_salt")
    df = df.withColumn(
        "sched_offset_ms", F.col("host_slot") * F.col("effective_delay_ms")
    )
    if config.slice_budget_ms > 0:
        cap = F.greatest(
            F.lit(1), F.floor(F.lit(config.slice_budget_ms) / F.col("effective_delay_ms"))
        )
        df = df.withColumn("slice", (F.col("host_slot") / cap).cast("int"))
    else:
        df = df.withColumn("slice", F.lit(0))
    return df


# NOTE: per-wave politeness counters are computed inside the crawl round's
# observed write (plans/crawl.py) rather than as a separate aggregate — see
# the `wave_aggs` list there.
