"""Crawl configuration, mirroring the reference's worker_config.toml.

reference: worker_config.toml (max_depth=2 :17, politeness_delay_ms=2000 :21,
concurrent_tasks=4 :24). The keyword list (:28-35) and the user agent
(src/main.rs:47) are no options here: no entry point sets them, so the
crawl reads `DEFAULT_KEYWORDS` / `DEFAULT_USER_AGENT`, and the reference's
SAVE_ALL_HTML override (src/main.rs:615-617) is not modeled.

Scale knobs (url_seen partition count, per-wave slice budget, hot-host
salting) are ours: they size the one crawl path from the sf fixtures
up to the 10^10-URL posture demanded by BASELINE.json. None of them selects a
second code path: the bloom prefilter always runs and every wave is fetched and
written as one batch. Sizes Spark can take from the cluster or the data are
not knobs here: the seq bucket count is `defaultParallelism` and the robots
join strategy is Spark's size-based join selection.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import ClassVar


@dataclass(frozen=True)
class CrawlConfig:
    # reference semantics
    max_depth: int = 2
    politeness_delay_ms: int = 2000

    # engine/scale knobs
    # partitions of the url_seen table / bloom sidecar; at 1e10 URLs raise to
    # O(10k) so each partition's filter (~1.2 GB total at 1% FPR) stays small
    seen_partitions: int = 32
    # bloom sizing: class constants, not fields, so no caller can set them;
    # they stay readable off an instance for callers that pass them on to
    # BloomSidecar (the filter will be sized from the data instead)
    bloom_capacity_per_partition: ClassVar[int] = 1 << 17
    bloom_fpp: ClassVar[float] = 0.01
    # politeness wave-slicing, the per-host rate cap: when >0, each BFS depth
    # wave's schedule is cut into slices of max(1, floor(slice_budget_ms /
    # effective_delay_ms)) pages per host (reported as politeness.slices); the
    # wave is still fetched as one batch and expansion is committed only once
    # the whole wave is fetched, so (depth, seq) parity with the reference is
    # preserved
    slice_budget_ms: int = 0
    # hot-host skew salting for the politeness window (plans/politeness.py):
    # 1 = exact single-window schedule (reference-faithful slot order);
    # >1 = salted two-phase slots for hosts with massive waves — crawl
    # RESULTS are identical either way (slots are scheduling artifacts),
    # only the wave's task balance changes; raise at 10^10 scale
    salt_buckets: int = 1


DEFAULT_CONFIG = CrawlConfig()
