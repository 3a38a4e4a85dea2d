"""Crawl configuration, mirroring the reference's worker_config.toml.

reference: worker_config.toml (max_depth=2 :17, politeness_delay_ms=2000 :21,
concurrent_tasks=4 :24, keywords :28-35), src/main.rs:47 (user agent),
:615-617 (SAVE_ALL_HTML override).

Scale knobs (bloom sizing, url_seen partition count, per-wave slice budget,
hot-host salting) are ours: they size the one crawl path from the sf fixtures
up to the 10^10-URL posture demanded by BASELINE.json. None of them selects a
second code path: the bloom prefilter always runs and every wave is fetched and
written as one batch. Sizes Spark can take from the cluster or the data are
not knobs here: the seq bucket count is `defaultParallelism` and the robots
join strategy is Spark's size-based join selection.
"""

from __future__ import annotations

from dataclasses import dataclass

from .functions.keywords import DEFAULT_KEYWORDS
from .functions.robots import DEFAULT_USER_AGENT


@dataclass(frozen=True)
class CrawlConfig:
    # reference semantics
    max_depth: int = 2
    politeness_delay_ms: int = 2000
    keywords: tuple[str, ...] = DEFAULT_KEYWORDS
    user_agent: str = DEFAULT_USER_AGENT
    save_all_html: bool = False

    # engine/scale knobs
    # partitions of the url_seen table / bloom sidecar; at 1e10 URLs raise to
    # O(10k) so each partition's filter (~1.2 GB total at 1% FPR) stays small
    seen_partitions: int = 32
    bloom_capacity_per_partition: int = 1 << 17
    bloom_fpp: float = 0.01
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

    def effective_keywords(self) -> list[str]:
        from .functions.keywords import effective_keywords

        return effective_keywords(list(self.keywords))


DEFAULT_CONFIG = CrawlConfig()
