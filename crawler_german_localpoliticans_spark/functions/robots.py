"""robots.txt parsing + rule evaluation.

Exact Python reimplementation of the reference's nonstandard parser and
matcher (reference: src/main.rs:187-271 `parse_robots`,
:97-108 `RobotsPolicy::is_allowed`). Ported rule-for-rule rather than using a
library because the reference's behavior deviates from RFC 9309 in ways that
are load-bearing for crawl-set parity (SURVEY.md §7):

- *every* `User-agent:` line starts a new group when the current group already
  has a UA (consecutive UA lines are NOT merged into one group);
- a group matches when any of its UAs is `*` or is a case-insensitive
  substring of the worker UA **in either direction**;
- the first specific (non-`*`) match clears previously chosen `*` groups and
  from then on only specific groups accumulate;
- chosen groups' allow/disallow lists are concatenated; the first
  crawl-delay wins; fractional `Crawl-delay` seconds are ceil'd to ms;
- non-finite / out-of-range `Crawl-delay` values follow Rust's saturating
  `as u64` float cast (src/main.rs:219-221): NaN and negative values -> 0,
  +inf saturates (clamped here to i64::MAX = 2^63-1, the widest value the
  engine's signed-64 delay columns carry — same "effectively infinite"
  semantics);
- `is_allowed(path)`: longest matching allow prefix `a` vs longest matching
  disallow prefix `d`; disallowed iff `d > a and d > 0`.

Parsing runs once per distinct host on executors (plans/crawl.py
`parse_policies_df`); the resulting policies table joins onto the frontier
(never evaluated per-row against raw robots text, never collected).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

DEFAULT_USER_AGENT = "Mozilla/5.0 (compatible; DistributedCrawler/1.0)"  # src/main.rs:47


@dataclass
class RobotsPolicy:
    allow: list[str] = field(default_factory=list)
    disallow: list[str] = field(default_factory=list)
    crawl_delay_ms: int | None = None

    def is_allowed(self, path: str) -> bool:
        """reference: src/main.rs:97-108 — longest-prefix, disallow wins ties > allow."""
        a = max((len(p) for p in self.allow if path.startswith(p)), default=0)
        d = max((len(p) for p in self.disallow if path.startswith(p)), default=0)
        return not (d > a and d > 0)


@dataclass
class _Group:
    uas: list[str] = field(default_factory=list)
    allow: list[str] = field(default_factory=list)
    disallow: list[str] = field(default_factory=list)
    delay_ms: int | None = None

    def _nonempty_rules(self) -> bool:
        return bool(self.allow or self.disallow or self.delay_ms is not None)


def parse_robots(text: str, ua: str) -> RobotsPolicy:
    """reference: src/main.rs:187-271, quirks preserved exactly."""
    groups: list[_Group] = []
    cur = _Group()
    for line in (text or "").splitlines():
        line = line.strip()
        if not line or line.startswith("#"):
            continue
        key, sep, value = line.partition(":")
        if not sep:
            continue
        k = key.strip().lower()
        v = value.strip()
        if k == "user-agent":
            # quirk: pushes the current group whenever it has rules OR any UA,
            # so consecutive User-agent lines become separate groups
            if cur._nonempty_rules() or cur.uas:
                groups.append(cur)
                cur = _Group()
            cur.uas.append(v)
        elif k == "allow":
            cur.allow.append(v)
        elif k == "disallow":
            cur.disallow.append(v)
        elif k == "crawl-delay":
            try:
                sec = float(v)
            except ValueError:
                continue
            # Rust's `(sec * 1000.0).ceil() as u64` (src/main.rs:219-221) is a
            # SATURATING cast: NaN -> 0, negative -> 0, +inf -> u64::MAX.
            # Reproduce that exactly, except +inf clamps to i64::MAX because
            # delay_ms flows into signed-64 Spark columns — semantically the
            # same "effectively infinite" delay (see the module-docstring
            # quirk list; pinned by tests/test_functions_robots.py).
            ms = sec * 1000.0
            if math.isnan(ms):
                cur.delay_ms = 0
            elif ms >= float(2**63 - 1):
                cur.delay_ms = 2**63 - 1
            elif ms <= 0.0:
                cur.delay_ms = 0
            else:
                cur.delay_ms = int(math.ceil(ms))
    if cur.uas or cur._nonempty_rules():
        groups.append(cur)

    ua_lc = ua.lower()
    chosen: list[_Group] = []
    had_specific = False
    for g in groups:
        this_is_specific = False
        matches = False
        for gua in g.uas:
            gua_lc = gua.lower()
            if gua_lc == "*":
                matches = True
            elif gua_lc in ua_lc or ua_lc in gua_lc:
                matches = True
                this_is_specific = True
        if matches:
            if this_is_specific and not had_specific:
                chosen.clear()
                had_specific = True
            if not had_specific or this_is_specific:
                chosen.append(g)

    if not chosen:
        return RobotsPolicy()
    policy = RobotsPolicy()
    for g in chosen:
        policy.allow.extend(g.allow)
        policy.disallow.extend(g.disallow)
        if policy.crawl_delay_ms is None:
            policy.crawl_delay_ms = g.delay_ms
    return policy
