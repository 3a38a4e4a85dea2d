"""The fixture profiles the tests generate (FIXTURES.md): smoke and
correctness run in the default suite, stress behind SPARK_SLOW_TESTS=1."""

from __future__ import annotations

from crawler_german_localpoliticans_spark.fixtures import FixtureProfile

SMOKE = FixtureProfile("smoke", hosts=5, pages_per_host=8, max_links=6)
CORRECTNESS = FixtureProfile(
    "correctness",
    hosts=50,
    pages_per_host=40,
    max_links=12,
    hot_host_factor=10,
    robots_disallow_hosts=10,
    robots_delay_hosts=5,
)
STRESS = FixtureProfile(
    "stress",
    hosts=200,
    pages_per_host=50,
    max_links=16,
    hot_host_factor=100,
    robots_disallow_hosts=40,
    robots_delay_hosts=20,
)
