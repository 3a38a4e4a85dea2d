"""The benchmark's workloads: seeded inputs, one timed unit, and the check of
the unit's outputs against the in-repo oracles.

A workload object lives for one run. The runner calls, in order:
`prepare()` (generate and write the inputs), `start_oracle()`, `warm_up()`,
`wait_oracle()`, then `run_unit()` + `check()` once per timed unit. A traced
unit carries its per-layer figures in `Unit.trace`; `median_of` combines
them over the run's traced units.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import shutil
import statistics
import threading
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

from tracing import Tracer, span_seconds, udf_profiler

# the 30-word vocabulary of the sf0.1 documents table; the curate corpus is
# drawn from it so its text statistics match the registry's test data
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (41, 15, 15, 15, 14)

SIZES = {
    "deep_revisit": {
        # 1,200 pages on 80 hosts, one hot host with 50x the in-links; four
        # BFS waves, and from wave 2 on most candidates were already seen.
        # Forty seed hosts keep the crawl's size within ~3% across seeds.
        "full": dict(hosts=80, pages_per_host=15, max_links=10, hot_host_factor=50, max_depth=3),
        "tiny": dict(hosts=5, pages_per_host=8, max_links=6, hot_host_factor=1, max_depth=2),
    },
    "curate": {
        "full": dict(docs=6_000, min_tokens=8, max_tokens=40),
        "tiny": dict(docs=400, min_tokens=8, max_tokens=40),
    },
}

CURATE_QUERIES = (
    "exact_dedup",
    "minhash_neardup",
    "simhash",
    "lang_id",
    "quality_score",
    "repetition_stats",
    "fingerprint",
    "contamination",
)
# share of curate documents that copy an earlier document exactly, and share
# that copy one with NEAR_DUP_EDIT of its tokens replaced (plus a marker)
EXACT_DUP_FRACTION = 0.01
NEAR_DUP_FRACTION = 0.10
NEAR_DUP_EDIT = 0.10

BLOOM_PROBES = 20_000


@dataclass
class Unit:
    wall: float  # seconds of the timed unit
    steps: list[float]  # seconds of each step: crawl waves or curate queries
    items: int  # frontier URLs (scheduled + candidates) or documents
    outputs: dict = field(default_factory=dict)
    trace: dict = field(default_factory=dict)  # per-unit layer figures


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# ---------------------------------------------------------------------------
# crawl
# ---------------------------------------------------------------------------


class CrawlWorkload:
    """One closed-loop client crawling a seeded `fixtures.generate` web graph."""

    def __init__(self, spark, work_dir: str, seed: int, size: str) -> None:
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self.size = dict(SIZES["deep_revisit"][size])
        self.n_units = 0

    def prepare(self) -> dict:
        from crawler_german_localpoliticans_spark import fixtures
        from crawler_german_localpoliticans_spark.config import CrawlConfig
        from crawler_german_localpoliticans_spark.sources.seeds import seeds_from_table
        from crawler_german_localpoliticans_spark.sources.tables import read_robots

        size = self.size
        profile = fixtures.FixtureProfile(
            "deep_revisit",
            hosts=size["hosts"],
            pages_per_host=size["pages_per_host"],
            max_links=size["max_links"],
            hot_host_factor=size["hot_host_factor"],
            robots_disallow_hosts=max(1, size["hosts"] // 10),
            robots_delay_hosts=max(1, size["hosts"] // 15),
            seed=self.seed,
        )
        self.fixture = fixtures.generate(profile)
        in_dir = os.path.join(self.work_dir, "inputs")
        fixtures.write_fixture_parquet(self.fixture, in_dir)
        robots = read_robots(self.spark, f"{in_dir}/robots.parquet")
        seeds = seeds_from_table(self.spark.read.parquet(f"{in_dir}/seeds.parquet"))
        self.inputs = (f"{in_dir}/pages.parquet", robots, seeds)
        self.config = CrawlConfig(max_depth=size["max_depth"])
        return {**size, "pages": len(self.fixture.pages), "seeds": len(self.fixture.seeds)}

    def start_oracle(self) -> None:
        from crawler_german_localpoliticans_spark.plans.oracle import crawl_oracle

        fx = self.fixture
        res = crawl_oracle(fx.seeds, fx.pages, fx.robots, self.config)
        self.expected = {
            "fetched": [
                (r.depth, r.seq, r.url, tuple(r.found_links), r.keyword_hit, r.robots_blocked, r.fetch_failed)
                for r in res.fetched
            ],
            "url_seen": set(res.url_seen),
            "extracted": {e["url"]: (e["clean_html"], e["text"], e["custom_id"]) for e in res.extracted},
        }

    def wait_oracle(self) -> None:
        pass

    def warm_up(self) -> None:
        # one untimed crawl of the timed inputs: after a warm-up crawl of a
        # smaller graph the first timed crawl still ran ~18% slower
        self.run_unit(None)

    def run_unit(self, tracer: Tracer | None) -> Unit:
        from crawler_german_localpoliticans_spark.plans.crawl import CrawlDriver

        state = os.path.join(self.work_dir, f"state_{self.n_units}")
        self.n_units += 1
        self.spark.catalog.clearCache()
        pages, robots, seeds = self.inputs
        if tracer is not None:
            tracer.install_crawl()
        try:
            with udf_profiler(self.spark) if tracer else nullcontext({}) as udf_s:
                t0 = time.monotonic()
                driver = CrawlDriver(self.spark, state, pages, robots, self.config)
                tables = driver.run(seeds)
                tables.fetched.count()
                wall = time.monotonic() - t0
        finally:
            if tracer is not None:
                tracer.uninstall()
        rounds = tables.metrics
        unit = Unit(
            wall=wall,
            steps=[m["wall_s"] for m in rounds],
            items=sum(m["scheduled"] + m["candidates"] for m in rounds),
            outputs=self._collect(tables),
        )
        if tracer is not None:
            unit.trace = self._unit_trace(tracer, state, rounds, udf_s, unit.outputs)
        shutil.rmtree(state, ignore_errors=True)
        return unit

    @staticmethod
    def _collect(tables) -> dict:
        cols = ("depth", "seq", "url", "found_links", "keyword_hit", "robots_blocked", "fetch_failed")
        return {
            "fetched": [
                (r[0], r[1], r[2], tuple(r[3]), r[4], r[5], r[6])
                for r in tables.fetched.select(*cols).orderBy("seq").collect()
            ],
            "url_seen": {r[0] for r in tables.url_seen.select("url").collect()},
            "extracted": {
                r["url"]: (r["clean_html"], r["text"], r["custom_id"])
                for r in tables.extracted.collect()
            },
        }

    def check(self, outputs: dict) -> list[str]:
        problems = []
        got, want = outputs["fetched"], self.expected["fetched"]
        if [r[:3] for r in got] != [r[:3] for r in want]:
            problems.append("(depth, seq, url) order differs from crawl_oracle")
        elif got != want:
            problems.append("fetched payload (found_links or flags) differs from crawl_oracle")
        if outputs["url_seen"] != self.expected["url_seen"]:
            problems.append("url_seen set differs from crawl_oracle")
        if outputs["extracted"] != self.expected["extracted"]:
            problems.append("extracted bytes differ from crawl_oracle")
        return problems

    # -- traced figures -------------------------------------------------------
    def _unit_trace(self, tracer: Tracer, state: str, rounds: list[dict], udf_s: dict, outputs: dict) -> dict:
        tracer.resolve_jobs()
        spans = [s for s in tracer.spans if s["unit"] == tracer.unit]
        by_name: dict[str, list[dict]] = {}
        for s in spans:
            by_name.setdefault(s["name"], []).append(s)
        round_spans = by_name.get("crawl.round", [])
        n_rounds = max(len(round_spans), 1)

        def per_round(name: str, key: str) -> float:
            """Mean per wave over all waves; seeding's spans are excluded."""
            in_waves = [s for s in by_name.get(name, []) if s["round"] is not None]
            return sum(span_seconds(s) if key == "s" else s[key] for s in in_waves) / n_rounds

        out: dict[str, float] = {}
        init = by_name.get("crawl.init", [])
        out["crawl.init_s"] = sum(span_seconds(s) for s in init)
        out["crawl.init_jobs"] = sum(s["jobs"] for s in init)
        layers = {
            "crawl.fetch_wave": ("s", "jobs", "stages", "tasks"),
            "crawl.extract": ("s", "jobs"),
            "ordering.seq_assign": ("s", "jobs", "stages"),
            "catalog.frontier_write": ("s", "jobs"),
            "bloom.insert": ("s", "jobs"),
            "checkpoint.commit": ("s",),
        }
        for name, keys in layers.items():
            for key in keys:
                out[f"{name}_{key}"] = per_round(name, key)

        children: dict[int, float] = {}
        jobs_in_round: dict[int, int] = {}
        for s in spans:
            if s["parent"] is not None and tracer.spans[s["parent"]]["name"] == "crawl.round":
                children[s["parent"]] = children.get(s["parent"], 0.0) + span_seconds(s)
            if s["round"] is not None and s["name"] != "checkpoint.commit":
                jobs_in_round[s["round"]] = jobs_in_round.get(s["round"], 0) + s["jobs"]
        out["crawl.round_s"] = sum(span_seconds(s) for s in round_spans) / n_rounds
        out["crawl.unattributed_s"] = (
            sum(span_seconds(s) - children.get(s["id"], 0.0) for s in round_spans) / n_rounds
        )
        expanding = {s["round"] for s in by_name.get("catalog.frontier_write", []) if s["round"] is not None}
        out["crawl.seed_jobs"] = sum(
            s["jobs"] for s in spans if s["round"] is None and s["name"] != "crawl.init"
        )
        out["crawl.jobs_per_round"] = statistics.median([jobs_in_round.get(r, 0) for r in expanding] or [0])

        scheduled = sum(m["scheduled"] for m in rounds)
        candidates = sum(m["candidates"] for m in rounds)
        out["funnel.yield"] = sum(m["enqueued"] for m in rounds) / max(candidates, 1)
        out["robots.blocked_share"] = sum(m["robots_blocked"] for m in rounds) / max(scheduled, 1)
        out["politeness.hot_host_share"] = (
            sum(m["politeness"]["max_pages_per_host"] for m in rounds) / max(scheduled, 1)
        )
        out["bloom.observed_fpr"] = self._bloom_fpr(state, rounds[-1]["bloom_version"])
        for table in ("frontier", "fetched", "extracted", "bloom"):
            out[f"catalog.state_bytes.{table}"] = dir_bytes(os.path.join(state, table))

        frontier_rows = len(outputs["fetched"])
        rows = {
            "found_links": scheduled,
            "robots_blocked": scheduled,
            "clean_extract": len(outputs["extracted"]),
            "url_host": frontier_rows,
            "host_key": frontier_rows,
        }
        for name, seconds in udf_s.items():
            out[f"udf.{name}_s"] = seconds
            out[f"udf.{name}_rows"] = rows[name]
        return out

    def _bloom_fpr(self, state: str, version: int) -> float:
        """Share of never-emitted URLs the final bloom version calls maybe-seen."""
        from crawler_german_localpoliticans_spark.plans.bloom import BloomSidecar, with_hashes
        from pyspark.sql import functions as F

        cfg = self.config
        bloom = BloomSidecar(state, cfg.seen_partitions, cfg.bloom_capacity_per_partition, cfg.bloom_fpp)
        probes = self.spark.createDataFrame(
            [(f"https://probe-{self.seed}-{i}.invalid/nie/{i}",) for i in range(BLOOM_PROBES)], "url string"
        )
        hashed = with_hashes(probes, "url", cfg.seen_partitions)
        row = bloom.prefilter(hashed, version).agg(F.avg(F.col("maybe_seen").cast("double"))).collect()[0]
        return float(row[0])


def median_of(units: list[Unit]) -> dict[str, float]:
    return {k: statistics.median(u.trace[k] for u in units) for k in units[0].trace}


# ---------------------------------------------------------------------------
# curate
# ---------------------------------------------------------------------------


def generate_documents(n: int, seed: int, min_tokens: int, max_tokens: int) -> list[str]:
    """Seeded texts over VOCAB; EXACT_DUP_FRACTION of them copy an earlier
    original text and NEAR_DUP_FRACTION copy one with NEAR_DUP_EDIT of its
    tokens replaced and a "dup" marker appended."""
    rng = random.Random(f"curate-{seed}")
    texts: list[str] = []
    originals: list[str] = []  # copies are made of originals only, so
    # duplicate clusters stay small and the pair count stays steady by seed
    for _ in range(n):
        roll = rng.random()
        if originals and roll < EXACT_DUP_FRACTION:
            text = rng.choice(originals)
        elif originals and roll < EXACT_DUP_FRACTION + NEAR_DUP_FRACTION:
            tokens = rng.choice(originals).split()
            tokens = [rng.choice(VOCAB) if rng.random() < NEAR_DUP_EDIT else t for t in tokens]
            text = " ".join(tokens + ["dup"])
        else:
            text = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(min_tokens, max_tokens)))
            originals.append(text)
        texts.append(text)
    return texts


def write_documents(texts: list[str], seed: int, out_dir: str) -> None:
    """documents.parquet in the registry's schema, one row group."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"curate-meta-{seed}")
    os.makedirs(out_dir, exist_ok=True)
    table = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choices(LANGS, LANG_WEIGHTS, k=len(texts)), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(len(texts))], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))


def norm_cell(v) -> str:
    """Cell rendering of scripts/check_correctness.py's value hash."""
    import datetime

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    return str(v)


def value_hash(cols: list[str], rows) -> str:
    """Order-insensitive hash over rows with columns taken in name order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()[:16]


class CurateWorkload:
    """One closed-loop client running the curation queries over a seeded
    documents table; one unit is one pass over CURATE_QUERIES."""

    def __init__(self, spark, work_dir: str, seed: int, size: str) -> None:
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self.size = dict(SIZES["curate"][size])
        self.docs_dir = os.path.join(work_dir, "inputs")

    def prepare(self) -> dict:
        import __spark_entry__ as registry

        s = self.size
        write_documents(
            generate_documents(s["docs"], self.seed, s["min_tokens"], s["max_tokens"]),
            self.seed,
            self.docs_dir,
        )
        self.queries = {q: registry.queries()[q] for q in CURATE_QUERIES}
        return {**s, "exact_dup_fraction": EXACT_DUP_FRACTION, "near_dup_fraction": NEAR_DUP_FRACTION}

    def start_oracle(self) -> None:
        """DuckDB oracles run on a thread (DuckDB releases the GIL) while the
        warm-up pass runs."""
        self.expected: dict[str, tuple] = {}
        self._oracle_error: Exception | None = None
        self._oracle = threading.Thread(target=self._run_oracle, name="duckdb-oracle")
        self._oracle.start()

    def _run_oracle(self) -> None:
        import duckdb

        import __spark_entry__ as registry

        try:
            sql = registry.oracle_sql()
            con = duckdb.connect()
            con.execute(f"SET temp_directory='{os.path.join(self.work_dir, 'duckdb_tmp')}'")
            path = os.path.join(self.docs_dir, "documents.parquet")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
            for q in CURATE_QUERIES:
                rel = con.sql(sql[q])
                cols, rows = rel.columns, rel.fetchall()
                self.expected[q] = (sorted(cols), len(rows), value_hash(cols, rows))
            con.close()
        except Exception as exc:  # re-raised on the main thread by wait_oracle
            self._oracle_error = exc

    def wait_oracle(self) -> None:
        self._oracle.join()
        if self._oracle_error is not None:
            raise self._oracle_error

    def _pass(self, tracer: Tracer | None) -> tuple[list[float], dict]:
        steps, outputs = [], {}
        for q, fn in self.queries.items():
            t0 = time.monotonic()
            with tracer.span(f"operators.{q}") if tracer else nullcontext():
                df = fn(self.spark, self.docs_dir)
                rows = df.collect()
            steps.append(time.monotonic() - t0)
            outputs[q] = (df.columns, rows)
        return steps, outputs

    def warm_up(self) -> None:
        # the same corpus: after a pass over a smaller one the first timed
        # pass ran ~25% slower (AQE settles on other plans at other sizes)
        self.spark.catalog.clearCache()
        self._pass(None)

    def run_unit(self, tracer: Tracer | None) -> Unit:
        self.spark.catalog.clearCache()
        t0 = time.monotonic()
        steps, outputs = self._pass(tracer)
        wall = time.monotonic() - t0
        unit = Unit(wall=wall, steps=steps, items=self.size["docs"], outputs=outputs)
        if tracer is not None:
            tracer.resolve_jobs()
            spans = [s for s in tracer.spans if s["unit"] == tracer.unit]
            for s in spans:
                unit.trace[f"{s['name']}_s"] = span_seconds(s)
                unit.trace[f"{s['name']}_jobs"] = s["jobs"]
        return unit

    def check(self, outputs: dict) -> list[str]:
        problems = []
        for q, (cols, rows) in outputs.items():
            want_cols, want_n, want_hash = self.expected[q]
            if sorted(cols) != want_cols:
                problems.append(f"{q}: columns {sorted(cols)} != oracle {want_cols}")
            elif len(rows) != want_n:
                problems.append(f"{q}: {len(rows)} rows != oracle {want_n}")
            elif value_hash(cols, [list(r) for r in rows]) != want_hash:
                problems.append(f"{q}: value hash differs from the DuckDB oracle")
        return problems


WORKLOADS = {"deep_revisit": CrawlWorkload, "curate": CurateWorkload}
