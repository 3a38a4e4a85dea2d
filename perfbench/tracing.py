"""In-memory spans around the engine's public calls, for the traced run.

Each span times one wrapped call and tags the Spark jobs it fires with a job
group of its own, so `sc.statusTracker()` can count the jobs, stages and
tasks it ran. Spark is lazy: a span holds the upstream work its action
forces (the seq-assign span, for example, forces the bloom prefilter and the
url_seen anti-join). Wrappers only time and tag; arguments, return values and
exceptions pass through unchanged.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager

_JOB_GROUP = "spark.jobGroup.id"

# the crawl UDFs whose Python time the perf profiler splits out, keyed by the
# function name cProfile records for them
UDF_FUNCTIONS = {
    "found_links": "found_links",
    "clean_extract": "clean_extract",
    "url_host": "url_host",
    "host_key": "host_key",
    "robots_blocked": "_robots_blocked_udf",
}


class Tracer:
    """Spans of one benchmark run; written out once, at the end."""

    def __init__(self, spark, workload: str) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self.spans: list[dict] = []
        self.unit: int | None = None
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self.missing: list[str] = []

    @contextmanager
    def span(self, name: str, round_no: int | None = None):
        """A span; without `round_no` it belongs to its parent's crawl round."""
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if round_no is None and parent is not None:
            round_no = self.spans[parent]["round"]
        rec = {
            "id": sid,
            "name": name,
            "parent": parent,
            "unit": self.unit,
            "round": round_no,
            "workload": self.workload,
            "group": f"perfbench-span-{sid}",
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setLocalProperty(_JOB_GROUP, rec["group"])
        rec["start"] = time.monotonic()
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            parent = self.spans[self._stack[-1]]["group"] if self._stack else None
            self.sc.setLocalProperty(_JOB_GROUP, parent)

    # -- wrapping -------------------------------------------------------------
    def wrap(self, owner, attr: str, name_of) -> None:
        """Replace `owner.attr` with a timing wrapper; `name_of(args, kwargs)`
        names the span, optionally as (name, round), or returns None to call
        through untraced. A target the engine no longer has is listed in
        `missing`, and its layer reads 0."""
        original = getattr(owner, attr, None)
        if original is None:
            self.missing.append(f"{getattr(owner, '__name__', owner)}.{attr}")
            return
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            name = name_of(args, kwargs)
            if name is None:
                return original(*args, **kwargs)
            name, round_no = name if isinstance(name, tuple) else (name, None)
            with tracer.span(name, round_no):
                return original(*args, **kwargs)

        self._patches.append((owner, attr, original))
        setattr(owner, attr, traced)

    def install_crawl(self) -> None:
        from crawler_german_localpoliticans_spark.plans import crawl
        from crawler_german_localpoliticans_spark.plans.bloom import BloomSidecar
        from crawler_german_localpoliticans_spark.plans.checkpoint import CheckpointLog
        from crawler_german_localpoliticans_spark.sources.tables import Catalog

        tables = {
            "fetched": "crawl.fetch_wave",
            "extracted": "crawl.extract",
            "frontier": "catalog.frontier_write",
        }

        def table_span(args, kwargs):
            return tables.get(kwargs.get("table", args[1] if len(args) > 1 else None))

        self.wrap(crawl.CrawlDriver, "__init__", lambda a, k: "crawl.init")
        self.wrap(crawl.CrawlDriver, "run", lambda a, k: "crawl.run")
        self.wrap(crawl.CrawlDriver, "_run_round", lambda a, k: ("crawl.round", a[1]))
        self.wrap(Catalog, "write_round", table_span)
        self.wrap(crawl, "assign_global_seq_counted", lambda a, k: "ordering.seq_assign")
        self.wrap(BloomSidecar, "insert", lambda a, k: "bloom.insert")
        # the commit runs after the round returns; its entry names the round
        self.wrap(CheckpointLog, "commit", lambda a, k: ("checkpoint.commit", a[1]["round"]))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # -- counting ---------------------------------------------------------------
    def resolve_jobs(self) -> None:
        """Fill jobs/stages/tasks of every finished span from the status
        tracker, after the listener bus has caught up with the last job."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for rec in self.spans:
            if "jobs" in rec or "end" not in rec:
                continue
            stages = tasks = 0
            job_ids = list(tracker.getJobIdsForGroup(rec["group"]))
            for jid in job_ids:
                info = tracker.getJobInfo(jid)
                for sid in list(info.stageIds) if info else []:
                    stage = tracker.getStageInfo(sid)
                    if stage is not None and stage.numCompletedTasks > 0:
                        stages += 1
                        tasks += stage.numCompletedTasks
            rec.update(jobs=len(job_ids), stages=stages, tasks=tasks)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for rec in self.spans:
                f.write(json.dumps(rec, sort_keys=True) + "\n")


@contextmanager
def udf_profiler(spark):
    """Turn the Python-UDF perf profiler on for the block; yields a dict that
    is filled, on exit, with seconds per crawl UDF (cProfile cumulative time
    of the UDF function, summed over every plan node that ran it)."""
    conf = "spark.sql.pyspark.udf.profiler"
    spark.profile.clear(type="perf")
    spark.conf.set(conf, "perf")
    seconds = {name: 0.0 for name in UDF_FUNCTIONS}
    try:
        yield seconds
    finally:
        spark.conf.unset(conf)
        by_function = {fn: name for name, fn in UDF_FUNCTIONS.items()}
        for stats in spark._profiler_collector._perf_profile_results.values():
            for (_file, _line, fn), (_cc, _nc, _tt, ct, _callers) in stats.stats.items():
                if fn in by_function:
                    seconds[by_function[fn]] += ct
        spark.profile.clear(type="perf")


def span_seconds(rec: dict) -> float:
    return rec["end"] - rec["start"]
