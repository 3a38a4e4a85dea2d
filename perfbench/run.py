"""Seeded, oracle-checked benchmark of the crawl engine and the curation
queries.

    python3 perfbench/run.py --workload deep_revisit --seed 1 --seconds 20 --trace 0

Run it from a checkout of the repository; it builds nothing and writes only
under `.perfbench_work/` there. One closed-loop client drives one Spark
session on `local[<cores>]`: after set-up (session start, seeded input
generation and write, one warm-up unit) it runs timed units back to back
until `--seconds` have passed, checks every unit's outputs against the
in-repo oracles, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones (END_TO_END); with
`--trace 1` untraced and traced units alternate and the metrics are the
per-layer ones (PER_LAYER). The line before it stamps the core count, seed,
input sizes, sample counts and any failed check. Workloads: workloads.py.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, HERE)

from tracing import Tracer  # noqa: E402
from workloads import CURATE_QUERIES, WORKLOADS, median_of  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "throughput": "1/s",
    "round_s.p50": "s",
    "round_s.tail": "s",
    "peak_rss_mb": "MB",
}

_CRAWL_LAYERS = {
    "crawl.init_s": "s",
    "crawl.init_jobs": "count",
    "crawl.fetch_wave_s": "s",
    "crawl.fetch_wave_jobs": "count",
    "crawl.fetch_wave_stages": "count",
    "crawl.fetch_wave_tasks": "count",
    "crawl.extract_s": "s",
    "crawl.extract_jobs": "count",
    "ordering.seq_assign_s": "s",
    "ordering.seq_assign_jobs": "count",
    "ordering.seq_assign_stages": "count",
    "catalog.frontier_write_s": "s",
    "catalog.frontier_write_jobs": "count",
    "catalog.state_bytes.frontier": "bytes",
    "catalog.state_bytes.fetched": "bytes",
    "catalog.state_bytes.extracted": "bytes",
    "catalog.state_bytes.bloom": "bytes",
    "bloom.insert_s": "s",
    "bloom.insert_jobs": "count",
    "bloom.observed_fpr": "ratio",
    "checkpoint.commit_s": "s",
    "crawl.round_s": "s",
    "crawl.unattributed_s": "s",
    "crawl.seed_jobs": "count",
    "crawl.jobs_per_round": "count",
    "funnel.yield": "ratio",
    "robots.blocked_share": "ratio",
    "politeness.hot_host_share": "ratio",
}
_UDF_LAYERS = {
    f"udf.{name}_{key}": unit
    for name in ("found_links", "clean_extract", "url_host", "host_key", "robots_blocked")
    for key, unit in (("s", "s"), ("rows", "count"))
}

_OPERATOR_LAYERS = {
    f"operators.{q}_{key}": unit for q in CURATE_QUERIES for key, unit in (("s", "s"), ("jobs", "count"))
}
PER_LAYER = {**_CRAWL_LAYERS, **_UDF_LAYERS, **_OPERATOR_LAYERS, "trace.overhead_s": "s"}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------


@contextmanager
def spark_session(work_dir: str):
    """A local session whose scratch files all stay under `work_dir`; the
    JVM and its Python workers have exited when the block ends."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark_local")
    # every JVM (the spark-submit launcher too): no hsperfdata file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"])
    )
    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    n = cores()
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(max(2 * n, 16)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "2g")
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    gateway = spark.sparkContext._gateway
    try:
        yield spark
    finally:
        spark.stop()
        gateway.shutdown()
        # the JVM exits when its stdin closes
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()


def peak_rss_mb(spark) -> dict[str, float]:
    """Peak resident memory (VmHWM) of the driver JVM, and summed over every
    process under it (the Python worker daemon and its workers)."""
    root = spark.sparkContext._gateway.proc.pid
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat", encoding="utf-8") as f:
                    parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    tree, frontier = {root}, [root]
    while frontier:
        pid = frontier.pop()
        kids = [c for c, p in parent.items() if p == pid]
        tree.update(kids)
        frontier.extend(kids)
    kb = {}
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status", encoding="utf-8") as f:
                kb[pid] = next((int(line.split()[1]) for line in f if line.startswith("VmHWM:")), 0)
        except OSError:
            continue
    jvm = kb.pop(root, 0)
    return {"jvm": jvm / 1024, "workers": sum(kb.values()) / 1024, "processes": len(kb)}


def p90(samples: list[float]) -> float:
    """Interpolated 90th percentile (a run holds fewer than 20 steps, so no
    percentile above the median has ten samples beyond it)."""
    if len(samples) < 2:
        return samples[0]
    return statistics.quantiles(samples, n=10, method="inclusive")[-1]


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------


def measure(spark, workload: str, seed: int, seconds: float, trace: bool, size: str,
            work_dir: str, session_s: float, corrupt=None) -> tuple[dict, dict]:
    """Set up, warm up and run timed units of `workload` for `seconds`.
    `corrupt(outputs)`, if given, alters each unit's outputs before the
    check (the self-test's proof that a wrong output counts as failed).
    Returns (result line, stamp)."""
    wl = WORKLOADS[workload](spark, work_dir, seed, size)
    t = time.monotonic()
    sizes = wl.prepare()
    inputs_s = time.monotonic() - t
    t = time.monotonic()
    wl.start_oracle()
    oracle_s = time.monotonic() - t
    t = time.monotonic()
    wl.warm_up()
    warmup_s = time.monotonic() - t
    t = time.monotonic()
    wl.wait_oracle()
    oracle_s += time.monotonic() - t

    tracer = Tracer(spark, workload) if trace else None
    plain, traced, problems = [], [], []
    attempted = failed = 0
    t_start = time.monotonic()
    while True:
        use_trace = tracer is not None and attempted % 2 == 1
        if tracer is not None:
            tracer.unit = attempted
        attempted += 1
        try:
            unit = wl.run_unit(tracer if use_trace else None)
            if corrupt is not None:
                corrupt(unit.outputs)
            bad = wl.check(unit.outputs)
        except Exception as exc:  # a failed unit is counted, not fatal
            traceback.print_exc()
            bad = [f"{type(exc).__name__}: {exc}"]
        if bad:
            failed += 1
            problems.append({"unit": attempted - 1, "problems": bad[:5]})
        else:
            unit.outputs = {}
            (traced if use_trace else plain).append(unit)
        done = time.monotonic() - t_start >= seconds
        if done and (tracer is None or attempted >= 2):
            break

    rss = peak_rss_mb(spark)
    if trace:
        values = {name: 0.0 for name in PER_LAYER}
        if traced:
            values.update(median_of(traced))
        if traced and plain:
            values["trace.overhead_s"] = statistics.median(u.wall for u in traced) - statistics.median(
                u.wall for u in plain
            )
        metrics = {k: {"value": values.get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}
        os.makedirs(WORK_ROOT, exist_ok=True)
        spans_path = os.path.join(WORK_ROOT, f"spans-{workload}-{seed}-{os.getpid()}.jsonl")
        tracer.dump(spans_path)
    else:
        steps = [s for u in plain for s in u.steps]
        values = {
            "setup_s": session_s + inputs_s + warmup_s,
            "wall_s": statistics.median(u.wall for u in plain) if plain else 0.0,
            "throughput": statistics.median(u.items / u.wall for u in plain) if plain else 0.0,
            "round_s.p50": statistics.median(steps) if steps else 0.0,
            "round_s.tail": p90(steps) if steps else 0.0,
            "peak_rss_mb": rss["jvm"] + rss["workers"],
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
        spans_path = None

    stamp = {
        "workload": workload,
        "seed": seed,
        "nproc": cores(),
        "size": size,
        "sizes": sizes,
        "setup": {"session_s": session_s, "inputs_s": inputs_s, "warmup_s": warmup_s},
        "oracle_s": oracle_s,
        "unit_walls": [u.wall for u in plain],
        "traced_unit_walls": [u.wall for u in traced],
        "steps": sum(len(u.steps) for u in plain + traced),
        "unwrapped": sorted(set(tracer.missing)) if tracer else [],
        "spans": spans_path,
        "peak_rss_mb": rss,
        "failures": problems,
    }
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    return result, stamp


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import __spark_entry__  # noqa: F401
        import crawler_german_localpoliticans_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2

    work_dir = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work_dir, exist_ok=True)
    try:
        t = time.monotonic()
        with spark_session(work_dir) as spark:
            session_s = time.monotonic() - t
            result, stamp = measure(
                spark, args.workload, args.seed, args.seconds, bool(args.trace), "full", work_dir, session_s
            )
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    print(json.dumps({"stamp": stamp}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
