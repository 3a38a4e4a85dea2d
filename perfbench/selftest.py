"""Self-test of the benchmark, at tiny input sizes, in one Spark session.

- Every workload, untraced and traced, emits exactly the metrics that
  BENCHMARK.json names, each with its unit, and passes its oracle check.
- On the traced crawl, the per-wave spans plus `crawl.unattributed_s` add up
  to `crawl.round_s`.
- A crawl whose output has two `seq` values swapped, and a curation pass with
  one altered row, are counted as failed units.

    python3 perfbench/selftest.py      # exits 0 when every check holds
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import run

WAVE_SPANS = (
    "crawl.fetch_wave_s",
    "crawl.extract_s",
    "ordering.seq_assign_s",
    "catalog.frontier_write_s",
    "bloom.insert_s",
    "crawl.unattributed_s",
)


def swap_seq(outputs: dict) -> None:
    a, b = outputs["fetched"][:2]
    outputs["fetched"][:2] = [(a[0], b[1], *a[2:]), (b[0], a[1], *b[2:])]


def alter_row(outputs: dict) -> None:
    query = next(iter(outputs))
    cols, rows = outputs[query]
    rows = list(rows)
    rows[0] = [*rows[0][:-1], "corrupted"]
    outputs[query] = (cols, rows)


def main() -> int:
    with open(os.path.join(run.ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    want = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    sys.path.insert(0, run.ROOT)
    work = os.path.join(run.WORK_ROOT, f"selftest-{os.getpid()}")
    failures: list[str] = []

    def expect(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    try:
        t = time.monotonic()
        with run.spark_session(work) as spark:
            session_s = time.monotonic() - t

            def measure(workload: str, trace: int, corrupt=None) -> dict:
                out_dir = os.path.join(work, f"{workload}-{trace}-{corrupt.__name__ if corrupt else 'ok'}")
                result, _stamp = run.measure(
                    spark, workload, 1, 1, bool(trace), "tiny", out_dir, session_s, corrupt=corrupt
                )
                return result

            for w in (wl["name"] for wl in bench["workloads"]):
                for trace in (0, 1):
                    result = measure(w, trace)
                    units = {k: v["unit"] for k, v in result["metrics"].items()}
                    expect(units == want[trace], f"{w} trace={trace}: metric names and units match BENCHMARK.json")
                    expect(result["correct"] and result["failed"] == 0, f"{w} trace={trace}: outputs match the oracle")
                    if w == "deep_revisit" and trace:
                        m = {k: v["value"] for k, v in result["metrics"].items()}
                        parts = sum(m[k] for k in WAVE_SPANS)
                        expect(abs(parts - m["crawl.round_s"]) < 1e-6, f"{w}: wave spans add up to crawl.round_s")
            for w, corrupt in (("deep_revisit", swap_seq), ("curate", alter_row)):
                result = measure(w, 0, corrupt)
                expect(
                    not result["correct"] and result["failed"] == result["attempted"] >= 1,
                    f"{w}: a corrupted output ({corrupt.__name__}) counts as a failed unit",
                )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"{len(failures)} failed check(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
