"""Round-6 optimization measurement harness (guide §1).

NOT the driver contract — bench.py stays frozen. This file isolates
individual queries() entries with the noop sink, reports pinned min-of-N
walls, and captures .explain("formatted") plans for the before/after
evidence in plans/r06/.

Usage:
    python bench_extra.py [--sf DIR] [--runs N] [--names a,b,c]
                          [--explain-dir plans/r06 --tag before]
Prints one JSON line: {"sf":..., "runs":N, "queries":{name: min_sec}}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import build_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--names", default=None, help="comma-separated queries() names")
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--tag", default="before")
    args = ap.parse_args()

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = build_spark(cpus, "crawler-spark-bench-extra")

    import __spark_entry__ as entrymod

    q = entrymod.queries()
    names = args.names.split(",") if args.names else list(q.keys())

    results: dict[str, float] = {}
    for name in names:
        fn = q[name]
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            spark.catalog.clearCache()
            df = fn(spark, args.sf)
            with open(f"{args.explain_dir}/{name}_{args.tag}.txt", "w") as fh:
                fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        wall = None
        for _ in range(args.runs):
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"bench_extra: {name}")
            t0 = time.monotonic()
            df = fn(spark, args.sf)
            df.write.format("noop").mode("overwrite").save()
            w = time.monotonic() - t0
            wall = w if wall is None else min(wall, w)
            spark.sparkContext.setJobDescription(None)
        if wall is not None:
            results[name] = round(wall, 3)
            print(f"# {name}: {results[name]}s", file=sys.stderr, flush=True)

    spark.stop()
    print(json.dumps({"sf": args.sf, "runs": args.runs, "queries": results}))


if __name__ == "__main__":
    main()
