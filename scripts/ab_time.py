#!/usr/bin/env python
"""A/B timing harness for a subset of registry queries.

Usage:
    python scripts/ab_time.py <out_json> <query> [<query> ...]

Runs the bench headline's Spark leg through bench.py's own warm-up
and measurement kernel (session warm-up, a warm lap of 1 untimed run,
then min-of-3 timed runs through the noop sink, cache cleared between
queries, engine get_spark session) so numbers are comparable to
BENCH_DETAIL.json rows taken on the same box.
"""

from __future__ import annotations

import json
import os
import sys

sys.path[:0] = [os.path.dirname(os.path.dirname(os.path.abspath(__file__)))]


def main() -> None:
    out, *names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

    from storm_bench_spark.plans.registry import all_queries
    from storm_bench_spark.session import get_spark

    spark = get_spark(app_name="sbs-ab")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    unknown = [n for n in names if n not in queries]
    if unknown:
        raise SystemExit(f"not in the registry: {unknown}")

    from bench import measure, warm_lap, warm_session

    warm_session(spark, sf_dir)
    warm_lap(spark, queries, sf_dir, names)
    timings: dict[str, float] = {}
    for name in names:
        samples = measure(spark, queries[name], sf_dir, runs).spark
        timings[name] = round(min(samples), 3)
        print(f"# {name}: {timings[name]}s  (samples {[round(s,3) for s in samples]})", file=sys.stderr)
    with open(out, "w") as f:
        json.dump(timings, f, indent=1, sort_keys=True)
    print(json.dumps(timings, sort_keys=True))


if __name__ == "__main__":
    main()
