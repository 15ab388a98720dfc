#!/usr/bin/env python
"""Interleave-under-load demonstration (VERDICT r9 next #6 'Done').

Round 9's whole-leg pairing discarded two full bench pairs when box
load drifted mid-pair (probe drift 0.32/0.363). Round 10's bench
interleaves engine and DuckDB per QUERY, so drift lands on both legs
of each row and cancels out of the ratio. This script proves that
property: it runs the same data-sized query subset through the
interleaved protocol twice — once on the idle box, once with
``N_SPIN`` deliberately-launched busy-loop processes — and prints both
ratios with their ± bands. PASS = the loaded ratio's band covers the
idle ratio (the old protocol would have suppressed or skewed it).

    python scripts/loaded_pair_demo.py           # N_SPIN=10, sf0.1
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path[:0] = [os.path.dirname(os.path.dirname(os.path.abspath(__file__)))]

# data-sized rows (duck >= ~0.3 s at sf0.1) kept light enough that the
# full idle+loaded double pair fits a 10-minute budget
SUBSET = [
    "dedup_keep_best", "corpus_curate", "rolling_flight_dist",
    "minhash_lsh", "decontaminate_minhash", "boilerplate_ngram_ratio",
    "histogram_quantiles", "epoch_shuffle", "source_overlap",
    "unique_visitor",
]

SPIN = "import time\nwhile True:\n  x = sum(i * i for i in range(10000))\n"


def run_pair(spark, con, queries, oracles, sf_dir, runs=3):
    from bench import measure
    from scripts.duck_twin import summarize

    eng: dict[str, float] = {}
    eng_sp: dict[str, float] = {}
    duck: dict[str, float] = {}
    duck_sp: dict[str, float] = {}
    for name in SUBSET:
        s = measure(spark, queries[name], sf_dir, runs, con, oracles[name])
        eng[name], eng_sp[name] = summarize(s.spark)
        duck[name], duck_sp[name] = summarize(s.duck)
        print(f"# {name}: eng {eng[name]} duck {duck[name]}", file=sys.stderr)
    e, d = sum(eng.values()), sum(duck.values())
    ratio = round(e / d, 3)
    pm = round(ratio * (sum(eng_sp.values()) / e + sum(duck_sp.values()) / d), 3)
    return {"eng_total": round(e, 3), "duck_total": round(d, 3),
            "ratio": ratio, "pm": pm}


def main() -> None:
    from scripts.duck_twin import connect
    from storm_bench_spark.plans.registry import all_oracles, all_queries
    from storm_bench_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_spin = int(os.environ.get("N_SPIN", "10"))
    spark = get_spark(app_name="loaded-pair-demo")
    spark.sparkContext.setLogLevel("ERROR")
    queries, oracles = all_queries(), all_oracles()
    con = connect(sf_dir)

    from bench import warm_lap, warm_session

    warm_session(spark, sf_dir)
    warm_lap(spark, queries, sf_dir, SUBSET)

    idle = run_pair(spark, con, queries, oracles, sf_dir)

    spinners = [
        subprocess.Popen([sys.executable, "-c", SPIN]) for _ in range(n_spin)
    ]
    try:
        time.sleep(2)  # let load settle in
        loaded = run_pair(spark, con, queries, oracles, sf_dir)
    finally:
        for p in spinners:
            p.kill()

    covers = abs(loaded["ratio"] - idle["ratio"]) <= loaded["pm"] + idle["pm"]
    print(json.dumps({"n_spin": n_spin, "sf_dir": sf_dir, "idle": idle,
                      "loaded": loaded, "loaded_band_covers_idle": covers}))


if __name__ == "__main__":
    main()
