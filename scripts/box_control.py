#!/usr/bin/env python
"""Box-state control run (VERDICT r7 next #8).

Round 7 spent a forensic session proving a VM reboot — not a code
change — moved Spark-side bench times ~36%: the control was "re-run
the PRE-ROUND tree on the CURRENT box and compare to what that tree
recorded when it ran". This script IS that procedure as one command:

    python scripts/box_control.py            # ref = last commit that
                                             # touched BENCH_DETAIL.json
    python scripts/box_control.py <git-ref>  # explicit control tree

It checks the ref out into a throwaway git worktree, re-times that
tree's N slowest recorded headline queries (same protocol: noop sink,
min-of-2, clearCache between queries) on the current box, and prints
one JSON line of now-vs-recorded shifts. Median shift ≈ 1 → the box
still measures like it did when the record was written (a current-tree
regression is therefore CODE); median shift ≫ 1 on untouched code →
the BOX moved, and current-tree numbers need a fresh same-box DuckDB
pair (bench.py records one mechanically since round 8) before any
comparison to older records.

The per-query detail matters too: a uniform shift is box state; a
single-row shift on an untouched tree is noise or data-cache state.

RUN ON AN IDLE BOX. The control is itself a timing measurement: this
script's own first smoke run showed 11× "shifts" that were nothing but
a concurrently-running scale sweep on the same cores. Check for other
Spark/DuckDB processes before trusting any number it prints.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_QUERIES = int(os.environ.get("BOX_CONTROL_N", "10"))
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))

# Keeps its own copy of the noop-sink loop rather than bench.measure:
# it runs inside an older checked-out tree, which may predate the kernel.
_TIMER = """
import json, sys, time
from storm_bench_spark.plans.registry import all_queries
from storm_bench_spark.session import get_spark

names = json.loads(sys.argv[1])
sf_dir = sys.argv[2]
runs = int(sys.argv[3])
spark = get_spark(app_name="sbs-box-control")
spark.sparkContext.setLogLevel("ERROR")
spark.range(100_000).selectExpr("sum(id * 2)").collect()
qs = all_queries()
out = {}
for name in names:
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    out[name] = round(best, 3)
    print(f"# control {name}: {out[name]}s", file=sys.stderr)
    spark.catalog.clearCache()
print(json.dumps(out))
"""


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=REPO, check=True, capture_output=True, text=True
    ).stdout.strip()


def main() -> None:
    ref = sys.argv[1] if len(sys.argv) > 1 else _git(
        "log", "-1", "--format=%H", "--", "BENCH_DETAIL.json"
    )
    recorded = json.loads(_git("show", f"{ref}:BENCH_DETAIL.json"))
    sf = recorded.get("sf")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", f"/root/testdata/sf{sf}")
    rec_q: dict[str, float] = recorded["queries"]
    names = [n for n, _ in sorted(rec_q.items(), key=lambda kv: -kv[1])][:N_QUERIES]

    wt = tempfile.mkdtemp(prefix="sbs_box_control_")
    _git("worktree", "add", "--detach", wt, ref)
    try:
        env = dict(os.environ, PYTHONPATH=wt)
        proc = subprocess.run(
            [sys.executable, "-c", _TIMER, json.dumps(names), sf_dir, str(RUNS)],
            cwd=wt, env=env, check=True, capture_output=True, text=True,
        )
        sys.stderr.write(proc.stderr)
        now = json.loads(proc.stdout.strip().splitlines()[-1])
    finally:
        _git("worktree", "remove", "--force", wt)

    shifts = sorted(now[n] / rec_q[n] for n in names if rec_q.get(n))
    median = shifts[len(shifts) // 2] if shifts else None
    print(json.dumps({
        "metric": "box_control_shift",
        "ref": ref,
        "sf": sf,
        "runs": RUNS,
        "median_shift": round(median, 3) if median else None,
        "queries": {
            n: {"recorded_s": rec_q[n], "now_s": now[n],
                "shift": round(now[n] / rec_q[n], 3)}
            for n in names
        },
    }))


if __name__ == "__main__":
    main()
