#!/usr/bin/env python
"""Same-box DuckDB twin for bench.py: time every HEADLINE query's
oracle SQL on the same parquet, min-of-2, and write DUCK_DETAIL.json.

This is the harness behind BASELINE.md's "engine X s vs DuckDB Y s"
rows — the driver's 2x bar is defined against same-box DuckDB on
identical queries and data, so the twin must follow bench.py's
protocol: same SF directory, min-of-N (default 2), results fully
materialized (fetchall — the analog of bench.py's noop write), one
process, queries in HEADLINE order.

``bench.py`` times each oracle with :func:`time_oracle` right after
its Spark row in the same process, and stamps both BENCH_DETAIL.json
and DUCK_DETAIL.json with one shared ``pair_id``, so every recorded
engine/duck ratio is same-hour same-box by construction. Standalone
invocation remains for re-measurement:

    python scripts/duck_twin.py                  # sf0.1, writes DUCK_DETAIL.json
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python scripts/duck_twin.py
    DUCK_QUERIES=a,b,c python scripts/duck_twin.py   # subset, MERGES into
                                                     # the existing detail file
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path[:0] = [os.path.dirname(os.path.dirname(os.path.abspath(__file__)))]

# SPARK_GRAFT_DETAIL_DIR redirects the detail artifacts (round 14, for
# the bench kill-test: a subprocess bench run must not clobber the
# committed pair's DUCK_DETAIL.json at the repo root)
DETAIL = os.path.join(
    os.environ.get(
        "SPARK_GRAFT_DETAIL_DIR",
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ),
    "DUCK_DETAIL.json",
)


def sf_of(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else -1.0


def connect(sf_dir: str):
    """One DuckDB connection with the fixture tables as views."""
    import duckdb

    from storm_bench_spark.sources.tables import TABLES

    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        # driver fixtures are single files; Spark-written tables (the
        # sf1 tier's R=10 replica) are part-file DIRECTORIES
        pat = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pat}')")
    return con


def time_oracle(con, sql: str, runs: int) -> list[float]:
    """Wall-time samples of one oracle, fully materialized (fetchall —
    the analog of bench.py's noop write)."""
    samples: list[float] = []
    for _ in range(runs):
        t0 = time.perf_counter()
        con.execute(sql).fetchall()
        samples.append(time.perf_counter() - t0)
    return samples


def summarize(samples: list[float]) -> tuple[float, float]:
    """(min, warm-runs max−min spread): run 1 is the first plan/IO
    encounter — warm-up, not box noise — so with ≥3 runs the spread
    is over runs 2..N only (bench.py's convention)."""
    warm = samples[1:] if len(samples) > 2 else samples
    return round(min(samples), 3), round(max(warm) - min(warm), 3)


def time_oracles(
    sf_dir: str, names: list[str], runs: int = 2, verbose: bool = True
) -> tuple[dict[str, float], dict[str, float]]:
    """(min, max−min spread) of ``runs`` wall times per oracle, fully
    materialized, one DuckDB connection, HEADLINE order — bench.py's
    protocol mirrored (per-query dispersion since round 9)."""
    from storm_bench_spark.plans.registry import all_oracles

    con = connect(sf_dir)
    oracles = all_oracles()
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    for name in names:
        timings[name], spreads[name] = summarize(
            time_oracle(con, oracles[name], runs)
        )
        if verbose:
            print(
                f"# duck {name}: {timings[name]}s (min of {runs}, "
                f"spread {spreads[name]}s)",
                file=sys.stderr,
            )
    con.close()
    return timings, spreads


def write_detail(
    timings: dict[str, float],
    sf: float,
    runs: int,
    runs_by_query: dict[str, int] | None = None,
    pair_id: str | None = None,
    spreads: dict[str, float] | None = None,
    probe: float | None = None,
) -> dict:
    payload = {
        "metric": "duckdb_oracle_total_wall_samebox",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": sf,
        "runs": runs,
        "runs_by_query": runs_by_query or {n: runs for n in timings},
        "queries": timings,
    }
    if spreads is not None:
        payload["spreads"] = spreads
        payload["value_spread"] = round(sum(spreads.values()), 3)
    if probe is not None:
        payload["probe"] = probe
    if pair_id is not None:
        payload["pair_id"] = pair_id
    with open(DETAIL, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    return payload


def main() -> None:
    from bench import HEADLINE

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_of(sf_dir)
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))
    sel = os.environ.get("DUCK_QUERIES")
    names = [q.strip() for q in sel.split(",")] if sel else list(HEADLINE)

    timings, spreads = time_oracles(sf_dir, names, runs)

    runs_by_query = {n: runs for n in names}
    pair_id = None
    if sel:
        # subset mode merges: keep the full-run rows, replace the
        # re-measured ones, recompute the total over the merged table.
        # Without an existing full-run detail file the "merge" would
        # silently write a subset-only sum under the full-run metric
        # name — refuse, like the cross-SF case. A standalone subset
        # run also breaks any recorded same-hour pairing, so the
        # merged payload drops pair_id.
        if not os.path.exists(DETAIL):
            raise SystemExit(
                "DUCK_QUERIES subset mode needs an existing full-run "
                "DUCK_DETAIL.json to merge into — run the full twin "
                "first (unset DUCK_QUERIES)"
            )
        prev = json.load(open(DETAIL))
        if prev.get("sf") != sf:
            raise SystemExit(
                f"refusing to merge sf={sf} rows into DUCK_DETAIL.json "
                f"measured at sf={prev.get('sf')} — run the full twin "
                f"instead, or point SPARK_GRAFT_SF_DIR at the same SF"
            )
        merged = dict(prev.get("queries", {}))
        merged.update(timings)
        timings = merged
        prev_rbq = prev.get("runs_by_query") or {
            n: prev.get("runs") for n in prev.get("queries", {})
        }
        prev_rbq.update(runs_by_query)
        runs_by_query = prev_rbq

    # subset mode merges timings from a prior full run whose spreads we
    # don't have — only stamp spreads on a full-run detail file
    payload = write_detail(timings, sf, runs, runs_by_query, pair_id,
                           spreads=None if sel else spreads)
    print(json.dumps({k: v for k, v in payload.items()
                      if k not in ("queries", "runs_by_query")}))


if __name__ == "__main__":
    main()
