#!/usr/bin/env python
"""Dump .explain('formatted') for named registry queries to files.

Usage:
    python scripts/explain_dump.py <outdir> <suffix> <query> [<query> ...]

Writes <outdir>/<query>_<suffix>.txt for each query. For a batch row
this is driver-only work (no job runs). A streaming row runs its
stream(s) while it builds, and its returned DataFrame is only a batch
read of the sink, so the file also gets the physical plan of every
stream the row ran (the ``plan`` of each ``LAST_STREAM_RUNS`` record it
appended), after the batch plan. The session mirrors bench.py's
get_spark so the captured plan is the plan the bench executes.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path[:0] = [os.path.dirname(os.path.dirname(os.path.abspath(__file__)))]


def main() -> None:
    outdir, suffix, *names = sys.argv[1:]
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from storm_bench_spark.plans.registry import all_queries
    from storm_bench_spark.session import get_spark
    from storm_bench_spark.streaming.streams import LAST_STREAM_RUNS

    spark = get_spark(app_name="sbs-explain")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    unknown = [n for n in names if n not in queries]
    if unknown:
        raise SystemExit(f"not in the registry: {unknown}")
    for name in names:
        before = list(LAST_STREAM_RUNS)
        df = queries[name](spark, sf_dir)
        streams = [r for r in LAST_STREAM_RUNS if not any(r is b for b in before)]
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        for i, rec in enumerate(streams, 1):
            state = [s["numRowsTotal"] for s in rec["final_state_operators"]]
            buf.write(
                f"\n== Stream {i} of {len(streams)}: {rec['output_mode']} mode, "
                f"{rec['n_batches']} batch(es), {rec['num_input_rows']} input rows, "
                f"final state rows {state} ==\n{rec['plan']}\n"
            )
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
