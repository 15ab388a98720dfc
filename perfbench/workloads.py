"""What one pass of each workload runs, through the engine's public entry
points, and how its outputs are checked.

- ``catalog`` runs registered queries
  (``plans.registry.all_queries()``) and collects each result with
  ``toPandas``; the last pass's results are compared with the query's
  DuckDB oracle on the same inputs.
- ``stream`` runs an open-loop load generator that writes seeded
  ``events`` part-files on a fixed schedule while ``run_to_memory``
  consumes them with a processing-time trigger; each sink is compared
  with batch SQL over every file written.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

# Every batch row here has a DuckDB oracle. The catalog sample keeps
# the registry's mix of SQL executions per query (outside micro-batches;
# every query needs one for its collect, and each further one is a
# driver round-trip it might save): of 179 queries, 135 run one, 31 run
# two and 13 run three to nine, 262 in all. The sample takes the
# registry's proportions of these classes for 12 queries, 9 : 2 : 1, and
# within each class the queries with the smallest warm wall, since the
# workload is about per-query fixed cost and a run must fit several
# passes; one of the nine is ``minhash_lsh`` instead, for the pair
# yield. The counts come from a traced pass over the whole registry at
# sf0.01 and repeat exactly from run to run.
CATALOG_SAMPLE = (
    # one SQL execution per query run
    "expand_words", "grep", "minhash_lsh", "print_passthrough", "rolling_sort",
    "sol", "stratified_sample", "text_normalize", "token_count",
    # two
    "ann_topk", "streaming_sol",
    # three
    "pack_sequences",
)
# Candidate-pair rows of the sample: their pair yield (result rows over
# candidate-join output rows) is a layer metric.
PAIR_ROWS = ("minhash_lsh",)
# Stream load: rates sit well below each query's saturation on a
# 4-core box (window ~45% busy at 20k events/s, funnel ~90% at 5k).
WINDOW_RATE = 8_000  # events/s into the sliding-window count
FUNNEL_RATE = 2_000  # events/s into the Python-state funnel
FILE_PERIOD_S = 0.1  # one part-file per period
PHASE_S = 2.0  # schedule length of each stream query
# Micro-batches run back to back, so an event waits for the batch in
# flight and then its own. With a longer trigger interval the wait
# depends on where the schedule falls in the trigger period, and a batch
# overrunning the interval on a busy box queues the next ones.
TRIGGER = "0 seconds"
WINDOW_S, SLIDE_S, WATERMARK_S = 3600, 600, 3600


def cpu_seconds() -> float:
    """CPU time (user plus system) used so far by this process and all
    its descendants: the JVM, the Python workers, and, through each
    parent's counts, the children it has reaped. Time the host gives to
    other tenants (CPU steal) is accounted as steal, not to these
    processes, so on a busy box this moves much less than wall time."""
    tick = os.sysconf("SC_CLK_TCK")
    children: dict[int, list[int]] = {}
    used: dict[int, float] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process has exited
            continue
        children.setdefault(int(fields[1]), []).append(int(pid))
        used[int(pid)] = sum(int(x) for x in fields[11:15]) / tick  # utime stime cutime cstime
    total, todo = 0.0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += used.get(pid, 0.0)
        todo += children.get(pid, [])
    return total


def cached_bytes(spark) -> int:
    return sum(i.memSize() + i.diskSize() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo())


@dataclass
class PassResult:
    wall: float  # catalog: the whole pass; stream: the drain after each schedule
    span: float = 0.0  # the whole pass, load schedule included
    cpu: float = 0.0  # CPU seconds over ``span``
    walls: dict[str, float] = field(default_factory=dict)  # per query or per file
    weights: dict[str, int] = field(default_factory=dict)  # events per file (stream)
    outputs: dict = field(default_factory=dict)
    errors: dict[str, str] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)


def _fail(errors: dict, name: str) -> None:
    errors[name] = traceback.format_exc()
    print(f"# {name} failed:\n{errors[name]}", file=sys.stderr)


def batch_pass(spark, registry: dict, names, sf_dir: str, tracer=None) -> PassResult:
    """Run each query once, collecting its result; releases what the
    query cached before the next one starts, as callers must."""
    from storm_bench_spark.streaming.streams import last_stream_diagnostics

    res = PassResult(wall=0.0)
    spans, cached = [], 0
    if tracer is not None:
        tracer.begin()
    runs_before = {r["checkpoint"] for r in last_stream_diagnostics()}
    t_pass, cpu0 = time.time(), cpu_seconds()
    for name in names:
        t0 = time.time()
        try:
            df = registry[name](spark, sf_dir)
            t1 = time.time()
            if tracer is not None:
                df._jdf.queryExecution().executedPlan()
            t2 = time.time()
            res.outputs[name] = df.toPandas()
            t3 = time.time()
        except Exception:  # noqa: BLE001 — a failed query is counted, the pass goes on
            _fail(res.errors, name)
            continue
        res.walls[name] = t3 - t0
        print(f"# {name}: {t3 - t0:.3f} s", file=sys.stderr)
        if tracer is not None:
            q = tracer.span(f"query:{name}", t0, t3)
            tracer.span("plans.build", t0, t1, q)
            tracer.span("plans.optimize", t1, t2, q)
            tracer.span("exec.sink", t2, t3, q)
            spans.append(q)
            cached = max(cached, cached_bytes(spark))
        spark.catalog.clearCache()
    res.wall = res.span = time.time() - t_pass
    res.cpu = cpu_seconds() - cpu0
    if tracer is not None:
        res.layers = tracer.harvest(spans)
        res.layers.update(tracer.stream_totals())
        res.layers["streaming.floor_s"] = sum(
            r["floor_sec"] for r in last_stream_diagnostics() if r["checkpoint"] not in runs_before
        )
        res.layers["resources.cached_bytes_after_query"] = cached
        for name in PAIR_ROWS:
            candidates = tracer.join_rows.get(f"query:{name}")
            if name in res.outputs and candidates:
                res.layers["operators.pair_yield"] = len(res.outputs[name]) / candidates
    return res


def check_batch(con, oracles: dict, outputs: dict, cache_dir: str) -> dict[str, str]:
    """Oracle mismatches by query name (empty when all match). Oracle
    results are kept in ``cache_dir`` under the hash of their SQL, so a
    later run on the same inputs reuses them."""
    from tests.oracle_utils import assert_frames_match

    os.makedirs(cache_dir, exist_ok=True)
    bad = {}
    for name, pdf in outputs.items():
        sql = oracles[name]
        path = os.path.join(cache_dir, f"{name}-{hashlib.sha256(sql.encode()).hexdigest()[:16]}.pkl")
        if os.path.exists(path):
            want = pd.read_pickle(path)
        else:
            want = con.execute(sql).fetchdf()
            want.to_pickle(path + ".tmp")
            os.replace(path + ".tmp", path)
        try:
            assert_frames_match(pdf, want, name)
        except AssertionError as e:
            bad[name] = str(e)[:2000]
    return bad


def duck_views(sf_dir: str):
    from storm_bench_spark.sources.tables import TABLES

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


# --- stream ---------------------------------------------------------------


class LoadGenerator(threading.Thread):
    """Writes part-files of ``rows`` into ``src`` on a fixed schedule,
    whether or not the consumer keeps up (open loop). File i is due at
    ``t0 + i * period``; each file appears atomically by rename."""

    def __init__(self, rows, src: str, per_file: int, period: float) -> None:
        super().__init__(daemon=True)
        self.rows, self.src, self.per_file, self.period = rows, src, per_file, period
        self.n_files = rows.num_rows // per_file
        self.due: dict[str, float] = {}
        self.lag_max = 0.0
        self.stop_event = threading.Event()
        self.error: BaseException | None = None
        os.makedirs(src)

    def write(self, i: int) -> None:
        name = f"part-{i:05d}.parquet"
        tmp = os.path.join(self.src, f".{name}")
        pq.write_table(self.rows.slice(i * self.per_file, self.per_file), tmp)
        os.rename(tmp, os.path.join(self.src, name))
        self.lag_max = max(self.lag_max, time.time() - self.due[name])

    @property
    def last_due(self) -> float:
        return self.t0 + (self.n_files - 1) * self.period

    def start_schedule(self) -> None:
        self.t0 = time.time()
        self.due["part-00000.parquet"] = self.t0
        self.write(0)  # the stream's schema peek needs one file
        self.start()

    def run(self) -> None:
        try:
            for i in range(1, self.n_files):
                due = self.t0 + i * self.period
                self.due[f"part-{i:05d}.parquet"] = due
                if self.stop_event.wait(max(0.0, due - time.time())):
                    return
                self.write(i)
        except BaseException as e:  # noqa: BLE001 — surfaced by the phase
            self.error = e


def batch_commits(checkpoint: str) -> dict[str, float]:
    """File name → commit time of the micro-batch that read it, from a
    file-source checkpoint: ``sources/0/<batch>[.compact]`` lists each
    batch's files, ``commits/<batch>`` is written when it commits."""
    committed = {}
    for path in glob.glob(os.path.join(checkpoint, "commits", "[0-9]*")):
        base = os.path.basename(path)
        if base.isdigit():
            committed[int(base)] = os.path.getmtime(path)
    out = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "[0-9]*")):
        with open(path) as f:
            for line in f:
                if line.startswith("{"):
                    entry = json.loads(line)
                    if entry["batchId"] in committed:
                        out[os.path.basename(entry["path"])] = committed[entry["batchId"]]
    return out


def file_latencies(due: dict[str, float], commits: dict[str, float]) -> dict[str, float]:
    """Latency of each written file: from when it was due to the commit
    of the batch that read it. Files never committed are left out."""
    return {f: commits[f] - t for f, t in due.items() if f in commits}


def window_oracle(src: str, watermark_s: float) -> str:
    # Windows [ws, ws + W) sliding by S; append mode has emitted exactly
    # the windows whose end the final batch's watermark has reached.
    k = WINDOW_S // SLIDE_S
    return f"""
WITH e AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS sec, event_type
           FROM read_parquet('{src}/part-*.parquet')),
w AS (SELECT (sec // {SLIDE_S} - t.k) * {SLIDE_S} AS ws, event_type
      FROM e CROSS JOIN range({k}) AS t(k))
SELECT ws, event_type, count(*) AS cnt FROM w
WHERE ws + {WINDOW_S} <= {watermark_s}
GROUP BY ws, event_type
"""


def final_watermark_s(checkpoint: str) -> float:
    """Event-time watermark (s) the last committed batch evicted with."""
    batches = [int(os.path.basename(p)) for p in glob.glob(os.path.join(checkpoint, "commits", "[0-9]*"))
               if os.path.basename(p).isdigit()]
    with open(os.path.join(checkpoint, "offsets", str(max(batches)))) as f:
        meta = json.loads(f.read().splitlines()[1])
    return meta["batchWatermarkMs"] / 1000.0


def funnel_stages(pdf):
    import pandas as pd

    per_user = pdf.groupby("user_id")[["v", "c", "p"]].max()
    return pd.DataFrame(
        {"stage": ["view", "click", "purchase"],
         "users": [int(per_user[c].notna().sum()) for c in ("v", "c", "p")]}
    )


def stream_phase(spark, kind: str, pool, root: str, tag: str, tracer=None) -> PassResult:
    """One stream query over one load schedule, then its check."""
    from pyspark.sql import functions as F

    from storm_bench_spark.operators.windows import sliding_agg
    from storm_bench_spark.streaming.stateful import funnel_state
    from storm_bench_spark.streaming.streams import (
        last_stream_diagnostics,
        python_stateful_partitions,
        run_to_memory,
        stream_table,
    )

    rate = WINDOW_RATE if kind == "window" else FUNNEL_RATE
    per_file = int(rate * FILE_PERIOD_S)
    rows = pool.slice(0, int(rate * PHASE_S))
    phase_dir = os.path.join(root, tag)
    src = os.path.join(phase_dir, "events.parquet")
    gen = LoadGenerator(rows, src, per_file, FILE_PERIOD_S)
    res = PassResult(wall=0.0)
    name = f"perfbench_{tag.replace('-', '_')}"
    if tracer is not None:
        tracer.begin()
    cpu0 = cpu_seconds()
    gen.start_schedule()
    try:
        e = stream_table(spark, phase_dir, "events").withColumn("sec", F.col("ts").cast("long"))
        if kind == "window":
            q = sliding_agg(e, WINDOW_S, SLIDE_S, ["event_type"], [F.count("*").alias("cnt")],
                            watermark=f"{WATERMARK_S} seconds")
            sink = run_to_memory(q, output_mode="append", query_name=name, processing_time=TRIGGER)
        else:
            sink = run_to_memory(
                funnel_state(e), output_mode="append", query_name=name, processing_time=TRIGGER,
                state_partitions=python_stateful_partitions(spark),
            )
        t_stop, res.cpu = time.time(), cpu_seconds() - cpu0
        # The schedule fixes everything up to the last file's due time;
        # what the engine adds is the drain after it.
        res.wall = t_stop - gen.last_due
        res.span = t_stop - gen.t0
        res.outputs[kind] = sink.toPandas()
    except Exception:  # noqa: BLE001 — counted as a failed phase
        _fail(res.errors, f"stream:{tag}")
        return res
    finally:
        if gen.is_alive():
            gen.stop_event.set()
            res.errors.setdefault(f"stream:{tag}", "query returned before the schedule ended")
        gen.join()
        spark.catalog.dropTempView(name)
    if gen.error is not None:
        res.errors[f"loadgen:{tag}"] = repr(gen.error)
    ckpt = last_stream_diagnostics()[-1]["checkpoint"]
    lat = file_latencies(gen.due, batch_commits(ckpt))
    if len(lat) != len(gen.due):
        res.errors.setdefault(f"stream:{tag}", f"{len(gen.due) - len(lat)} files never committed")
    res.walls = {f"{kind}/{f}": v for f, v in lat.items()}
    res.weights = {f"{kind}/{f}": per_file for f in lat}
    res.layers = {
        "loadgen.lag_max_s": gen.lag_max,
        "loadgen.events": float(len(gen.due) * per_file),
        "streaming.floor_s": last_stream_diagnostics()[-1]["floor_sec"],
    }
    if tracer is not None:
        q = tracer.span(f"query:stream:{kind}", gen.t0, t_stop)
        tracer.span("exec.stream", gen.t0, t_stop, q)
        res.layers.update(tracer.harvest([q]))
        res.layers.update(tracer.stream_totals())
    res.errors.update(check_stream(kind, res.outputs[kind], src, ckpt))
    return res


def check_stream(kind: str, got, src: str, ckpt: str) -> dict[str, str]:
    """Compare a stream's final sink with batch SQL over its files."""
    from tests.oracle_utils import assert_frames_match

    con = duckdb.connect()
    try:
        if kind == "window":
            want = con.execute(window_oracle(src, final_watermark_s(ckpt))).fetchdf()
        else:
            from storm_bench_spark.plans.registry import all_oracles

            con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{src}/part-*.parquet')")
            want = con.execute(all_oracles()["streaming_funnel"]).fetchdf()
            got = funnel_stages(got)
        assert_frames_match(got, want, f"stream:{kind}")
    except AssertionError as e:
        return {f"oracle:stream:{kind}": str(e)[:2000]}
    finally:
        con.close()
    return {}


def event_quantiles(res: PassResult) -> list[float]:
    """p50 and p90 of a stream pass's per-event latency."""
    return weighted_quantiles(list(res.walls.values()), [res.weights[k] for k in res.walls])


def weighted_quantiles(values: list[float], weights: list[int], qs=(0.5, 0.9)) -> list[float]:
    """Quantiles of ``values`` where each counts ``weights`` times
    (linear interpolation, as ``statistics.quantiles`` with
    ``method="inclusive"``)."""
    if not values:
        return [float("nan")] * len(qs)
    arr = np.repeat(np.asarray(values, dtype=float), np.asarray(weights, dtype=int))
    return [float(np.quantile(arr, q)) for q in qs]
