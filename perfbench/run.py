#!/usr/bin/env python3
"""Benchmark of the storm_bench_spark engine, driven from outside.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 45 --trace 0

Generates the workload's inputs from ``--seed`` (cached), sets up the
session several times, runs the workload for ``--seconds``, checks every
output against its oracle, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones of ``BENCHMARK.json``; with ``--trace 1``
the per-layer ones, from a run that alternates untraced and traced passes
and reports what tracing cost. ``perfbench/METRICS.md`` says what each
metric means on each workload. Run the benchmark's own tests with
``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("catalog", "stream")
SETUPS = 5  # session set-ups per run; setup_s is their median
# Passes after the cold one, (warm-up, measured), that take about 45 s
# on a 4-vCPU box. The count is fixed rather than "as many as fit":
# passes keep getting faster for minutes as the JIT warms, so a
# time-bound run on a slowed box would measure earlier, slower passes
# and magnify the slowdown.
PASSES_AT_45_S = {"catalog": (2, 4), "stream": (1, 3)}
# Wall-clock figures a run prints to standard error only: on a shared
# box they move with the other tenants' load (see METRICS.md).
WALL_CLOCK = ("pass_wall_s", "latency_p50_s", "latency_p90_s")
DEADLINE_S = 170  # a run that is still going then is killed, not reported

# Per-layer totals that combine across queries or phases by maximum;
# every other total adds up.
MAX_LAYERS = {
    "operators.peak_memory_bytes",
    "resources.cached_bytes_after_query",
    "streaming.state_rows",
    "streaming.state_memory_bytes",
    "loadgen.lag_max_s",
}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_gb() -> int:
    """A quarter of the box's memory, between 2 and 8 GiB: the engine's
    24 GiB default does not fit a small box, and other tenants share it."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return max(2, min(8, total_kb // (4 << 20)))


def configure_env(tmp: str) -> dict[str, str]:
    """Size the engine's session for this box through the environment
    its ``get_spark`` reads, and keep every scratch file inside ``tmp``.
    Returns the extra Spark conf the launcher passes."""
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # The JVM that spark-submit runs first to build the Spark driver's command.
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_memory_gb()}g"
    for knob in ("SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_STREAM_PARTITIONS", "SPARK_GRAFT_UI"):
        os.environ.pop(knob, None)
    # Python workers import the engine's UDF modules by name.
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    return {
        # -UsePerfData: no hsperfdata file in the system temp dir.
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{driver_memory_gb()}g",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # The traced run reads every job, stage and execution of a pass.
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "20000",
        "spark.sql.ui.retainedExecutions": "20000",
    }


def start_session(conf: dict[str, str]):
    from storm_bench_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on end of input
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def setup(conf: dict[str, str], sf_dir: str):
    """Session start plus first touch of every input table, SETUPS
    times. The first set-up also launches the JVM (a CLI call pays
    that once); the others restart the session inside it, so their
    median is the engine's own set-up. The last session stays up."""
    from storm_bench_spark.sources.tables import load_table

    tables = sorted(f[: -len(".parquet")] for f in os.listdir(sf_dir) if f.endswith(".parquet"))
    starts, loads = [], []
    for i in range(SETUPS):
        t0 = time.perf_counter()
        spark = start_session(conf)
        t1 = time.perf_counter()
        for t in tables:
            load_table(spark, sf_dir, t)  # lists the file and reads its footer
        t2 = time.perf_counter()
        starts.append(t1 - t0)
        loads.append(t2 - t1)
        if i < SETUPS - 1:
            spark.stop()
    return spark, {
        "setup_s": statistics.median(a + b for a, b in zip(starts, loads)),
        "setups": [a + b for a, b in zip(starts, loads)],
        "session.start_s": starts[0],
        "sources.first_load_s": loads[0],
    }


def rss_peak_mb(jvm_pid: int | None) -> float:
    """Peak resident set of this process plus the JVM (VmHWM)."""
    total = 0
    for pid in ("self", jvm_pid):
        if pid is None:
            continue
        with open(f"/proc/{pid}/status") as f:
            total += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return total / 1024.0


def pass_counts(kind: str, seconds: float) -> tuple[int, int]:
    """(warm-up, measured) passes after the cold one: those of
    PASSES_AT_45_S, scaled with ``seconds``, at least one measured."""
    warmup, measured = PASSES_AT_45_S[kind]
    return round(warmup * seconds / 45), max(1, round(measured * seconds / 45))


def merge_layers(parts: list[dict[str, float]]) -> dict[str, float]:
    out: dict[str, float] = {}
    for part in parts:
        for k, v in part.items():
            out[k] = max(out.get(k, v), v) if k in MAX_LAYERS else out.get(k, 0.0) + v
    return out


def run_passes(kind: str, spark, sf_dir: str, seconds: float, trace: bool, work: str):
    """The cold pass, the warm-up passes, then the measured passes
    (untraced and traced in turn when tracing), as many as
    :func:`pass_counts` gives for ``seconds``."""
    import workloads as W

    tracer = None
    if trace:
        from tracing import Tracer

        tracer = Tracer(spark)
    if kind == "stream":
        import pyarrow.parquet as pq

        pool = pq.read_table(os.path.join(sf_dir, "events.parquet"))
        n = [0]

        def one_pass(tr):
            n[0] += 1
            phases = [
                W.stream_phase(spark, k, pool, os.path.join(work, "stream"), f"{n[0]}-{k}", tr)
                for k in ("window", "funnel")
            ]
            res = W.PassResult(
                wall=sum(p.wall for p in phases),
                span=sum(p.span for p in phases),
                cpu=sum(p.cpu for p in phases),
            )
            for p in phases:
                res.walls.update(p.walls)
                res.weights.update(p.weights)
                res.errors.update(p.errors)
            res.layers = merge_layers([p.layers for p in phases])
            q = W.event_quantiles(res)
            print(f"# stream pass latency p50 {q[0]:.3f} s, p90 {q[1]:.3f} s", file=sys.stderr)
            return res
    else:
        from storm_bench_spark.plans.registry import all_queries

        registry = all_queries()
        names = W.CATALOG_SAMPLE

        def one_pass(tr):
            return W.batch_pass(spark, registry, names, sf_dir, tr)

    warmup, measured = pass_counts(kind, seconds)
    t0 = time.time()
    cold = one_pass(None)
    print(f"# cold pass: {cold.wall:.3f} s", file=sys.stderr)
    warmups = []
    for _ in range(warmup):
        warmups.append(one_pass(None))
        print(f"# warm-up pass {len(warmups)}: {warmups[-1].wall:.3f} s", file=sys.stderr)
    warm, traced = [], []
    # A box slowed far beyond the reference one stops measuring early.
    while len(warm) < measured and (not warm or time.time() - t0 < 2 * seconds):
        # A traced run alternates untraced and traced passes in ABBA
        # order, so that passes still getting faster favour neither.
        if tracer is None:
            order = [None]
        else:
            order = [None, tracer] if len(warm) % 2 == 0 else [tracer, None]
        for tr in order:
            if tr is None:
                warm.append(one_pass(None))
                print(f"# measured pass {len(warm)}: {warm[-1].wall:.3f} s, {warm[-1].cpu:.2f} CPU s",
                      file=sys.stderr)
                continue
            spark.streams.addListener(tracer.progress)
            try:
                traced.append(one_pass(tracer))
            finally:
                spark.streams.removeListener(tracer.progress)
            print(f"# traced pass {len(traced)}: {traced[-1].wall:.3f} s", file=sys.stderr)
    if tracer is not None:
        tracer.write(os.path.join(WORK, f"trace-{kind}.json"))
    return cold, warmups, warm, traced


def end_to_end(kind: str, setup_m: dict, n_warmup: int, warm) -> tuple[dict, dict]:
    """Each metric is a median over the measured passes, so one pass
    slowed by the machine or the JIT does not move it. Catalog latency
    quantiles are taken over each query's median wall; a stream pass's
    latency quantiles count each file once per event in it."""
    import workloads as W

    if kind == "stream":
        quantiles = [W.event_quantiles(p) for p in warm]
        p50, p90 = (statistics.median(q[i] for q in quantiles) for i in (0, 1))
        latency = f"{sum(len(p.walls) for p in warm)} files in {len(warm)} passes"
    else:
        names = sorted({k for p in warm for k in p.walls})
        per_query = [statistics.median(p.walls[k] for p in warm if k in p.walls) for k in names]
        p50, p90 = W.weighted_quantiles(per_query, [1] * len(per_query))
        latency = f"{len(names)} queries, each the median of {len(warm)} passes"
    metrics = {
        "setup_s": setup_m["setup_s"],
        "pass_cpu_s": statistics.median(p.cpu for p in warm),
        "pass_wall_s": statistics.median(p.wall for p in warm),
        "latency_p50_s": p50,
        "latency_p90_s": p90,
    }
    samples = {"latency": latency, "passes": f"1 cold + {n_warmup} warm-up + {len(warm)} measured",
               "setups": " ".join(f"{t:.3f}" for t in setup_m["setups"])}
    return metrics, samples


def per_layer(setup_m: dict, cold, warm, traced, n_passes: int, work: str, jvm_pid: int | None) -> dict:
    layers = [p.layers for p in traced]
    keys = {k for part in layers for k in part}
    out = {k: statistics.median(part.get(k, 0.0) for part in layers) for k in keys}
    out["session.start_s"] = setup_m["session.start_s"]
    out["sources.first_load_s"] = setup_m["sources.first_load_s"]
    out["session.cold_pass_s"] = cold.wall
    span = statistics.median(p.span for p in traced)
    out["operators.core_util"] = out.get("operators.task_busy_s", 0.0) / (span * cores())
    wall = statistics.median(p.wall for p in traced)
    out["trace.overhead_frac"] = wall / statistics.median(p.wall for p in warm) - 1.0
    tmp = os.path.join(work, "tmp")
    out["resources.peak_rss_mb"] = rss_peak_mb(jvm_pid)
    left = sum(1 for d in os.listdir(tmp) if d.startswith("sbs_"))
    out["resources.tmp_dirs_left"] = left / n_passes
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "storm_bench_spark")):
        print(f"perfbench: no engine sources next to {HERE}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    sys.path[:0] = [HERE, ROOT]
    import datagen
    import workloads as W

    work = os.path.join(WORK, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    conf = configure_env(tmp)
    t_start = time.perf_counter()
    sf_dir = datagen.ensure_inputs(os.path.join(WORK, "inputs"), args.workload, args.seed)
    _phase("inputs", t_start)

    spark = None
    watchdog = threading.Timer(DEADLINE_S, _abort)
    watchdog.daemon = True
    watchdog.start()
    try:
        spark, setup_m = setup(conf, sf_dir)
        _phase("setup", t_start)
        from pyspark import SparkContext

        jvm_pid = getattr(SparkContext._gateway, "proc", None)
        jvm_pid = jvm_pid.pid if jvm_pid is not None else None
        cold, warmups, warm, traced = run_passes(
            args.workload, spark, sf_dir, args.seconds, bool(args.trace), work
        )
        _phase("passes", t_start)
        e2e, samples = end_to_end(args.workload, setup_m, len(warmups), warm)
        passes = [cold, *warmups, *warm, *traced]
        metrics = per_layer(setup_m, cold, warm, traced, len(passes), work, jvm_pid) if args.trace else e2e
        failed = [item for p in passes for item in p.errors.items()]
        if args.workload == "stream":
            attempted = 2 * len(passes)  # one window and one funnel query per pass
        else:
            from storm_bench_spark.plans.registry import all_oracles

            attempted = sum(len(p.walls) + len(p.errors) for p in passes)
            oracles = all_oracles()
            con = W.duck_views(sf_dir)
            try:
                for i, p in enumerate(passes):
                    mismatches = W.check_batch(con, oracles, p.outputs, os.path.join(sf_dir, "_oracle"))
                    failed += [(f"oracle:{k} (pass {i})", v) for k, v in mismatches.items()]
            finally:
                con.close()
            _phase("oracle", t_start)
    finally:
        if spark is not None:
            stop_session(spark)
        watchdog.cancel()
        shutil.rmtree(work, ignore_errors=True)
        _phase("teardown", t_start)

    for name, err in failed:
        print(f"# FAILED {name}: {err.splitlines()[-1] if err else ''}", file=sys.stderr)
    for k, v in samples.items():
        print(f"# samples {k}: {v}", file=sys.stderr)
    out = {}
    for m in wanted:
        if args.trace:
            metrics.setdefault(m["name"], 0.0)  # a layer this workload does not use
        if m["name"] not in metrics:
            raise KeyError(f"metric {m['name']} was not measured")
        out[m["name"]] = {"value": float(metrics[m["name"]]), "unit": m["unit"]}
        print(f"{m['name']} = {out[m['name']]['value']:.6g} {m['unit']}", file=sys.stderr)
    for name in WALL_CLOCK:
        print(f"# {name} = {e2e[name]:.6g} s (wall clock, not in the result)", file=sys.stderr)
    print(json.dumps({"correct": not failed, "attempted": attempted, "failed": len(failed), "metrics": out}))
    return 0


def _phase(name: str, t_start: float) -> None:
    print(f"# {name} done at {time.perf_counter() - t_start:.1f} s", file=sys.stderr)


def _abort() -> None:
    """Deadline reached: kill the JVM and leave without a result."""
    print(f"perfbench: run exceeded {DEADLINE_S} s, aborting", file=sys.stderr)
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.kill()
        proc.wait()
    os._exit(3)


if __name__ == "__main__":
    sys.exit(main())
