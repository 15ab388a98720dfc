"""Structured Streaming surface (SURVEY.md §2.9).

The reference's streaming machinery maps onto Structured Streaming:
tick tuples → triggers, slot rings → windowed state store, ackers →
checkpointing, Trident transactional batches → micro-batch epochs with
exactly-once state. These helpers re-run the engine's queries through
``readStream`` so stream/batch parity is a tested property, and provide
the custom stateful operator path (``applyInPandasWithState``) for the
per-tuple running-count semantics no built-in mode reproduces.
"""

from __future__ import annotations

import json
import os
import tempfile
import time
import uuid
from collections import deque
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from storm_bench_spark.sources.tables import TABLES, _TIMESTAMP_COLS, _path_bytes
from storm_bench_spark.streaming.stateful import FUNNEL_SHARDS


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """File-source streaming twin of ``sources.tables.load_table``.

    Schema comes from a batch peek (file streams need explicit schema);
    nanos-timestamp columns get the same restore as the batch loader.
    """
    if name not in TABLES:
        raise KeyError(name)
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = spark.read.parquet(path).schema
    if os.path.isdir(path):
        # Spark-written table: {name}.parquet is a DIRECTORY of part
        # files — stream it directly. The glob spelling below would
        # match the directory name but not the part files inside, and
        # the source silently lists ZERO files: the silent-empty-stream
        # guard in run_stream caught exactly this on the first
        # streaming run over a replicated (Spark-written) fixture.
        df = spark.readStream.schema(schema).parquet(path)
    else:
        # testdata fixture: {name}.parquet is a single FILE, and the
        # file stream source requires a directory — stream the sf dir
        # restricted to this table's file.
        df = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", f"{name}.parquet")
            .parquet(sf_dir)
        )
    from pyspark.sql.types import LongType

    for col in _TIMESTAMP_COLS.get(name, ()):
        if isinstance(df.schema[col].dataType, LongType):
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` DIV 1000")))
    return df


# State-store width for the engine's run-to-completion streaming
# queries. A stateful operator creates one state store per shuffle
# partition, and EVERY epoch commits one delta file per store — so the
# per-epoch floor is (partitions × file-create/fsync), pure overhead
# whenever the keyed state is small relative to the partition count.
# Size this to the stateful-key VOLUME per epoch, not to the batch
# shuffle width: 4 covers the fixture scales (measured: −41%/−68%/−42%
# on the cdc/funnel/hll twins vs 32). Results are
# partition-count-invariant (the oracles certify that), only the epoch
# overhead changes.
#
# SIZING RULE (VERDICT r5 #8 — the small default must not silently
# under-parallelize a data-sized stream): when a stream starts,
# ``run_stream`` reads the on-disk bytes of the file sources in the
# DataFrame's own plan (:func:`_stream_input_bytes`) and derives the
# state width from them via :func:`state_partitions_for` —
#   input ≤ 4 × 32 MiB  → STREAM_STATE_PARTITIONS (the floor trim);
#   larger              → max(defaultParallelism, input/32 MiB),
#                         capped at 4 × defaultParallelism
# so real ingest always gets at least core-count state partitions.
STREAM_STATE_PARTITIONS = 4

# Target on-disk input bytes per state partition in the data-sized
# regime: one comfortable shuffle/state block. 4× this is the boundary
# below which the delta-file-per-epoch overhead dominates any
# parallelism gain (the regime the floor trim was measured in).
STREAM_STATE_TARGET_BYTES = 32 << 20

def _stream_input_bytes(df: DataFrame) -> int:
    """On-disk bytes of the largest file source a streaming plan reads,
    from its ``path`` and ``pathGlobFilter`` options; 0 when it reads
    none (rate, Kafka). Max, not sum: a stream-stream join keys its
    state off the larger side. The analyzed plan, not the logical one:
    there a bare ``readStream...parquet(dir)`` is still unresolved."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    sizes = [0]
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() != "StreamingRelation":
            continue
        opts = leaf.dataSource().options()
        path, glob = opts.get("path"), opts.get("pathGlobFilter")
        if path.isDefined():
            sizes.append(_path_bytes(path.get(), glob.get() if glob.isDefined() else "*"))
    return max(sizes)


# Post-mortem breadcrumbs for the rare in-suite streaming flake
# (VERDICT r7 next #1: the one-time streaming_flight_dist oracle
# mismatch was never reproduced — 11 clean re-runs — and left no
# artifact). Every run_stream appends one record here: batch count,
# input-row total, final state-store row count, checkpoint dir, state
# width. tests/oracle_utils dumps this next to the mismatched frames,
# so a recurrence pinpoints WHICH stage lost rows (source listing vs
# state vs sink) instead of leaving only a value diff. ``plan`` keeps
# the last micro-batch's physical plan: a streaming row returns only a
# batch read of its sink, so this is the one place its incremental
# plan is visible (scripts/explain_dump.py prints it).
LAST_STREAM_RUNS: deque = deque(maxlen=32)


def last_stream_diagnostics() -> list[dict]:
    return list(LAST_STREAM_RUNS)


def _progress_dicts(q) -> list[dict]:
    out = []
    for p in q.recentProgress:
        if isinstance(p, dict):
            out.append(p)
        else:  # pyspark returns StreamingQueryProgress objects on 4.x
            try:
                out.append(json.loads(p.json))
            except Exception:  # noqa: BLE001 — diagnostics must not fail the run
                pass
    return out


def state_partitions_for(spark: SparkSession, input_bytes: int) -> int:
    """State-partition count for a stream ingesting ``input_bytes``.

    Two regimes: fixture/changelog-sized input keeps the measured floor
    trim (:data:`STREAM_STATE_PARTITIONS`); data-sized input gets at
    least ``defaultParallelism`` stores (never fewer than the cores the
    cluster can commit deltas on concurrently), growing with volume to
    a 4×-cores cap.
    """
    small = STREAM_STATE_PARTITIONS
    if input_bytes <= STREAM_STATE_TARGET_BYTES * small:
        return small
    par = spark.sparkContext.defaultParallelism
    by_volume = -(-input_bytes // STREAM_STATE_TARGET_BYTES)  # ceil
    return max(par, min(by_volume, 4 * par))


def python_stateful_partitions(spark: SparkSession) -> int:
    """State width for a PYTHON-stateful stage (applyInPandasWithState)
    over a key domain wide enough to fill the cluster (round 15,
    guide §4): such a stage runs one Python worker per state
    partition, so the floor-trimmed width that is right for JVM
    stateful operators (delta-file-per-epoch overhead, see
    STREAM_STATE_PARTITIONS) serializes the Python work onto a handful
    of workers. The funnel's key domain is its FUNNEL_SHARDS = 64 user
    shards; streaming_funnel at sf0.1 (1,500 users, 4 vCPU, min of 5)
    measured width 1 → 1.54 s, 2 → 1.34, 4 → 1.29, 8 → 1.59. The
    width is therefore the cores, capped at the shard count: stores
    beyond it could only commit empty deltas. Stages whose key
    domain is narrower still (topn shards, per-event-type counts) keep
    the derived width."""
    return min(spark.sparkContext.defaultParallelism, FUNNEL_SHARDS)


def run_stream(
    df: DataFrame,
    output_mode: str,
    query_name: str | None = None,
    batch_fn: Callable[[DataFrame, int], None] | None = None,
    checkpoint: str | None = None,
    processing_time: str | None = None,
    state_partitions: int | None = None,
) -> None:
    """Run a streaming DataFrame to completion: into the memory table
    ``query_name``, or through ``batch_fn(batch_df, batch_id)`` once
    per micro-batch (foreachBatch) when one is given. The only place
    the engine starts and awaits a stream.

    Default trigger is ``availableNow`` (run to completion — the
    deterministic, testable mode). ``processing_time`` (e.g.
    ``"1 seconds"``) switches to the reference's wall-clock cadence —
    Storm's tick tuples fire every ``emit_freq`` seconds regardless of
    event time (RollingBolt.java:62-67) — processes everything
    available, then stops; the final state is the same, the *emission
    cadence* is what changes (benchmark-fidelity mode, SURVEY §4.3.2).

    The checkpoint (a fresh temp dir unless ``checkpoint`` names one)
    + micro-batch epoch machinery is the exactly-once path the Trident
    topology models (TridentWordCount.java:36-52).

    ``spark.sql.shuffle.partitions`` is trimmed to ``state_partitions``
    (default: :func:`state_partitions_for` over the bytes of the plan's
    file sources — the floor trim for fixture-sized input,
    ≥ core-count for data-sized ingest) for the duration of the
    stream and restored after — the streaming plan compiles at
    ``start()``, and foreachBatch jobs run inside it, so only this
    query's width is affected. The session-conf swap is NOT safe
    against a batch query compiling concurrently on the same session;
    the engine's entry points are sequential.

    Appends one :data:`LAST_STREAM_RUNS` record per run.
    """
    spark = df.sparkSession
    name = query_name or f"sbs_stream_{uuid.uuid4().hex[:12]}"
    ckpt = checkpoint or tempfile.mkdtemp(prefix="sbs_ckpt_")
    w = (
        df.writeStream.queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
    )
    w = w.format("memory") if batch_fn is None else w.foreachBatch(batch_fn)
    input_bytes = _stream_input_bytes(df)
    n_parts = state_partitions or state_partitions_for(spark, input_bytes)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n_parts))
    t_start = time.perf_counter()
    try:
        if processing_time is not None:
            q = w.trigger(processingTime=processing_time).start()
            q.processAllAvailable()
            q.stop()
        else:
            q = w.trigger(availableNow=True).start()
            q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    wall_sec = time.perf_counter() - t_start
    progs = _progress_dicts(q)
    plan = q._jsq.explainInternal(False)
    total_in = sum(int(p.get("numInputRows") or 0) for p in progs)
    # Engine-start/checkpoint floor (VERDICT r8 next #4): processing =
    # Σ addBatch (the data actually flowing through the plan into the
    # sink); floor = wall − that, i.e. query compile, micro-batch
    # planning, offset WAL + commit writes, checkpoint setup, start/
    # termination — measured per batch in the progress durationMs
    # (calibrated on streaming_funnel: addBatch 3.36 s of a 4.58 s
    # stream wall; planning+offsets+commits+start = the rest). BENCH
    # uses this to report streaming rows with the fixed engine cost
    # separated from processing, instead of letting a ~1 s constant
    # masquerade as a 40–90× ratio against a batch oracle. Fallback to
    # triggerExecution when a batch lacks addBatch (empty batches).
    processing_sec = sum(
        ((p.get("durationMs") or {}).get("addBatch")
         or (p.get("durationMs") or {}).get("triggerExecution") or 0)
        for p in progs
    ) / 1000.0
    floor_sec = max(0.0, wall_sec - processing_sec)
    last_state = [
        {
            "numRowsTotal": s.get("numRowsTotal"),
            "numRowsUpdated": s.get("numRowsUpdated"),
            "operatorName": s.get("operatorName"),
        }
        for p in progs[-1:]
        for s in p.get("stateOperators") or []
    ]
    LAST_STREAM_RUNS.append(
        {
            "query": name,
            "checkpoint": ckpt,
            "output_mode": output_mode,
            "state_partitions": n_parts,
            "input_bytes": input_bytes,
            "n_batches": len(progs),
            "num_input_rows": total_in,
            "final_state_operators": last_state,
            "wall_sec": round(wall_sec, 3),
            "processing_sec": round(processing_sec, 3),
            "floor_sec": round(floor_sec, 3),
            "plan": plan,
        }
    )
    # Silent-empty-stream guard: a FRESH stream over a non-empty file
    # source that processed ZERO rows is never a valid run (the fixture
    # tables are all non-empty) — fail loudly here, where the
    # checkpoint and progress are still in hand, rather than letting a
    # mysteriously-empty snapshot surface later as an oracle mismatch.
    # A caller's checkpoint may already have committed every file, so
    # a resumed run that finds nothing new is valid.
    if checkpoint is None and input_bytes > 0 and total_in == 0:
        raise RuntimeError(
            f"streaming query {name} read 0 input rows from a "
            f"{input_bytes}-byte source (checkpoint {ckpt}); "
            f"progress: {progs!r}"
        )


def run_to_memory(
    df: DataFrame,
    output_mode: str = "complete",
    query_name: str | None = None,
    processing_time: str | None = None,
    state_partitions: int | None = None,
) -> DataFrame:
    """Run a streaming DataFrame into a memory sink (:func:`run_stream`);
    returns the sink table as a batch DataFrame. A fresh checkpoint dir
    per call keeps reruns deterministic."""
    name = query_name or f"sbs_mem_{uuid.uuid4().hex[:12]}"
    run_stream(
        df,
        output_mode,
        query_name=name,
        processing_time=processing_time,
        state_partitions=state_partitions,
    )
    return df.sparkSession.table(name)


def with_processing_time(df: DataFrame, col: str = "proc_sec") -> DataFrame:
    """Stamp arrival (processing) time as epoch seconds.

    The reference has NO event time — its windows are wall-clock slots
    fed by whatever arrived since the last tick (SURVEY §2.9). Windows
    built over this column reproduce that semantics exactly: rows land
    in the window of their ARRIVAL instant. Event-time windows (the
    engine default) are strictly stronger and stay the tested path;
    this stamp is the benchmark-fidelity switch."""
    return df.withColumn(col, F.unix_timestamp(F.current_timestamp()).cast("bigint"))
