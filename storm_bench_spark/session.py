"""SparkSession factory.

One place to encode the engine's execution-model decisions so every
entry point (tests, bench, driver) runs with the same plan-shaping
configuration:

- AQE on (runtime re-planning, skew-join splitting, partition
  coalescing) — at 100 TB the static plan is always wrong somewhere.
- UTC session timezone — event-time windows must be reproducible and
  oracle-comparable (DuckDB computes epochs in UTC).
- Arrow on — any unavoidable Python stage moves batches, not rows.
- shuffle partitions default sized for local testing but overridable;
  on a real cluster this is set per-job (or left to AQE coalescing
  from a high initial value).
- Python workers run through the engine's own daemon
  (``worker_daemon``), whose per-task import-cache reset skips Spark's
  zip archives instead of re-reading ``pyspark.zip`` on every task; the
  engine's package root is on the workers' path so they can start it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The package root, so Python workers can import the daemon below from
# any working directory.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_WORKER_DAEMON = "storm_bench_spark.worker_daemon"


def _worker_pythonpath(extra_conf: dict[str, str]) -> str:
    """The caller's ``spark.executorEnv.PYTHONPATH``, if any, with the
    package root appended."""
    caller = extra_conf.get("spark.executorEnv.PYTHONPATH", "")
    return os.pathsep.join(p for p in (caller, _PACKAGE_ROOT) if p)


def get_spark(
    app_name: str = "storm-bench-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    for local runs; on a cluster, leave it unset and let spark-submit
    decide.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic float formatting in oracle comparisons; Parquet
        # timestamps written by the fixture generator are naive → UTC.
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        # The fixture parquet stores TIMESTAMP(NANOS); Spark reads those
        # as BIGINT nanos under this flag and sources/tables.py converts
        # back to TimestampType (DuckDB does the same ns→us truncation).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Read micros timestamps as TIMESTAMP (LTZ, session=UTC) rather
        # than NTZ so epoch casts (`ts.cast('long')`) stay legal.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Keep the UI off for test/bench runs (driver runs headless).
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        # Single-JVM local mode: this is the WHOLE memory budget, shared
        # by 32 task threads (execution + storage). 8g meant ~250 MB per
        # concurrent task and the 100× scale smoke OOMed in the sorter;
        # the box has 128 GiB, so default to a 100×-capable share. On a
        # real cluster this knob is per-executor and set by spark-submit.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
    )
    extra_conf = extra_conf or {}
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    builder = builder.config("spark.python.daemon.module", _WORKER_DAEMON).config(
        "spark.executorEnv.PYTHONPATH", _worker_pythonpath(extra_conf)
    )
    return builder.getOrCreate()
