"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``: flagship query (TPC-H-style Q5 star join — scans,
  broadcast dims, shuffle joins, grouped decimal-exact aggregation) on
  the sf0.001 testdata.
- ``queries()``: every implemented operator/query from SURVEY.md §2,
  via the engine's registry (storm_bench_spark.plans.registry).
- ``oracle_sql()``: the DuckDB twin for each query (same column names;
  the registry requires one for every query).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SF_SMOKE_DIR = "/root/testdata/sf0.001"


def _configure(spark: SparkSession) -> SparkSession:
    # The driver owns the session; apply the engine's runtime-settable
    # requirements (UTC determinism, nanos timestamps in the fixtures).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Arrow toPandas: besides speed, it makes array<double> columns
    # arrive as numpy arrays — the same cell type DuckDB's fetchdf
    # produces — so a cell-type-sensitive comparator sees identical
    # frames from both engines.
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    except Exception:
        pass  # static confs on an already-started session; loader copes
    return spark


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from storm_bench_spark.plans.registry import all_queries

    return all_queries()["tpch_q5"](_configure(spark), SF_SMOKE_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from storm_bench_spark.plans.registry import all_queries

    return {
        name: (lambda fn: (lambda spark, sf_dir: fn(_configure(spark), sf_dir)))(fn)
        for name, fn in all_queries().items()
    }


def oracle_sql() -> dict[str, str]:
    from storm_bench_spark.plans.registry import all_oracles

    return all_oracles()
