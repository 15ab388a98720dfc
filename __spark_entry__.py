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

import hashlib
import os
import tempfile
import zipfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SF_SMOKE_DIR = "/root/testdata/sf0.001"

_ROOT = os.path.dirname(os.path.abspath(__file__))
_SHIPPED: set[str] = set()  # application ids whose workers got the zip


def _package_zip() -> str:
    """A zip of the ``storm_bench_spark`` package, named by a hash of its
    content and written only when no zip of that name exists yet. A
    name never holds two contents, so a worker that keeps a zip
    importer open can never read a changed archive through it."""
    files = {}
    for d, dirs, names in os.walk(os.path.join(_ROOT, "storm_bench_spark")):
        dirs[:] = sorted(x for x in dirs if x != "__pycache__")
        for n in sorted(names):
            if not n.endswith(".pyc"):
                with open(os.path.join(d, n), "rb") as f:
                    files[os.path.relpath(os.path.join(d, n), _ROOT)] = f.read()
    h = hashlib.sha256()
    for rel, data in files.items():
        h.update(rel.encode() + b"\0" + data)
    path = os.path.join(tempfile.gettempdir(), f"storm_bench_spark-{h.hexdigest()[:16]}.zip")
    if not os.path.exists(path):
        tmp = f"{path}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
            for rel, data in files.items():
                z.writestr(rel, data)
        os.replace(tmp, path)
    return path


def _configure(spark: SparkSession) -> SparkSession:
    # The driver owns the session, so its Python workers may not have the
    # package on their path (a driver started outside the repo): ship it
    # once per SparkContext. Kernels that name a module-level function
    # pickle it by reference and import the package on the worker.
    sc = spark.sparkContext
    if sc.applicationId not in _SHIPPED:
        sc.addPyFile(_package_zip())
        _SHIPPED.add(sc.applicationId)
    # Apply the engine's runtime-settable requirements (UTC
    # determinism, nanos timestamps in the fixtures).
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
