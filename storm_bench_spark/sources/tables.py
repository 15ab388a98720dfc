"""Parquet table loaders for the driver's synthetic testdata (TESTDATA.md).

``load_table(spark, sf_dir, name)`` is the single scan entry point: every
query reads through here so scans stay uniform (schema-on-read parquet →
Catalyst pushdown/pruning applies automatically; ``.explain`` shows
PushedFilters/ReadSchema reaching these scans).
"""

from __future__ import annotations

import fnmatch
import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _path_bytes(path: str, name_glob: str = "*") -> int:
    """On-disk bytes of a table path: the file itself, or the files
    under the directory whose names match ``name_glob`` (a file
    source's ``pathGlobFilter``)."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in fnmatch.filter(files, name_glob):
            try:
                total += os.path.getsize(os.path.join(root, f))
            except FileNotFoundError:
                # Renamed or removed since the listing: a stream's
                # source directory can change while the stream starts.
                pass
    return total


# Fixture columns stored as TIMESTAMP(NANOS) in parquet. Spark reads them
# as BIGINT nanos (spark.sql.legacy.parquet.nanosAsLong); we truncate to
# micros with integer division (nanos ≈ 1.7e18 overflows double math) and
# restore TimestampType — the same ns→us truncation DuckDB applies.
_TIMESTAMP_COLS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


# Per-session scan memo (round 10): ``spark.read.parquet`` re-lists the
# input and re-reads parquet footers on EVERY call — measured ~127 ms of
# plan-build latency per load_table call at sf0.1, paid by every query
# (the whole bench pays it 200+ times). The returned DataFrame is an
# immutable logical plan, so reusing it across queries of the same
# session is semantically identical to re-reading; the file index it
# carries is resolved once, which is also the at-scale behavior a real
# deployment wants (catalog tables list files once, not per query).
# Keyed weakly by session so a stopped session's plans are collectable
# and a fresh session (tests spin up several) never sees stale plans.
# Trade-off, documented: a fixture file REPLACED mid-session would keep
# serving the old file listing — none of the engine's entry points do
# that (the driver, bench, and tests treat sf dirs as immutable).
_SCAN_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    memo = _SCAN_MEMO.setdefault(spark, {})
    key = (os.path.abspath(sf_dir), name)
    df = memo.get(key)
    if df is not None:
        return df
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for col in _TIMESTAMP_COLS.get(name, ()):
        if isinstance(df.schema[col].dataType, LongType):
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` DIV 1000")))
    memo[key] = df
    return df
