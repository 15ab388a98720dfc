"""Sinks (SURVEY.md §2.2).

The reference has no real sinks — terminal bolts log and drop
(WordCount.java:93, RollingCountBolt.java:71). The engine therefore
exposes Spark's native sink surface as the declared capability:

- batch: parquet/csv/json writers, with optional hash-partitioned
  layout (``partition_by``) so downstream scans get partition pruning;
- streaming: memory tables and per-micro-batch capture (foreachBatch)
  through ``streaming.streams.run_stream``, the one place a stream
  starts. An exactly-once file sink is a ``batch_fn`` that overwrites
  one directory per batch id, so a replayed batch rewrites its own
  output instead of appending a duplicate.

At 100 TB the parquet writer is the only one that matters: writes are
per-partition parallel, and ``partition_by`` columns should be
low-cardinality (date, source) — high-cardinality partitioning
produces a small-files explosion.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def write_batch(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: Sequence[str] | None = None,
) -> None:
    w = df.write.format(fmt).mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def write_zordered(
    df: DataFrame,
    path: str,
    dims: Sequence[str],
    n_files: int = 64,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered write: the production path behind
    ``zorder_layout``'s audit. The two dims are masked to 16 bits,
    Morton-interleaved (functions/zorder.py), and the frame is
    range-partitioned and sorted by the z-value before writing — so
    every output file's min/max stats are tight in BOTH dims and a
    filter on either column prunes files
    (tests/test_layout_ops.py::test_zorder_write_prunes_on_both_dims
    proves this from the written footers). The z column is dropped
    from the output; it is layout, not data.

    ``repartitionByRange`` samples boundaries, so file SIZES are
    balanced even under skewed dims — the property a fixed bit-shift
    bucketing (which zorder_layout's deterministic AUDIT uses) cannot
    promise on skew.
    """
    from pyspark.sql import functions as F

    from storm_bench_spark.functions.zorder import ZORDER_MASK, morton32

    if len(dims) != 2:
        raise ValueError("z-order write takes exactly two dims")
    a = F.col(dims[0]).bitwiseAND(F.lit(ZORDER_MASK))
    b = F.col(dims[1]).bitwiseAND(F.lit(ZORDER_MASK))
    zname = "__z__"
    (
        df.withColumn(zname, morton32(a, b))
        .repartitionByRange(n_files, zname)
        .sortWithinPartitions(zname)
        .drop(zname)
        .write.format(fmt)
        .mode(mode)
        .save(path)
    )
