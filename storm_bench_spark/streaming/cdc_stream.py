"""Streaming CDC: MERGE-style snapshot maintenance across micro-batches.

The batch operator (operators/cdc.apply_changes) collapses a complete
changelog in one pass; this is its incremental twin — the shape a
production pipeline runs when changes arrive continuously: each
micro-batch folds into the maintained snapshot via ``foreachBatch``,
and the snapshot is re-materialized as an epoch-versioned parquet
table.

Exactly-once without a transactional table format: the snapshot for
epoch ``b`` is written to ``snapshot_v{b}`` with ``overwrite`` — a
batch retry rewrites the SAME versioned directory from the SAME inputs
(previous version + replayed batch), so failures never double-apply.
This is the checkpoint+idempotent-sink discipline of
``sources/sinks.py`` applied to table maintenance (a Delta/Iceberg
MERGE would replace the directory-versioning with a table commit; the
fold logic is identical).

Ordering contract: batches must be time-ordered ACROSS batch
boundaries (each key's later change arrives in a later-or-equal
batch). Within a batch, ``order_key`` resolves; across batches,
last-writer-wins is the fold itself. File sources deliver this when
input files are time-partitioned — the norm for CDC feeds. Out-of-order
feeds need version-carrying snapshots + delete tombstones (not
implemented; documented trade-off).
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from storm_bench_spark.operators.cdc import apply_changes
from storm_bench_spark.streaming.streams import STREAM_STATE_PARTITIONS, run_stream


def apply_changes_stream(
    base: DataFrame,
    change_stream: DataFrame,
    keys: Sequence[str],
    order_key: Column,
    payload_cols: Sequence[str],
    workdir: str | None = None,
) -> DataFrame:
    """Fold a STREAM of changes into the base snapshot; returns the
    final snapshot DataFrame after the stream drains (availableNow).

    Each epoch applies :func:`apply_changes` (latest-wins reduction +
    one left-anti join) against the previous epoch's snapshot — the
    per-batch cost is changelog-sized, never history-sized, and the
    snapshot directories give replay-idempotence (see module
    docstring).
    """
    workdir = workdir or tempfile.mkdtemp(prefix="sbs_cdc_stream_")
    spark = base.sparkSession
    # Recovery: if workdir is reused across runs, the checkpoint makes
    # Spark SKIP already-committed batches — so the fold must resume
    # from the highest existing snapshot, not from `base`, or the
    # prior epochs' changes are silently discarded. Scan for the
    # latest snapshot_v* ON ENTRY (batch ids are monotone per
    # checkpoint, so max-by-id is the latest committed fold).
    latest = None
    if os.path.isdir(workdir):
        versions = [
            int(d.rsplit("_v", 1)[1])
            for d in os.listdir(workdir)
            if d.startswith("snapshot_v")
            and d.rsplit("_v", 1)[1].isdigit()
            # a crashed mid-write snapshot has no commit marker; its
            # batch will re-run (checkpoint uncommitted), so resume
            # from the last COMMITTED snapshot only
            and os.path.exists(os.path.join(workdir, d, "_SUCCESS"))
        ]
        if versions:
            latest = os.path.join(workdir, f"snapshot_v{max(versions)}")
    state = {"path": latest}

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        cur = (
            spark.read.parquet(state["path"])
            if state["path"] is not None
            else base
        )
        new = apply_changes(cur, batch_df, keys, order_key, payload_cols)
        out = os.path.join(workdir, f"snapshot_v{batch_id}")
        new.write.mode("overwrite").parquet(out)
        state["path"] = out

    # The fold's epoch jobs are changelog-sized joins: run at the floor
    # width, whatever the changelog's on-disk size.
    run_stream(
        change_stream,
        "append",
        batch_fn=fold,
        checkpoint=os.path.join(workdir, "_checkpoint"),
        state_partitions=STREAM_STATE_PARTITIONS,
    )
    if state["path"] is None:  # empty stream: snapshot is the base
        return base.select(*keys, *payload_cols)
    return spark.read.parquet(state["path"]).select(*keys, *payload_cols)
