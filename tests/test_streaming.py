"""Streaming-surface tests: stream/batch parity, stateful operator,
generator spouts (SURVEY.md §5.2 streaming level)."""

import os
import time

import pytest
from pyspark.sql import functions as F

from storm_bench_spark.plans.registry import all_queries
from storm_bench_spark.streaming.generators import pageview_stream, random_message_stream
from storm_bench_spark.streaming.streams import run_to_memory
from tests.conftest import SF_DIR
from tests.oracle_utils import assert_frames_match


def test_stream_batch_parity_rolling_count(spark):
    qs = all_queries()
    batch = qs["rolling_count"](spark, SF_DIR).toPandas()
    stream = qs["streaming_rolling_count"](spark, SF_DIR).toPandas()
    assert_frames_match(stream, batch, "rolling_count stream/batch parity")


def test_trident_wordcount_equals_batch(spark):
    qs = all_queries()
    batch = qs["wordcount"](spark, SF_DIR).toPandas()
    stream = qs["trident_wordcount"](spark, SF_DIR).toPandas()
    assert_frames_match(stream, batch, "wordcount trident parity")


def test_stateful_running_count_matches_groupby(spark):
    qs = all_queries()
    out = qs["stateful_running_count"](spark, SF_DIR).toPandas()
    from storm_bench_spark.sources.tables import load_table

    expect = (
        load_table(spark, SF_DIR, "events")
        .groupBy(F.col("event_type").alias("key"))
        .agg(F.count("*").alias("cnt"))
        .toPandas()
    )
    assert_frames_match(out, expect, "stateful running count")


def test_stream_batch_parity_unique_visitor(spark):
    """Windowed COUNT DISTINCT through the streaming engine.

    Structured Streaming rejects countDistinct; size(collect_set()) is
    the supported spelling of the same set-cardinality monoid (the
    SetReducer — SetReducer.java:31-33). Result must equal the batch
    twin exactly.
    """
    from storm_bench_spark.operators.windows import sliding_agg
    from storm_bench_spark.sources import derived as D
    from storm_bench_spark.streaming.streams import stream_table

    pv = D.pageviews(spark, SF_DIR, stream_table)
    win = sliding_agg(
        pv.select("sec", "url", "user_id"), 3600, 600, ["url"],
        [F.size(F.collect_set("user_id")).alias("uniques")],
    )
    stream = run_to_memory(win, output_mode="complete").toPandas()
    batch = all_queries()["unique_visitor"](spark, SF_DIR).toPandas()
    assert_frames_match(stream, batch, "unique_visitor stream/batch parity")


def test_stream_batch_parity_hashtag_count(spark):
    qs = all_queries()
    batch = qs["rolling_hashtag_count"](spark, SF_DIR).toPandas()
    stream = qs["streaming_hashtag_count"](spark, SF_DIR).toPandas()
    assert_frames_match(stream, batch, "hashtag stream/batch parity")


def test_stream_batch_parity_rolling_sort(spark):
    qs = all_queries()
    batch = qs["rolling_sort"](spark, SF_DIR).toPandas()
    stream = qs["streaming_rolling_sort"](spark, SF_DIR).toPandas()
    assert_frames_match(stream, batch, "rolling_sort stream/batch parity")


def test_streaming_sol_preserves_rows(spark):
    qs = all_queries()
    batch = qs["sol"](spark, SF_DIR).toPandas()
    stream = qs["streaming_sol"](spark, SF_DIR).toPandas()
    assert sorted(stream["message"]) == sorted(batch["message"])


def test_stream_batch_parity_flight_dist(spark):
    qs = all_queries()
    batch = qs["rolling_flight_dist"](spark, SF_DIR).toPandas()
    stream = qs["streaming_flight_dist"](spark, SF_DIR).toPandas()
    assert_frames_match(stream, batch, "flight_dist stream/batch parity")


def test_file_replay_stream_cycles(spark, tmp_path):
    from storm_bench_spark.streaming.generators import file_replay_stream

    lines = [f"sentence number {i}" for i in range(5)]
    p = tmp_path / "book.txt"
    p.write_text("\n".join(lines) + "\n")
    out = _drain_rate_stream(
        file_replay_stream(spark, str(p), rows_per_second=500),
        min_rows=20,
        query_name="gen_file_replay",
    ).toPandas()
    # cyclic replay: after >= 4 cycles every line has appeared, and
    # nothing outside the file ever appears
    assert set(out["sentence"]) == set(lines)


def test_watermark_drops_late_rows(spark, tmp_path):
    """Event-time + watermark: a row arriving after the watermark passed
    its window is dropped (documented stronger-than-reference
    semantics — the reference's wall-clock slots have no late-data
    story at all)."""
    import os
    import tempfile
    import uuid

    from storm_bench_spark.operators.windows import sliding_agg

    data_dir = tmp_path / "in"
    data_dir.mkdir()
    # Three files = three micro-batches (maxFilesPerTrigger=1). The
    # late-event filter uses the watermark as of TWO commits back
    # (watermarkForLateEvents lags the eviction watermark by a batch),
    # so the late row goes in batch 3, two batches after the on-time
    # data that advanced the watermark.
    batches = [
        [(1000, "k"), (1010, "k"), (1050, "k")],  # watermark → 1040
        [(5000, "k")],                            # watermark → 4990
        [(0, "late")],                            # 0 < 1040 ⇒ dropped
    ]
    for age, rows in enumerate(batches):
        before = set(os.listdir(data_dir))
        spark.createDataFrame(rows, schema="sec long, key string").coalesce(
            1
        ).write.mode("append").parquet(str(data_dir))
        # file source orders batches by modification time: age earlier files
        for f in set(os.listdir(data_dir)) - before:
            p = data_dir / f
            shift = (len(batches) - age) * 3600
            os.utime(p, (p.stat().st_mtime - shift, p.stat().st_mtime - shift))

    stream = (
        spark.readStream.schema("sec long, key string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(data_dir))
    )
    win = sliding_agg(
        stream, 60, 30, ["key"], [F.count("*").alias("cnt")],
        watermark="10 seconds",
    )
    name = f"wm_{uuid.uuid4().hex[:8]}"
    q = (
        win.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="sbs_wm_"))
        .start()
    )
    q.awaitTermination()
    out = spark.table(name).toPandas()
    # on-time windows finalized once the watermark passed them
    assert (out["key"] == "k").any()
    assert set(out[out["key"] == "k"]["ws"]) >= {990, 1020}
    # the late row's windows (ws 0 / -30) must never appear
    assert not (out["key"] == "late").any()


def _drain_rate_stream(df, min_rows=1, timeout=60.0, query_name="gen_test"):
    """Run the stream until the memory sink holds ``min_rows`` (the rate
    source is wall-clock driven, so a fixed sleep is flaky under load)."""
    spark = df.sparkSession
    q = (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + timeout
        while time.time() < deadline:
            if spark.table(query_name).limit(min_rows).count() >= min_rows:
                break
            time.sleep(0.25)
    finally:
        q.stop()
    return spark.table(query_name)


def test_random_message_stream_shape(spark):
    out = _drain_rate_stream(
        random_message_stream(spark, size_bytes=100, rows_per_second=500),
        query_name="gen_msgs",
    ).toPandas()
    assert len(out) > 0
    assert (out["message"].str.len() == 100).all()
    assert out["message"].str.fullmatch(r"\d{100}").all()


def test_pageview_stream_distributions(spark):
    out = _drain_rate_stream(
        pageview_stream(spark, rows_per_second=500), query_name="gen_pv"
    ).toPandas()
    assert len(out) > 0
    assert set(out["url"]) <= {"foo.com", "foo.news.com", "foo.contact.com"}
    assert set(out["http_status"]) <= {200, 404}
    assert (out["page_view"].str.count("\t") == 3).all()


def test_processing_time_mode_reaches_same_final_state(spark):
    """SURVEY §4.3.2 benchmark-fidelity switch: a wall-clock
    (processingTime) trigger must converge to the same final state the
    availableNow run produces — cadence changes, results don't."""
    from storm_bench_spark.functions.text import word_split
    from storm_bench_spark.streaming.streams import stream_table

    docs = stream_table(spark, SF_DIR, "documents")
    words = docs.select(F.explode(word_split("text")).alias("word"))
    counts = words.groupBy("word").agg(F.count("*").alias("cnt"))
    via_proc = run_to_memory(
        counts, output_mode="complete", processing_time="1 seconds"
    ).toPandas()
    batch = all_queries()["wordcount"](spark, SF_DIR).toPandas()
    assert_frames_match(via_proc, batch, "processing-time wordcount")


def test_funnel_state_raises_on_out_of_order_batches(spark, tmp_path):
    """The funnel stage machine's cross-batch precondition is enforced:
    a micro-batch delivering an event EARLIER than the high-water
    (sec, event_id) mark of a prior batch must raise, not silently
    diverge from the batch oracle (a view arriving after its click was
    processed would never match)."""
    import os

    from pyspark.sql import Row

    from storm_bench_spark.streaming.stateful import funnel_state

    batches = [
        # batch 1 (newest mtime → read FIRST... mtime order: Spark
        # reads oldest-first, so make the LATER seconds the OLDER file)
        [Row(user_id=1, sec=100, event_id=2, event_type="click")],
        [Row(user_id=1, sec=50, event_id=1, event_type="view")],
    ]
    data_dir = tmp_path / "funnel_in"
    data_dir.mkdir()
    for age, rows in enumerate(batches):
        before = set(os.listdir(data_dir))
        spark.createDataFrame(rows).coalesce(1).write.mode("append").parquet(str(data_dir))
        for f in set(os.listdir(data_dir)) - before:
            p = data_dir / f
            shift = (len(batches) - age) * 3600
            os.utime(p, (p.stat().st_mtime - shift, p.stat().st_mtime - shift))

    schema = spark.createDataFrame(batches[0]).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(data_dir))
    )
    q = (
        funnel_state(stream)
        .writeStream.format("memory")
        .queryName("funnel_ooo")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="out-of-order micro-batch"):
        q.awaitTermination()


def _funnel_over_batches(spark, tmp_path, batches):
    """Run ``funnel_state`` over ``batches`` (lists of
    (user_id, sec, event_id, event_type)), one micro-batch each, in
    list order; returns the emitted rows."""
    import os

    from storm_bench_spark.streaming.stateful import funnel_state

    cols = ["user_id", "sec", "event_id", "event_type"]
    data_dir = tmp_path / "funnel_in"
    data_dir.mkdir()
    for age, rows in enumerate(batches):
        before = set(os.listdir(data_dir))
        spark.createDataFrame(rows, cols).coalesce(1).write.mode("append").parquet(str(data_dir))
        # the file source reads oldest mtime first
        for f in set(os.listdir(data_dir)) - before:
            p = data_dir / f
            shift = (len(batches) - age) * 3600
            os.utime(p, (p.stat().st_mtime - shift, p.stat().st_mtime - shift))
    schema = spark.createDataFrame(batches[0], cols).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(str(data_dir))
    return run_to_memory(funnel_state(stream), output_mode="append").collect()


def _two_users_in_one_shard(spark):
    from storm_bench_spark.streaming.stateful import FUNNEL_SHARDS

    seen = {}
    for r in spark.range(1, 1000).select(
        "id", F.pmod(F.hash("id"), F.lit(FUNNEL_SHARDS)).alias("shard")
    ).collect():
        if r.shard in seen:
            return seen[r.shard], r.id
        seen[r.shard] = r.id
    raise AssertionError("no two users share a shard")


def test_funnel_state_names_the_user_that_went_backwards(spark, tmp_path):
    """The ordering precondition is per user: in one shard, user A's
    batch 2 goes back past A's own high-water mark, user B's does not;
    the query raises and names A."""
    a, b = _two_users_in_one_shard(spark)
    batches = [
        [(a, 100, 1, "view"), (b, 10, 2, "view")],
        [(a, 50, 3, "click"), (b, 20, 4, "click")],
    ]
    with pytest.raises(Exception, match=rf"out-of-order micro-batch for key \({a},\)"):
        _funnel_over_batches(spark, tmp_path, batches)


def test_funnel_state_keeps_a_high_water_mark_per_user(spark, tmp_path):
    """In one shard, user B's batch-2 events are older than user A's
    high-water mark but newer than B's own: that is in order, so no
    error, and both users advance. A null user_id is one more machine."""
    a, b = _two_users_in_one_shard(spark)
    batches = [
        [(a, 100, 1, "view"), (b, 10, 2, "view"), (None, 30, 5, "view")],
        [(b, 20, 3, "click"), (a, 110, 4, "click"), (None, 40, 6, "click")],
    ]
    rows = _funnel_over_batches(spark, tmp_path, batches)
    got = sorted(((r.user_id, r.v, r.c, r.p) for r in rows), key=str)
    assert got == sorted(
        [
            (a, 100, None, None), (b, 10, None, None), (None, 30, None, None),
            (a, 100, 110, None), (b, 10, 20, None), (None, 30, 40, None),
        ],
        key=str,
    )


def test_with_processing_time_stamps_arrival_seconds(spark):
    from storm_bench_spark.streaming.streams import with_processing_time

    df = with_processing_time(spark.range(5))
    rows = df.collect()
    assert all(r["proc_sec"] > 1_500_000_000 for r in rows)
    # windows over the stamp put every row in the arrival bucket: one
    # slide-bucket (or two across a boundary) holds the whole batch
    from storm_bench_spark.operators.windows import sliding_agg

    win = sliding_agg(df.select(F.col("proc_sec").alias("sec"), "id"), 60, 10, [], [F.count("*").alias("c")])
    total = sum(r["c"] for r in win.collect())
    assert total == 5 * (60 // 10)  # every row in all 6 overlapping windows


def test_streaming_cdc_folds_across_real_epochs(spark, tmp_path):
    """apply_changes_stream must process MULTIPLE micro-batches (one per
    input file) and leave one versioned snapshot per epoch, with the
    final fold equal to the batch operator over the full changelog."""
    import os

    from pyspark.sql import Row

    from storm_bench_spark.operators.cdc import apply_changes
    from storm_bench_spark.streaming.cdc_stream import apply_changes_stream

    base = spark.createDataFrame([Row(k=i, val=f"base{i}") for i in range(5)])
    batches = [
        [Row(k=1, sec=10, cid=1, op="upsert", val="v1")],
        [Row(k=2, sec=20, cid=2, op="delete", val=None),
         Row(k=1, sec=21, cid=3, op="upsert", val="v2")],
        [Row(k=9, sec=30, cid=4, op="upsert", val="new9")],
    ]
    data_dir = tmp_path / "cdc_in"
    data_dir.mkdir()
    for age, rows in enumerate(batches):
        before = set(os.listdir(data_dir))
        spark.createDataFrame(rows).coalesce(1).write.mode("append").parquet(
            str(data_dir)
        )
        for f in set(os.listdir(data_dir)) - before:
            p = data_dir / f
            shift = (len(batches) - age) * 3600
            os.utime(p, (p.stat().st_mtime - shift, p.stat().st_mtime - shift))

    schema = spark.createDataFrame(batches[1]).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(data_dir))
    )
    workdir = str(tmp_path / "snapshots")
    os.makedirs(workdir)
    got = apply_changes_stream(
        base, stream, ["k"], F.struct("sec", "cid"), ["val"], workdir=workdir
    )
    versions = [d for d in os.listdir(workdir) if d.startswith("snapshot_v")]
    assert len(versions) == 3, versions  # one epoch per file — real increments
    want = apply_changes(
        base.select("k", F.col("val")),
        spark.createDataFrame([r for b in batches for r in b]),
        ["k"], F.struct("sec", "cid"), ["val"],
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # Recovery contract: re-running with the SAME workdir must NOT
    # discard the applied epochs. The checkpoint skips the committed
    # batches, so a fresh call's in-memory state starts empty — the
    # fold must resume from the highest committed snapshot_v*, not
    # silently return `base` (the round-4 ADVICE data-loss trap).
    again = apply_changes_stream(
        base, stream, ["k"], F.struct("sec", "cid"), ["val"], workdir=workdir
    )
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, want.collect()))

    # And new changes arriving after the restart fold ON TOP of the
    # recovered snapshot (not on top of base).
    extra = [Row(k=3, sec=40, cid=5, op="upsert", val="v3late")]
    spark.createDataFrame(extra).coalesce(1).write.mode("append").parquet(str(data_dir))
    third = apply_changes_stream(
        base, stream, ["k"], F.struct("sec", "cid"), ["val"], workdir=workdir
    )
    want_all = apply_changes(
        base.select("k", F.col("val")),
        spark.createDataFrame([r for b in batches for r in b] + extra),
        ["k"], F.struct("sec", "cid"), ["val"],
    )
    assert sorted(map(tuple, third.collect())) == sorted(map(tuple, want_all.collect()))


# --- state-partition sizing (streams.py:state_partitions_for) ------------
# The VERDICT r5 #8 rule shipped in round 6 without a test; these pin
# both regimes and the cap, and that each stream is sized from the
# file sources in its own plan.

def test_state_partitions_small_regime_floor(spark):
    from storm_bench_spark.streaming import streams as S

    floor = S.STREAM_STATE_PARTITIONS
    boundary = S.STREAM_STATE_TARGET_BYTES * floor
    assert S.state_partitions_for(spark, 0) == floor
    assert S.state_partitions_for(spark, boundary) == floor  # inclusive


def test_state_partitions_data_sized_regime(spark):
    from storm_bench_spark.streaming import streams as S

    par = spark.sparkContext.defaultParallelism
    boundary = S.STREAM_STATE_TARGET_BYTES * S.STREAM_STATE_PARTITIONS
    # Just past the boundary: never fewer stores than cores, and the
    # by-volume count (boundary/32MiB rounds up to floor+1) only adds.
    just_past = S.state_partitions_for(spark, boundary + 1)
    assert just_past == max(par, min(S.STREAM_STATE_PARTITIONS + 1, 4 * par))
    # Volume-driven growth between the floors: 2x cores worth of
    # 32 MiB blocks yields exactly 2x cores partitions.
    mid = S.STREAM_STATE_TARGET_BYTES * 2 * par
    assert S.state_partitions_for(spark, mid) == 2 * par
    # The 4x-cores cap holds no matter the volume.
    assert S.state_partitions_for(spark, S.STREAM_STATE_TARGET_BYTES * 100 * par) == 4 * par


def test_rerun_on_own_checkpoint_reads_nothing_and_passes(spark, tmp_path):
    """A stream_table run resumed on a checkpoint that already
    committed every file reads 0 rows; that is a valid run, not the
    silent empty stream the guard exists for."""
    from storm_bench_spark.streaming import streams as S

    ckpt = str(tmp_path / "ckpt")
    rows = []
    for _ in range(2):
        S.run_stream(
            S.stream_table(spark, SF_DIR, "documents"),
            "append",
            batch_fn=lambda batch_df, batch_id: batch_df.count(),
            checkpoint=ckpt,
        )
        assert S.LAST_STREAM_RUNS[-1]["input_bytes"] > 0
        rows.append(S.LAST_STREAM_RUNS[-1]["num_input_rows"])
    assert rows[0] > 0 and rows[1] == 0


def test_fresh_run_reading_nothing_from_a_nonempty_source_raises(spark, tmp_path):
    """The guard still fires on a fresh run: a 0-row parquet file has
    bytes on disk, so a stream that reads no rows from it is caught."""
    d = str(tmp_path / "empty")
    spark.createDataFrame([], "k string").write.parquet(d)
    sdf = spark.readStream.schema("k string").parquet(d)
    with pytest.raises(RuntimeError, match="read 0 input rows"):
        run_to_memory(sdf, output_mode="append")


def test_failed_build_leaves_the_next_stream_its_own_bytes(spark, tmp_path):
    """A query that fails after stream_table leaves nothing behind: the
    next stream is sized from its own plan only."""
    from pyspark.sql import Row

    from storm_bench_spark.sources.tables import _path_bytes
    from storm_bench_spark.streaming import streams as S

    with pytest.raises(ValueError):
        S.stream_table(spark, SF_DIR, "events")
        raise ValueError("build failed after stream_table")
    d = str(tmp_path / "t")
    spark.createDataFrame([Row(k="a"), Row(k="b")]).write.parquet(d)
    run_to_memory(spark.readStream.schema("k string").parquet(d).groupBy("k").count())
    assert S.LAST_STREAM_RUNS[-1]["input_bytes"] == _path_bytes(d) > 0


def test_input_bytes_count_only_glob_matching_files(spark):
    """A fixture table streams as its sf dir filtered by pathGlobFilter;
    only the one matching file counts, not the other tables beside it."""
    from storm_bench_spark.sources.tables import _path_bytes
    from storm_bench_spark.streaming import streams as S

    n = S._stream_input_bytes(S.stream_table(spark, SF_DIR, "events"))
    assert n == os.path.getsize(os.path.join(SF_DIR, "events.parquet"))
    assert n < _path_bytes(SF_DIR)


def test_input_bytes_skip_a_file_renamed_after_the_listing(tmp_path, monkeypatch):
    """An open-loop writer renames ``.part-N`` to ``part-N`` while a
    stream starts on the directory; a file listed before the rename is
    gone when it is sized, and counts as 0 bytes instead of raising."""
    from storm_bench_spark.sources import tables

    (tmp_path / "part-00000.parquet").write_bytes(b"x" * 10)
    listing = [(str(tmp_path), [], [".part-00001.parquet", "part-00000.parquet"])]
    monkeypatch.setattr(tables.os, "walk", lambda path: iter(listing))
    assert tables._path_bytes(str(tmp_path)) == 10


def _run_row(spark, name: str) -> list[dict]:
    """Run one registry row to completion; return the stream run
    records it appended."""
    from storm_bench_spark.streaming.streams import LAST_STREAM_RUNS

    before = list(LAST_STREAM_RUNS)
    all_queries()[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
    return [r for r in LAST_STREAM_RUNS if not any(r is b for b in before)]


def test_rolling_sort_leaves_no_bytes_and_a_run_record(spark):
    """streaming_rolling_sort runs a foreachBatch sink: it must still
    leave a run record, or the bench stamps the row's stream floor as
    0, and the stream after it must be sized from its own input."""
    recs = _run_row(spark, "streaming_rolling_sort")
    assert len(recs) == 1
    assert recs[0]["num_input_rows"] > 0
    assert recs[0]["input_bytes"] == os.path.getsize(
        os.path.join(SF_DIR, "events.parquet")
    )
    # the row that follows records its own input, not the sort's
    (wc,) = _run_row(spark, "trident_wordcount")
    assert wc["input_bytes"] == os.path.getsize(
        os.path.join(SF_DIR, "documents.parquet")
    )


def test_every_streaming_row_writes_the_full_run_record(spark, tmp_path):
    """One run path: every streaming registry row appends exactly one
    run record with the key set run_to_memory writes (the CDC fold and
    the foreachBatch sort included), sized from the largest table it
    streams. Max, not sum: streaming_dedup and streaming_interval_join
    stream events twice. The CDC fold streams a changelog it writes
    itself."""
    from pyspark.sql import Row

    from storm_bench_spark.streaming import streams as S

    def size(table: str) -> int:
        return os.path.getsize(os.path.join(SF_DIR, f"{table}.parquet"))

    streamed = {
        "streaming_enriched_revenue": "orders",
        **dict.fromkeys(
            (
                "streaming_hashtag_count", "streaming_heavy_hitters",
                "streaming_rolling_count", "streaming_weighted_sample",
                "trident_wordcount",
            ),
            "documents",
        ),
    }

    spark.createDataFrame([Row(k="a")]).write.parquet(str(tmp_path / "t"))
    probe = spark.readStream.schema("k string").parquet(str(tmp_path / "t"))
    run_to_memory(probe.groupBy("k").count())
    want = set(S.last_stream_diagnostics()[-1])
    rows = [
        n for n in all_queries()
        if n.startswith(("streaming_", "trident_", "stateful_"))
    ]
    assert len(rows) >= 22
    for n in rows:
        recs = _run_row(spark, n)
        assert len(recs) == 1, (n, recs)
        assert set(recs[0]) == want, (n, sorted(set(recs[0]) ^ want))
        if n == "streaming_cdc_apply":
            assert recs[0]["input_bytes"] > 0
        else:
            assert recs[0]["input_bytes"] == size(streamed.get(n, "events")), n


def test_stream_diagnostics_recorded(spark):
    """Flake post-mortem breadcrumbs (VERDICT r7 next #1): every
    run_to_memory leaves a progress record — batches, input rows,
    final state rows — so a future one-off oracle mismatch on a
    streaming row has more than a value diff to go on."""
    from storm_bench_spark.streaming import streams as S

    qs = all_queries()
    qs["streaming_flight_dist"](spark, SF_DIR)
    rec = S.last_stream_diagnostics()[-1]
    assert rec["n_batches"] >= 1
    assert rec["num_input_rows"] > 0
    assert rec["input_bytes"] > 0
    assert rec["final_state_operators"], "stateful agg must report state rows"
    assert rec["final_state_operators"][0]["numRowsTotal"] > 0
    # the stream's own physical plan, not the batch read of its sink
    assert "StateStoreSave" in rec["plan"], rec["plan"]


def test_stream_table_reads_directory_shaped_tables(spark, tmp_path):
    """A Spark-written table is a DIRECTORY of part files; the glob
    spelling (pathGlobFilter={name}.parquet over the sf dir) matches
    the directory name but zero leaf files, so the stream silently
    read nothing — caught by the round-8 silent-empty-stream guard on
    the first streaming run over a replicated fixture. stream_table
    must handle both shapes."""
    from pyspark.sql import Row

    from storm_bench_spark.streaming.streams import run_to_memory, stream_table

    d = tmp_path / "sfdir"
    d.mkdir()
    spark.createDataFrame(
        [Row(event_type="a", user_id=1, ts=0), Row(event_type="b", user_id=2, ts=0)],
        schema="event_type string, user_id long, ts long",
    ).repartition(2).write.parquet(str(d / "events.parquet"))
    out = run_to_memory(
        stream_table(spark, str(d), "events").groupBy("event_type").count(),
        output_mode="complete",
    )
    assert sorted((r["event_type"], r["count"]) for r in out.collect()) == [
        ("a", 1), ("b", 1),
    ]


def test_streaming_weighted_sample_multibatch_eviction(spark):
    """The gated fixture streams in ONE micro-batch, which never
    exercises the operator's defining behavior: a later batch's better
    key must EVICT an earlier top-n member from shard state. Split a
    synthetic corpus into 3 files, force one file per trigger, and
    require (a) 3 micro-batches actually ran, (b) the final snapshot
    equals the batch A-ES top-n exactly (set-max fold ⇒ batch-boundary
    independence)."""
    import tempfile

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from storm_bench_spark.plans.pipeline import wsmp_keyed
    from storm_bench_spark.streaming.stateful import topn_state
    from storm_bench_spark.streaming.streams import LAST_STREAM_RUNS, run_to_memory

    N = 50
    docs = spark.range(600).select(
        F.col("id").alias("doc_id"), (F.col("id") % 1000 + 50).alias("n_chars")
    )
    d = tempfile.mkdtemp(prefix="sbs_wsmp_stream_")
    for i in range(3):
        docs.where(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(d)

    stream = (
        spark.readStream.schema("doc_id long, n_chars long")
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    keyed = wsmp_keyed(stream).withColumn("shard", F.col("k") % 8)
    emitted = run_to_memory(topn_state(keyed, N), output_mode="append")
    assert LAST_STREAM_RUNS[-1]["n_batches"] == 3
    latest = emitted.withColumn(
        "mx", F.max("seq").over(Window.partitionBy("shard"))
    ).where(F.col("seq") == F.col("mx"))
    got = [
        (r["doc_id"], r["wt"], r["k"])
        for r in latest.orderBy(F.desc("k"), F.asc("doc_id")).limit(N).collect()
    ]
    want = [
        (r["doc_id"], r["wt"], r["k"])
        for r in wsmp_keyed(spark.read.parquet(d))
        .orderBy(F.desc("k"), F.asc("doc_id"))
        .limit(N)
        .collect()
    ]
    assert got == want
    # and the state really is bounded: no shard's final emission
    # exceeds N rows
    per_shard = latest.groupBy("shard").count().collect()
    assert all(r["count"] <= N for r in per_shard)


def test_session_gap_boundary_batch_and_stream(spark, duck, tmp_path):
    """Events 1799, 1800 and 1801 s apart: ``session_window`` merges a
    gap of at most SESSION_GAP_SEC, in batch and in streaming alike, and
    the oracle splits at the same place."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from storm_bench_spark.plans.relational import SESSION_GAP_SEC, USER_SESSIONS_ORACLE

    t0 = datetime.datetime(2024, 1, 7, 12, 0, 0)
    gaps = {1: SESSION_GAP_SEC - 1, 2: SESSION_GAP_SEC, 3: SESSION_GAP_SEC + 1}
    rows = [(u, t0 + datetime.timedelta(seconds=dt)) for u, g in gaps.items() for dt in (0, g)]
    schema = pq.read_schema(os.path.join(SF_DIR, "events.parquet")).remove_metadata()
    table = pa.table(
        {
            "event_id": [i for i in range(len(rows))],
            "ts": [ts for _, ts in rows],
            "user_id": [u for u, _ in rows],
            "event_type": ["view"] * len(rows),
            "value": [1.0] * len(rows),
            "props": ["{}"] * len(rows),
        },
        schema=schema,
    )
    pq.write_table(table, tmp_path / "events.parquet")

    duck.execute(f"CREATE OR REPLACE TEMP VIEW gap_events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')")
    oracle = duck.execute(USER_SESSIONS_ORACLE.replace("FROM events", "FROM gap_events")).fetchdf()
    start = int(t0.replace(tzinfo=datetime.timezone.utc).timestamp())
    assert sorted(oracle[["user_id", "n_events", "duration_sec"]].itertuples(index=False, name=None)) == [
        (1, 2, SESSION_GAP_SEC - 1),
        (2, 2, SESSION_GAP_SEC),
        (3, 1, 0),
        (3, 1, 0),
    ]
    assert set(oracle["session_start"]) == {start, start + SESSION_GAP_SEC + 1}

    qs = all_queries()
    for name in ("user_sessions", "streaming_user_sessions"):
        assert_frames_match(qs[name](spark, str(tmp_path)).toPandas(), oracle, name)
