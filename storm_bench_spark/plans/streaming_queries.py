"""Registered queries that execute through Structured Streaming.

A streaming twin is its batch twin's code run incrementally: it
derives the same wire format with the same ``sources.derived``
function, reading ``stream_table`` where the batch row reads
``load_table``; passes it through the batch twin's operator body (the
``plans.topologies`` helpers); and runs the result with
``run_to_memory`` or ``run_stream``. The driver's oracle gate
therefore also certifies the streaming path (micro-batch epochs, state
store, exactly-once sink semantics — the Trident topology's contract,
TridentWordCount.java:36-52). Where a twin's operator has to differ —
a streaming plan cannot hold the batch plan's shape — one comment at
the call says why.
"""

from __future__ import annotations

from operator import itemgetter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from storm_bench_spark.operators.flightdist import flight_dist_from_latest, latest_positions
from storm_bench_spark.operators.windows import sliding_agg
from storm_bench_spark.plans import topologies as T
from storm_bench_spark.plans.registry import register
from storm_bench_spark.sources import derived as D
from storm_bench_spark.streaming.stateful import running_count
from storm_bench_spark.streaming.streams import (
    run_stream,
    run_to_memory,
    stream_table,
)


# --- 2. TridentWordCount (TridentWordCount.java:36-52) -------------------

@register("trident_wordcount", oracle=T.WORDCOUNT_ORACLE)
def trident_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Micro-batched, checkpointed, exactly-once word count.

    The Trident topology's persistentAggregate(MemoryMapState, Count)
    is Structured Streaming's native model: transactional batch ids +
    state-store commits per epoch. Complete-mode memory sink holds the
    final state the oracle checks.
    """
    counts = T._word_counts(stream_table(spark, sf_dir, "documents"))
    return run_to_memory(counts, output_mode="complete")


# --- streaming twin of rolling_count (stream/batch parity in the gate) ---

@register(
    "streaming_rolling_count",
    # The availableNow file stream processes the table in one epoch, so
    # the complete-mode final state equals the batch result — the batch
    # topology's oracle verifies the streaming path too (the pytest
    # parity test asserts the same equality engine-side).
    oracle=T.ROLLING_COUNT_ORACLE,
)
def streaming_rolling_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rolling_count executed through the streaming engine (event-time
    window state + availableNow), complete-mode snapshot."""
    words = T._doc_words(D.documents_ts(spark, sf_dir, stream_table))
    # sliding_agg, not the batch's sliding_agg_twophase: its two chained
    # aggregations are not a valid complete-mode streaming plan
    win = sliding_agg(words, 60, 10, ["word"], [F.count("*").alias("cnt")])
    return run_to_memory(win, output_mode="complete")


# --- streaming RollingFlightDist (the hardest topology, streamed) --------

@register(
    "streaming_flight_dist",
    # identical final state ⇒ the batch topology's oracle verifies the
    # streaming path too
    oracle=T.FLIGHT_DIST_ORACLE,
    doc="streaming twin of rolling_flight_dist",
)
def streaming_flight_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rolling_flight_dist through the streaming engine: the flightMap
    state (latest position per aircraft) is a streaming ``max_by``
    aggregation in the state store (complete-mode snapshot ≙ the
    DistFilterBolt upsert map, RollingFlightDist.java:213-219); the
    pair/dead-reckon/threshold/top-k probe then runs on the snapshot —
    exactly the reference's tick-time probe against current state.

    Registered with the batch topology's full oracle (identical final
    state); ``tests/test_streaming.py`` additionally asserts equality
    with the batch topology's result engine-side.
    """
    fl = D.adsb_flights(spark, sf_dir, stream_table)
    snapshot = run_to_memory(latest_positions(fl), output_mode="complete")
    return T._flight_top_k(flight_dist_from_latest(snapshot, **T.FLIGHT_PROBE))


# --- streaming RollingSort (per-trigger sort via foreachBatch) -----------

@register(
    "streaming_rolling_sort",
    # availableNow buffers the whole table into the single trigger, so
    # the per-trigger sort equals the batch topology's global sort.
    oracle=T.ROLLING_SORT_ORACLE,
    doc="per-trigger buffered sort + top-k (RollingSort through foreachBatch)",
)
def streaming_rolling_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RollingSort's tick semantics — sort whatever the trigger
    buffered, emit the top rows (SURVEY.md §4.3.3) — as a foreachBatch
    sink: global sorts are not allowed inside a streaming plan, so each
    micro-batch is sorted as a batch DataFrame, exactly the per-tick
    ring-buffer sort. Returns the merged top-k; parity with the batch
    topology is asserted in tests."""
    m = D.messages(spark, sf_dir, stream_table).select("event_id", "message")

    per_trigger: list[list] = []

    def sort_batch(batch_df, batch_id: int) -> None:
        per_trigger.append(T._sorted_top(batch_df).collect())

    run_stream(m, "append", batch_fn=sort_batch)
    # merge across triggers: availableNow is one batch for the
    # single-file fixture, but with maxFilesPerTrigger (or a multi-file
    # table) the global top-k spans batches — re-sort the union of the
    # per-trigger tops by the same order rather than trusting the last
    # batch alone
    merged = sorted(
        (r for rows in per_trigger for r in rows),
        key=itemgetter(*T.ROLLING_SORT_ORDER),
    )[: T.ROLLING_SORT_TOP]
    return spark.createDataFrame(merged, schema="event_id long, message string")


# --- streaming SOL (shuffle chain through the streaming engine) ----------

@register(
    "streaming_sol",
    oracle=T.SOL_ORACLE,
    doc="identity shuffle chain through the streaming engine",
)
def streaming_sol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOL's identity-bolt chain with an exchange between levels,
    executed per micro-batch (repartition is legal inside a streaming
    plan; each trigger pays the same shuffles the batch query does)."""
    chain = T._sol_chain(D.messages(spark, sf_dir, stream_table))
    return run_to_memory(chain, output_mode="append")


# --- stream-stream interval join (watermarked two-store join) ------------

from storm_bench_spark.plans.relational import INTERVAL_CLICK_ERROR_ORACLE


@register(
    "streaming_interval_join",
    # availableNow drains both sides fully, so the inner-join result
    # equals the batch interval join — the same oracle verifies the
    # watermarked two-state-store path.
    oracle=INTERVAL_CLICK_ERROR_ORACLE,
    doc="watermarked stream-stream interval join (twin of interval_click_error)",
)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """interval_click_error through TWO streams: each side keeps a
    watermark-bounded state store and the join condition carries the
    time range, so Spark can evict state once the watermark passes —
    the canonical stream-stream join shape (SURVEY §2.9 keyed state ×2).
    Inner join + availableNow ⇒ final result equals the batch bucket
    join, which the oracle checks."""
    from storm_bench_spark.plans.relational import INTERVAL_DELTA_SEC

    # Not the batch twin's interval_join: its time-bucket equi-join
    # gives a stream-stream join no time bound to evict state by, so
    # each side is watermarked and the range is the join condition.
    def side(event_type: str, prefix: str) -> DataFrame:
        e = D.events_sec(spark, sf_dir, stream_table).where(
            F.col("event_type") == event_type
        )
        # join on whole seconds (``sec``), not raw sub-second ts: the
        # batch twin and the oracle compare |floor(a) - floor(b)| <=
        # delta, and raw ts would disagree for pairs whose floored gap
        # is exactly delta (data-dependent red cell)
        return e.select(
            F.col("event_id").alias(f"{prefix}_id"),
            F.col("user_id").alias(f"{prefix}_user"),
            F.timestamp_seconds(F.col("sec")).alias(f"{prefix}_ts"),
        ).withWatermark(f"{prefix}_ts", "1 hour")

    a = side("click", "a")
    b = side("error", "b")
    j = a.join(
        b,
        (F.col("a_user") == F.col("b_user"))
        & (F.col("b_ts") >= F.col("a_ts") - F.expr(f"INTERVAL {INTERVAL_DELTA_SEC} SECONDS"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr(f"INTERVAL {INTERVAL_DELTA_SEC} SECONDS")),
    )
    out = run_to_memory(j, output_mode="append")
    a_sec = F.col("a_ts").cast("long")
    b_sec = F.col("b_ts").cast("long")
    return out.select(
        F.col("a_user").alias("user_id"),
        "a_id",
        "b_id",
        a_sec.alias("a_sec"),
        b_sec.alias("b_sec"),
        F.abs(a_sec - b_sec).alias("gap_sec"),
    )


# --- custom stateful operator (applyInPandasWithState) -------------------

@register(
    "stateful_running_count",
    oracle="""
SELECT event_type AS key, count(*) AS cnt FROM events GROUP BY event_type
""",
)
def stateful_running_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key cumulative count via arbitrary keyed state
    (applyInPandasWithState) — the WordCount.Count HashMap semantics.

    Emissions are per-batch cumulative values; the final value per key
    (max of the monotone series) equals the batch count, which is what
    the oracle checks.
    """
    events = stream_table(spark, sf_dir, "events")
    emitted = run_to_memory(running_count(events, "event_type"), output_mode="append")
    return emitted.groupBy("key").agg(F.max("cnt").alias("cnt"))


# --- streaming dedup (stateful dropDuplicates through the engine) --------

# duplicate-injected stream deduped on the key == plain DISTINCT of the
# source (event_id is the events PK; both copies are identical rows, so
# "which copy wins" is unobservable)
_DEDUP_ORACLE = """
SELECT DISTINCT event_id, event_type, user_id FROM events
"""


def _delivered_twice(spark: SparkSession, sf_dir: str, cols: list[str]) -> DataFrame:
    """The events stream unioned with a second read of itself: every row
    arrives twice, the at-least-once-delivery shape a Kafka replay
    produces."""
    a = stream_table(spark, sf_dir, "events").select(*cols)
    b = stream_table(spark, sf_dir, "events").select(*cols)
    return a.unionByName(b)


@register("streaming_dedup", oracle=_DEDUP_ORACLE)
def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming deduplication of a twice-delivered events
    stream: ``dropDuplicates`` on the key holds one state row per
    event_id and emits each key exactly once. At 100 TB the state is
    one compact row per distinct key in the state store, partitioned by
    key hash; with event-time bounds, ``dropDuplicatesWithinWatermark``
    caps it — the unbounded variant here matches the oracle's global
    DISTINCT."""
    deduped = _delivered_twice(
        spark, sf_dir, ["event_id", "event_type", "user_id"]
    ).dropDuplicates(["event_id"])
    return run_to_memory(deduped, output_mode="append")


@register("streaming_dedup_watermarked", oracle=_DEDUP_ORACLE)
def streaming_dedup_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state twin of ``streaming_dedup``:
    ``dropDuplicatesWithinWatermark`` holds a key only until the
    watermark passes its event time, so state is sized by the lateness
    bound instead of the key universe — the production configuration
    for unbounded streams (the unbounded variant's state grows with
    distinct keys forever). The duplicate-injected copies arrive within
    the same availableNow epoch — well inside any watermark — so the
    final sink equals the global DISTINCT and the same oracle applies."""
    deduped = (
        _delivered_twice(spark, sf_dir, ["event_id", "event_type", "user_id", "ts"])
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .drop("ts")
    )
    return run_to_memory(deduped, output_mode="append")


# --- streaming sessionization (session_window in the state store) --------

from storm_bench_spark.plans.relational import USER_SESSIONS_ORACLE  # noqa: E402


@register(
    "streaming_user_sessions",
    # identical final state ⇒ the batch query's gap-and-islands oracle
    # verifies the streaming path too (same equality the other
    # streaming_* twins rely on)
    oracle=USER_SESSIONS_ORACLE,
)
def streaming_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``user_sessions`` through the streaming engine: gap-merged
    session windows live in the aggregation state store
    (``session_window`` merges a key's windows whenever a new event
    falls within the 30-minute gap), complete-mode snapshot after the
    availableNow epoch.

    This is the streaming shape a clickstream pipeline actually runs:
    state per (user, open session), merged on arrival, sized by live
    sessions — not by history. In production the ``withWatermark`` +
    append-mode variant emits each session once it can no longer grow;
    the complete-mode snapshot here is the deterministic, testable
    equivalent with identical final state (SURVEY §4.3.1 mapping), so
    the batch oracle checks the streaming state machinery end-to-end.
    """
    from storm_bench_spark.plans.relational import sessions_from_events

    es = D.events_sec(spark, sf_dir, stream_table)
    return run_to_memory(sessions_from_events(es), output_mode="complete")


# --- streaming trending hashtags -----------------------------------------

@register(
    "streaming_hashtag_count",
    # identical final state ⇒ the batch topology's oracle verifies the
    # streaming path too
    oracle=T.ROLLING_HASHTAG_ORACLE,
)
def streaming_hashtag_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rolling_hashtag_count through the streaming engine — the
    trending-topics shape: tweet stream → parse 13-field wire format →
    explode hashtags → event-time sliding window (60 s / 5 s) counts
    in the state store, complete-mode snapshot after the availableNow
    epoch. Shares the tweet derivation (``derived.tweets``), the
    hashtag parse and the window/count spec with the batch topology, so
    the batch oracle checks the streaming state machinery bit-for-bit."""
    tags = T._hashtags(D.tweets(spark, sf_dir, stream_table))
    # sliding_agg for the same reason as streaming_rolling_count
    win = sliding_agg(tags, 60, 5, ["tag"], [F.count("*").alias("cnt")])
    return run_to_memory(win, output_mode="complete")


# --- streaming CDC: incremental snapshot maintenance ---------------------

from storm_bench_spark.plans.curation import CDC_ORACLE as _CDC_ORACLE  # noqa: E402


@register(
    "streaming_cdc_apply",
    # identical final state ⇒ the batch CDC oracle verifies the
    # incremental fold (three real micro-batches, not one availableNow
    # epoch over a single file)
    oracle=_CDC_ORACLE,
    doc="cdc_apply maintained incrementally across 3 micro-batches",
)
def streaming_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``cdc_apply`` as a STREAMING fold: the changelog is split into
    three chronological files, consumed one per micro-batch
    (``maxFilesPerTrigger=1``), each folded into an epoch-versioned
    snapshot via ``foreachBatch`` (streaming/cdc_stream.py — the
    checkpoint + overwrite-versioned-directory discipline that makes
    batch retries idempotent). The final snapshot must equal the batch
    operator's one-pass answer — which is exactly what the shared
    oracle asserts: incremental-fold == full-recompute, the invariant
    a production CDC pipeline lives on.

    The chronological split cuts on time-range terciles, so a key's
    later change always lands in a later-or-equal batch (the module's
    ordering contract); within a batch the (sec, event_id) struct
    resolves.
    """
    import os
    import tempfile

    from storm_bench_spark.plans.curation import cdc_changelog
    from storm_bench_spark.sources.tables import load_table
    from storm_bench_spark.streaming.cdc_stream import apply_changes_stream

    # Not cdc_apply over stream_table: the fold needs real ordered
    # micro-batches, so the batch changelog is written as three files
    # and folded per batch with foreachBatch.
    base = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    ch = cdc_changelog(D.events_sec(spark, sf_dir))

    bounds = ch.agg(F.min("sec").alias("lo"), F.max("sec").alias("hi")).first()
    lo, hi = bounds["lo"], bounds["hi"]
    c1 = lo + (hi - lo) // 3
    c2 = lo + 2 * (hi - lo) // 3
    parts = [
        F.col("sec") <= c1,
        (F.col("sec") > c1) & (F.col("sec") <= c2),
        F.col("sec") > c2,
    ]
    data_dir = tempfile.mkdtemp(prefix="sbs_cdc_in_")
    n_parts = len(parts)
    for age, cond in enumerate(parts):
        before = set(os.listdir(data_dir))
        ch.where(cond).coalesce(1).write.mode("append").parquet(data_dir)
        # file source orders batches by modification time: age earlier
        # files (same mechanism as tests/test_streaming.py's watermark
        # fixture)
        for f in set(os.listdir(data_dir)) - before:
            p = os.path.join(data_dir, f)
            st = os.stat(p)
            shift = (n_parts - age) * 3600
            os.utime(p, (st.st_atime - shift, st.st_mtime - shift))

    change_stream = (
        spark.readStream.schema(ch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(data_dir)
    )
    return apply_changes_stream(
        base,
        change_stream,
        keys=["c_custkey"],
        order_key=F.struct(F.col("sec"), F.col("event_id")),
        payload_cols=["c_name"],
    )


# --- streaming funnel: sequential-pattern keyed state ---------------------

from storm_bench_spark.plans.analytics_ext import _FUNNEL_ORACLE as _SF_ORACLE  # noqa: E402
from storm_bench_spark.plans.analytics_ext import funnel_counts  # noqa: E402


@register(
    "streaming_funnel",
    # identical final state ⇒ the batch funnel's oracle verifies the
    # state machine
    oracle=_SF_ORACLE,
    doc="funnel_conversion via an applyInPandasWithState stage machine",
)
def streaming_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``funnel_conversion`` through ARBITRARY keyed state: a per-user
    view→click→purchase machine in ``applyInPandasWithState``, run per
    user shard
    (streaming/stateful.py:funnel_state) — the sequential-pattern
    class no built-in windowed aggregation expresses, because stage
    k's predicate depends on stage k−1's match TIME. The greedy
    in-order pass equals the batch funnel's chained minima, so the
    batch oracle certifies the state machine. Finalization maxes the
    set-once stage columns per user (robust to per-batch re-emission)
    and counts stages.
    """
    from storm_bench_spark.streaming.stateful import funnel_state
    from storm_bench_spark.streaming.streams import python_stateful_partitions

    # Not the batch funnel's per-user min-aggregations joined stage to
    # stage: a streaming plan joins an aggregation only in append mode,
    # where an unwindowed per-user minimum is never final, so the stages
    # advance in one keyed state machine instead.
    e = D.events_sec(spark, sf_dir, stream_table)
    # Python-stateful stage keyed by 64 user shards: width = cores
    # capped at the 64 shards, not the JVM floor trim — one Python
    # worker per state partition (streams.python_stateful_partitions).
    # Results are partition-invariant (shards route whole).
    snap = run_to_memory(
        funnel_state(e),
        output_mode="append",
        query_name=None,
        state_partitions=python_stateful_partitions(spark),
    )
    per_user = snap.groupBy("user_id").agg(
        F.max("v").alias("v"), F.max("c").alias("c"), F.max("p").alias("p")
    )
    return funnel_counts(*(per_user.where(F.col(k).isNotNull()) for k in "vcp"))


# --- stream-static join (dimension enrichment) ----------------------------

@register(
    "streaming_enriched_revenue",
    oracle="""
SELECT c.c_mktsegment,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
""",
)
def streaming_enriched_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC join — the dimension-enrichment capability: the
    orders STREAM joins the static customer table (planned as a
    broadcast per micro-batch; the static side re-resolves each
    trigger, which is how slowly-refreshing dims stay current), then a
    complete-mode grouped aggregation holds segment revenue in the
    state store. Exact-decimal sums (tpch.py discipline) keep the
    incremental accumulation equal to the one-shot batch join the
    oracle runs — covering the one Structured Streaming join mode the
    interval-join and CDC queries don't (stream-stream and
    foreachBatch respectively).
    """
    from storm_bench_spark.sources.tables import load_table

    # No batch twin row: the oracle's one-shot join is the batch side.
    o = stream_table(spark, sf_dir, "orders")
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    joined = o.join(dim, "o_custkey")
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
        .cast("double")
        .alias("revenue"),
    )
    return run_to_memory(agg, output_mode="complete")


# --- streaming weighted sample (bounded top-n state) ----------------------


def _wsmp_oracle() -> str:
    from storm_bench_spark.plans.pipeline import _weighted_sample_oracle

    return _weighted_sample_oracle()


@register("streaming_weighted_sample", oracle=_wsmp_oracle())
def streaming_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``weighted_sample`` maintained CONTINUOUSLY: the A-ES top-n
    (exact-n weighted sample without replacement, integer-exact keys —
    see the batch twin's docstring) as streaming state, the operator a
    100 TB ingest needs to keep "the N best-weighted docs so far"
    standing at all times. Rows shard by ``k % P`` (keys are
    hash-uniform, so shards balance); each shard's
    ``applyInPandasWithState`` keeps its local top-n (state = one
    bounded 3×n-array row per shard — P·n rows TOTAL at any input
    volume); the final snapshot merges P·n rows and takes the global
    top-n in batch. Set-max fold ⇒ the final state is independent of
    batch boundaries and arrival order, so the BATCH oracle certifies
    the streaming path exactly (same keys, same (k desc, doc_id)
    order, same cut).
    """
    from pyspark.sql.window import Window

    from storm_bench_spark.plans.pipeline import _WSMP_N, wsmp_keyed
    from storm_bench_spark.streaming.stateful import topn_state

    P = 8
    docs = stream_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    keyed = wsmp_keyed(docs).withColumn("shard", F.col("k") % P)
    emitted = run_to_memory(topn_state(keyed, _WSMP_N), output_mode="append")
    # latest emission per shard (seq is the per-shard update counter),
    # then the global cut over the ≤ P·n merged rows
    latest = emitted.withColumn(
        "mx", F.max("seq").over(Window.partitionBy("shard"))
    ).where(F.col("seq") == F.col("mx"))
    return (
        latest.orderBy(F.desc("k"), F.asc("doc_id"))
        .limit(_WSMP_N)
        .select(
            "doc_id",
            F.col("wt").cast("bigint").alias("weight"),
            F.col("k").alias("sort_key"),
        )
    )
