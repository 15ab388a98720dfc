"""Storage-layout & exact-mergeable-aggregation surface: bitmap-index
distinct, Z-order clustering stats, deterministic OHLC bars.

No reference analog beyond ``UniqueVisitorBolt.java:52``'s exact
SetReducer (whose per-window state grows with cardinality); these are
the layout/state patterns a 100 TB events warehouse actually ships:

- ``bitmap_distinct_daily``: EXACT distinct via 63-bit bitmap blocks —
  the roaring-bitmap pattern. State per (group, block) is ONE BIGINT;
  merge is ``bit_or`` (associative, commutative, idempotent), so the
  partial aggregation combines map-side and the shuffle carries
  ≤ |ids|/63 longs per group instead of the id set itself. It is the
  exact counterpart to the HLL estimate (``hll_users_per_type``): HLL
  when 2% error is fine, bitmap when the count must be exact and the
  id domain is dense.
- ``streaming_bitmap_visitors``: the same bitmap as *streaming state* —
  ``bit_or`` per (day, block) lives in the state store (one long per
  key, fixed-size forever, idempotent under micro-batch replay), the
  popcount finalization stays a stateless batch over the snapshot.
  This is the scale-out of the reference's SetReducer window state.
- ``tumbling_ohlc``: open/high/low/close bars per (event_type, hour) in
  ONE hash aggregation — ``min_by``/``max_by`` on a packed
  (sec, event_id) BIGINT order key, no window-function fan-out, no
  first/last self-join. The packing (sec·10⁹ + event_id) exists so
  DuckDB replays the exact tie-break; pure-Spark code would use
  ``min_by(value, struct(sec, event_id))``, which DuckDB's min_by
  cannot order.
- ``zorder_layout``: Morton-interleave clustering audit — assigns every
  event its 32-bit z-value over (user_id, time-of-day), ranges rows
  into 64 z-buckets, and reports each bucket's 2-D bounding box. At
  scale the identical expression feeds
  ``repartitionByRange(z).sortWithinPartitions(z)`` before the write,
  making per-file min/max stats tight in both dimensions — the audit
  query is the measurable proof the curve keeps both boxes small.

Oracles are SEMANTIC, not replays, wherever the engine uses a clever
representation: both bitmap queries are checked against DuckDB's plain
``count(DISTINCT ...)``, so the gate verifies the bitmap algebra, not a
transcription of it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from storm_bench_spark.functions.zorder import ZORDER_MASK, morton32, morton32_sql
from storm_bench_spark.plans.registry import register
from storm_bench_spark.sources import derived as D

# Matches tpch.py's determinism discipline: exact decimal sum surfaced
# as double (associative — immune to Spark's partition summation order).
_DEC = "decimal(18,6)"

# 63-bit blocks: bit index ≤ 62 keeps 1<<bit positive in BOTH engines
# (DuckDB raises on a signed-BIGINT 1<<63; Spark would wrap silently —
# using the sign bit would couple the query to two engines' overflow
# conventions).
BITMAP_BLOCK_BITS = 63


def _bitmap_blocks(df: DataFrame, group_cols: list[str], id_col: str) -> DataFrame:
    """(group, block) → bitmap partial: the reusable first level of the
    bitmap-distinct two-level aggregation."""
    return (
        df.select(
            *group_cols,
            F.expr(f"{id_col} div {BITMAP_BLOCK_BITS}").alias("blk"),
            F.expr(
                f"shiftleft(1L, CAST({id_col} % {BITMAP_BLOCK_BITS} AS INT))"
            ).alias("one_bit"),
        )
        .groupBy(*group_cols, "blk")
        .agg(F.bit_or("one_bit").alias("bm"))
    )


def _daily_blocks(es: DataFrame) -> DataFrame:
    """Per-day bitmap partials of the users in a frame with ``sec`` and
    ``user_id``."""
    days = es.select(F.expr("sec div 86400").alias("day"), "user_id")
    return _bitmap_blocks(days, ["day"], "user_id")


def _bitmap_popcount(blocks: DataFrame, group_cols: list[str]) -> DataFrame:
    """Finalize bitmap partials to exact distinct counts per group."""
    return blocks.groupBy(*group_cols).agg(
        F.sum(F.bit_count("bm")).alias("n_users")
    )


_BITMAP_DAILY_ORACLE = f"""
WITH es AS ({D.EVENTS_SEC_SQL})
SELECT sec // 86400 AS day, count(DISTINCT user_id) AS n_users
FROM es GROUP BY 1
"""


@register("bitmap_distinct_daily", oracle=_BITMAP_DAILY_ORACLE)
def bitmap_distinct_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per day through 63-bit bitmap blocks.

    Plan shape: one shuffle on (day, blk) with map-side ``bit_or``
    partials (the bitmap is born combined — duplicates of a user inside
    a map task never leave it), then a popcount rollup on the ~|ids|/63
    surviving longs. At 100 TB the shuffle payload is the bitmap, not
    the ids; contrast ``unique_visitor`` (exact set, reference
    semantics, UniqueVisitorBolt.java:52) and ``unique_visitor_approx``
    (HLL, 2% error). The oracle is DuckDB's own count(DISTINCT) — a
    semantic check on the bitmap algebra, not a replay of it.
    """
    return _bitmap_popcount(_daily_blocks(D.events_sec(spark, sf_dir)), ["day"])


@register("streaming_bitmap_visitors", oracle=_BITMAP_DAILY_ORACLE)
def streaming_bitmap_visitors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``bitmap_distinct_daily`` through the streaming engine: the
    (day, block) → ``bit_or`` partial IS the streaming aggregation, so
    the state store holds exactly one long per touched block — fixed
    size at any cardinality, merge = OR (idempotent under replay, so
    micro-batch boundaries and restarts cannot change it). The
    complete-mode snapshot then popcounts in batch — the same
    state→finalize split as ``streaming_hll_visitors``, but EXACT: this
    is what the reference's SetReducer window state becomes when the
    visitor set no longer fits a JVM heap. Identical final state ⇒ the
    batch count(DISTINCT) oracle verifies the streaming path.
    """
    from storm_bench_spark.streaming.streams import run_to_memory, stream_table

    blocks = _daily_blocks(D.events_sec(spark, sf_dir, stream_table))
    snap = run_to_memory(blocks, output_mode="complete")
    return _bitmap_popcount(snap, ["day"])


_BITMAP_WEEKLY_ORACLE = f"""
WITH es AS ({D.EVENTS_SEC_SQL})
SELECT (sec // 86400) // 7 AS week, count(DISTINCT user_id) AS n_users
FROM es GROUP BY 1
"""


@register("bitmap_distinct_weekly_rollup", oracle=_BITMAP_WEEKLY_ORACLE)
def bitmap_distinct_weekly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly exact distinct users computed by ROLLING UP the daily
    bitmap partials — never re-touching raw rows. Plain count-distinct
    partials cannot re-aggregate (a user active on two days would
    double-count), which is why warehouses re-scan raw data for every
    grain; bitmap partials merge losslessly (OR is idempotent), so the
    weekly number is ``popcount(OR of the week's daily bitmaps)``.
    This is ``multires_rollup``'s coarse-from-fine pattern extended to
    the one aggregate it normally excludes. Plan: the daily (day, blk)
    partial, a second ``bit_or`` keyed on (week, blk) — word-sized
    input, not row-sized — then popcount. The oracle is the from-raw
    count(DISTINCT) per week, certifying the rollup is lossless.
    """
    daily = _daily_blocks(D.events_sec(spark, sf_dir))
    weekly = (
        daily.select(F.expr("day div 7").alias("week"), "blk", "bm")
        .groupBy("week", "blk")
        .agg(F.bit_or("bm").alias("bm"))
    )
    return _bitmap_popcount(weekly, ["week"])


_BITMAP_RETENTION_ORACLE = f"""
WITH es AS ({D.EVENTS_SEC_SQL}),
d AS (SELECT DISTINCT sec // 86400 AS day, user_id FROM es)
SELECT a.day, count(*) AS n_retained
FROM d a JOIN d b ON a.user_id = b.user_id AND b.day = a.day + 1
GROUP BY a.day
"""


@register("bitmap_retention_daily", oracle=_BITMAP_RETENTION_ORACLE)
def bitmap_retention_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day retained users (active on day d AND d+1) as bitmap
    set algebra: intersect = ``bm & bm_next``, cardinality = popcount.
    The expensive spelling is a distinct self-join on user_id (the
    oracle — |users| rows per day on each side); the bitmap spelling
    joins ≤ |users|/63 words per day-pair on (day, blk) and never
    shuffles an id twice. This is why warehouses keep bitmap indexes:
    set intersection/union/difference become word-wise AND/OR/ANDNOT on
    the partials ``bitmap_distinct_daily`` already maintains. Days with
    overlapping blocks but no common users popcount to 0 and are
    filtered, matching the oracle's inner join exactly.
    """
    blocks = _daily_blocks(D.events_sec(spark, sf_dir))
    nxt = blocks.select(
        (F.col("day") - 1).alias("day"), "blk", F.col("bm").alias("bm_next")
    )
    return (
        blocks.join(nxt, ["day", "blk"])
        .groupBy("day")
        .agg(
            F.sum(F.bit_count(F.col("bm").bitwiseAND(F.col("bm_next")))).alias(
                "n_retained"
            )
        )
        .where(F.col("n_retained") > 0)
    )


# ord packs the (sec, event_id) tie-break into one BIGINT so DuckDB's
# scalar-keyed min_by/max_by replays Spark's exactly. Headroom: sec is
# epoch seconds (< 2^31), so sec·10⁹ < 2^61; event_id must stay < 10⁹
# (true through sf ~1000 of this fixture). Pure-Spark code would write
# min_by(value, struct(sec, event_id)) and carry no such bound.
_OHLC_ORD = "sec * 1000000000 + event_id"

_OHLC_ORACLE = f"""
WITH es AS ({D.EVENTS_SEC_SQL}),
b AS (SELECT event_type, sec // 3600 AS hr, value, {_OHLC_ORD} AS ord FROM es)
SELECT event_type, hr,
       min_by(value, ord) AS open_v,
       max(value) AS high_v,
       min(value) AS low_v,
       max_by(value, ord) AS close_v,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS volume
FROM b GROUP BY event_type, hr
"""


def _ohlc_bars(es: DataFrame) -> DataFrame:
    """One bar per (event_type, hr) over a frame with ``event_type``,
    ``sec``, ``value`` and ``event_id``: open/close by the packed order
    key, high/low/count, and the exact-decimal volume."""
    b = es.select(
        "event_type",
        F.expr("sec div 3600").alias("hr"),
        "value",
        F.expr(_OHLC_ORD).alias("ord"),
    )
    return b.groupBy("event_type", "hr").agg(
        F.min_by("value", "ord").alias("open_v"),
        F.max("value").alias("high_v"),
        F.min("value").alias("low_v"),
        F.max_by("value", "ord").alias("close_v"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast(_DEC)).cast("double").alias("volume"),
    )


@register("tumbling_ohlc", oracle=_OHLC_ORACLE)
def tumbling_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bars per (event_type, hour): the time-series downsample
    every metrics store ships, in ONE hash aggregation. ``min_by``/
    ``max_by`` on the packed order key pick open/close inside the same
    partial-aggregate pass that computes high/low/count/volume — no
    row_number window (which would shuffle-sort every row), no
    first/last self-join (which would scan twice). Volume follows the
    repo's exact-decimal-sum discipline, so the double is
    order-independent. Ties are impossible by construction: ord is
    unique per event.
    """
    return _ohlc_bars(D.events_sec(spark, sf_dir))


@register("streaming_tumbling_ohlc", oracle=_OHLC_ORACLE)
def streaming_tumbling_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``tumbling_ohlc`` through the streaming engine: every bar field
    is an incrementally-mergeable aggregate — min/max/count merge
    trivially, the decimal volume sum is associative, and min_by/max_by
    on the packed order key merge by keeping the arg of the winning
    key — so the state store holds exactly one bar row per
    (event_type, hour), updated in place per micro-batch. No
    event-time window machinery is needed: the tumbling bucket is a
    grouping COLUMN (hr = sec div 3600), which is what makes the bar
    table a plain streaming aggregation with bounded state. Identical
    final state ⇒ the batch OHLC oracle verifies the streaming path.
    """
    from storm_bench_spark.streaming.streams import run_to_memory, stream_table

    bars = _ohlc_bars(D.events_sec(spark, sf_dir, stream_table))
    return run_to_memory(bars, output_mode="complete")


# z-bucket = top 6 bits of the 32-bit z-value → 64 fixed, deterministic
# ranges (repartitionByRange would sample non-deterministically; the
# audit must be bit-replayable).
ZORDER_BUCKETS_SHIFT = 26

_ZX = "(user_id & 65535)"
_ZY = "((sec % 86400) & 65535)"

_ZORDER_ORACLE = f"""
WITH es AS ({D.EVENTS_SEC_SQL}),
z AS (
  SELECT {_ZX} AS x, {_ZY} AS y,
         {morton32_sql(_ZX, _ZY)} >> {ZORDER_BUCKETS_SHIFT} AS zbucket
  FROM es
)
SELECT zbucket, count(*) AS n_rows,
       min(x) AS x_min, max(x) AS x_max,
       min(y) AS y_min, max(y) AS y_max
FROM z GROUP BY zbucket
"""


@register("zorder_layout", oracle=_ZORDER_ORACLE)
def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering audit over (user_id, time-of-day): every row
    gets its 32-bit Morton z-value (functions/zorder.py — one codegen'd
    integer expression, the same loop emits the oracle SQL), rows range
    into 64 fixed z-buckets, and each bucket reports its 2-D bounding
    box. The boxes are the file-skipping story made measurable: when
    the production write orders by this z (``repartitionByRange(z)``
    then sort-within), a filter on EITHER dimension prunes most
    buckets/files, which a single-column sort cannot give. The bucket
    boundary is a fixed bit shift, not a sampled range partitioner, so
    the audit is deterministic and the DuckDB oracle replays it
    bit-for-bit.
    """
    es = D.events_sec(spark, sf_dir)
    x = F.col("user_id").bitwiseAND(F.lit(ZORDER_MASK))
    y = (F.col("sec") % 86400).bitwiseAND(F.lit(ZORDER_MASK))
    z = es.select(
        x.alias("x"),
        y.alias("y"),
        F.shiftright(morton32(x, y), ZORDER_BUCKETS_SHIFT).alias("zbucket"),
    )
    return z.groupBy("zbucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("x").alias("x_min"),
        F.max("x").alias("x_max"),
        F.min("y").alias("y_min"),
        F.max("y").alias("y_max"),
    )
