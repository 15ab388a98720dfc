"""Time-series / history / funnel analytics: gap-filled resampling,
SCD2 dimension history, stage funnels, and deterministic z-score
outlier flagging.

No reference analog (storm-bench stops at sliding-window counts); these
are the "hypertable" operations an events warehouse needs, expressed so
every number is bit-replayable by the DuckDB oracle:

- gap filling generates the hourly grid with ``sequence``/``explode``
  (no driver loop, no UDF) and forward-fills with ONE per-key ordered
  window — the LOCF spelling whose shuffle is a single exchange on the
  series key;
- SCD2 history derives validity intervals from the same event
  changelog ``cdc_apply`` consumes — ``lead()`` over the per-key change
  order, one window shuffle, no self-join;
- the funnel is three chained keyed aggregations (view → click →
  purchase with time ordering), each reusing the user_id exchange;
- z-scores use the repo's exact-decimal-sum discipline (tpch.py): the
  only floats are deterministic IEEE ops on exact per-group sums, so
  the 1.6σ cut selects the same rows in both engines by bit equality,
  not by luck.

PERSIST CONVENTION (round 14, applies engine-wide): the mid-query
``persist()`` calls here and in corpus_ops/dedup_queries/similarity/
flightdist are intentionally NOT unpersisted — each query is a pure
builder whose caches the bench clears between queries
(``spark.catalog.clearCache()``), and an in-query unpersist after the
"final" action would break consumers that compose queries (a returned
DataFrame may be re-executed by the caller). Callers composing several
queries in one long-lived session should clearCache() between them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from storm_bench_spark.operators.cdc import scd2_intervals
from storm_bench_spark.plans.curation import CDC_CH_SQL, cdc_changelog
from storm_bench_spark.plans.registry import register
from storm_bench_spark.sources.tables import load_table
from storm_bench_spark.sources import derived as D

_DEC = "decimal(18,6)"


# --- gap-filled hourly resampling (LOCF) ---------------------------------

_GAP_FILL_ORACLE = f"""
WITH es AS ({D.EVENTS_SEC_SQL}),
b AS (
  SELECT user_id, hb, value FROM (
    SELECT user_id, sec // 3600 AS hb, value,
           row_number() OVER (PARTITION BY user_id, sec // 3600
                              ORDER BY sec DESC, event_id DESC) AS rn
    FROM es) WHERE rn = 1
),
bounds AS (SELECT min(sec // 3600) AS h0, max(sec // 3600) AS h1 FROM es),
grid AS (
  SELECT u.user_id, g.hb
  FROM (SELECT DISTINCT user_id FROM es) u
  CROSS JOIN (SELECT unnest(generate_series((SELECT h0 FROM bounds),
                                            (SELECT h1 FROM bounds))) AS hb) g
)
SELECT grid.user_id, grid.hb,
       last_value(b.value IGNORE NULLS)
         OVER (PARTITION BY grid.user_id ORDER BY grid.hb
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
FROM grid LEFT JOIN b USING (user_id, hb)
"""


@register("gap_fill_hourly", oracle=_GAP_FILL_ORACLE)
def gap_fill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user hourly series over the global time span, last observed
    value carried forward (NULL before a user's first observation).

    Plan shape: per-(user, hour) last value via the partial-aggregable
    ``max_by`` (map-side combine — never a row_number shuffle of raw
    events); the grid is users × ``sequence(h0, h1)`` exploded from a
    broadcast 1-row bounds aggregate (same bounded-broadcast discipline
    as relational.py's count row); the forward fill is one
    ``last(ignorenulls)`` window on the series key. Output size is the
    grid — the intended product of a resampler — and every stage before
    it is input-sized or smaller. The carried value is a raw column
    (no arithmetic), so cross-engine equality is exact.
    """
    es = D.events_sec(spark, sf_dir).select("user_id", "sec", "value", "event_id")
    hb = F.expr("sec DIV 3600")
    # round 15: DECIMAL-packed (sec, event_id) order key instead of the
    # struct — same argmax row (the pair is unique per row), but the
    # struct key forced SortAggregate (struct agg buffers are not
    # hash-aggregable) and both sides of the exchange paid a full sort
    # of the raw events; the packed key hash-aggregates (windows.
    # packed_order: radix 10^19 > 2^63, no inversion at any id range).
    from storm_bench_spark.operators.windows import packed_order

    bucketed = es.groupBy("user_id", hb.alias("hb")).agg(
        F.max_by("value", packed_order("sec", "event_id")).alias("_v")
    )
    bounds = es.agg(
        F.min(hb).alias("h0"), F.max(hb).alias("h1")
    )
    grid = (
        es.select("user_id")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select("user_id", F.explode(F.sequence("h0", "h1")).alias("hb"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hb")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.join(bucketed, ["user_id", "hb"], "left")
        .withColumn("value", F.last("_v", ignorenulls=True).over(w))
        .select("user_id", "hb", "value")
    )


# --- SCD2 dimension history ----------------------------------------------

_SCD2_ORACLE = f"""
WITH es AS ({D.EVENTS_SEC_SQL}),
ch AS ({CDC_CH_SQL}),
v AS (
  SELECT c_custkey, c_name, op, sec AS valid_from,
         lead(sec) OVER (PARTITION BY c_custkey
                         ORDER BY sec, event_id) AS valid_to
  FROM ch
)
SELECT c_custkey, c_name, valid_from, valid_to,
       valid_to IS NULL AS is_current
FROM v WHERE op <> 'delete'
"""


@register("scd2_customer_history", oracle=_SCD2_ORACLE)
def scd2_customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension history from the same
    event-derived changelog ``cdc_apply`` consumes: one validity
    interval per upsert, closed by the NEXT change of any kind
    (deletes close their predecessor and emit nothing), open interval
    flagged current. One ``lead()`` window on the key
    (operators/cdc.py:scd2_intervals) — where cdc_apply reduces to
    latest-state with a max_by, SCD2 keeps the full history but still
    pays exactly one shuffle.
    """
    ch = cdc_changelog(D.events_sec(spark, sf_dir))
    return scd2_intervals(
        ch, keys=["c_custkey"], sec_col="sec", tie_col="event_id",
        payload_cols=["c_name"],
    )


# --- stage funnel ---------------------------------------------------------

_FUNNEL_ORACLE = f"""
WITH es AS ({D.EVENTS_SEC_SQL}),
v AS (SELECT user_id, min(sec) AS vs FROM es
      WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT es.user_id, min(sec) AS cs FROM es JOIN v USING (user_id)
      WHERE event_type = 'click' AND sec >= vs GROUP BY es.user_id),
p AS (SELECT es.user_id, min(sec) AS ps FROM es JOIN c USING (user_id)
      WHERE event_type = 'purchase' AND sec >= cs GROUP BY es.user_id)
SELECT 'view' AS stage, count(*) AS users FROM v
UNION ALL SELECT 'click', count(*) FROM c
UNION ALL SELECT 'purchase', count(*) FROM p
"""


@register("funnel_conversion", oracle=_FUNNEL_ORACLE)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view → click → purchase funnel: a user advances a stage
    only with an event at-or-after their previous stage's first event.

    Three keyed min-aggregations chained by broadcast joins (each
    stage's table is ≤ one row per user — always the small side); the
    big events scan feeds each stage with the predicate pushed into the
    scan. No windows over raw events, no per-user sorting — the funnel
    is associative min-reduction all the way down, so partial
    aggregation does the heavy lifting at any scale.
    """
    from pyspark import StorageLevel

    es = D.events_sec(spark, sf_dir).select("user_id", "sec", "event_type")
    # v and c are each consumed twice (the next stage's broadcast probe
    # AND the final stage count); uncached, the funnel re-scanned the
    # events table six times (v 3x, c 2x, p 1x). The per-user one-row
    # stage tables are the cheapest cacheable unit — persisting the two
    # reused ones cuts the scans to one per stage.
    v = (
        es.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("sec").alias("vs"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    c = (
        es.where(F.col("event_type") == "click")
        .join(F.broadcast(v), "user_id")
        .where(F.col("sec") >= F.col("vs"))
        .groupBy("user_id")
        .agg(F.min("sec").alias("cs"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    p = (
        es.where(F.col("event_type") == "purchase")
        .join(F.broadcast(c), "user_id")
        .where(F.col("sec") >= F.col("cs"))
        .groupBy("user_id")
        .agg(F.min("sec").alias("ps"))
    )
    return funnel_counts(v, c, p)


def funnel_counts(v: DataFrame, c: DataFrame, p: DataFrame) -> DataFrame:
    """One (stage, users) row per funnel stage, from the per-user rows
    that reached it; shared with ``streaming_funnel``."""

    def _count(df: DataFrame, stage: str) -> DataFrame:
        return df.agg(
            F.lit(stage).alias("stage"), F.count(F.lit(1)).alias("users")
        )

    return (
        _count(v, "view")
        .unionByName(_count(c, "click"))
        .unionByName(_count(p, "purchase"))
    )


# --- cohort retention -----------------------------------------------------

_COHORT_ORACLE = f"""
WITH es AS ({D.EVENTS_SEC_SQL}),
act AS (SELECT DISTINCT user_id, sec // 86400 AS day FROM es),
cohort AS (SELECT user_id, min(day) AS c_day FROM act GROUP BY user_id)
SELECT cohort.c_day AS cohort_day, act.day - cohort.c_day AS day_offset,
       COUNT(*) AS n_users
FROM act JOIN cohort USING (user_id)
GROUP BY cohort.c_day, act.day - cohort.c_day
"""


@register("cohort_retention", oracle=_COHORT_ORACLE)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort-retention matrix: users grouped by first-active
    day, counted on each later active day (offset in days) — the
    product-analytics query every events warehouse serves. Three keyed
    aggregations, all on user_id or (cohort, offset): the per-(user,
    day) distinct collapses raw events first (map-side combine absorbs
    within-day repeats), the cohort table is one row per user
    (broadcast side of the join), and each (user, day) pair lands in
    exactly one (cohort, offset) cell — so count(*) IS the distinct
    user count, no second distinct shuffle.
    """
    es = D.events_sec(spark, sf_dir).select(
        "user_id", F.expr("sec DIV 86400").alias("day")
    )
    act = es.distinct()
    cohort = act.groupBy("user_id").agg(F.min("day").alias("c_day"))
    return (
        act.join(F.broadcast(cohort), "user_id")
        .groupBy(
            F.col("c_day").alias("cohort_day"),
            (F.col("day") - F.col("c_day")).alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# --- multi-resolution (continuous-aggregate) rollup ----------------------

_MULTIRES_ORACLE = f"""
WITH es AS ({D.EVENTS_SEC_SQL})
SELECT event_type, sec // 86400 AS day,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM es GROUP BY event_type, sec // 86400
"""


@register("multires_rollup", oracle=_MULTIRES_ORACLE)
def multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily aggregates computed HIERARCHICALLY — from the hourly
    aggregate, not from raw events — while the oracle computes daily
    directly from raw. Equality certifies the continuous-aggregate
    algebra itself: counts re-sum, exact decimal sums re-sum
    associatively (``(sec DIV 3600) DIV 24 == sec DIV 86400`` for
    non-negative sec), so a 100 TB deployment can maintain the hourly
    materialization and serve every coarser grain from it without
    touching raw data — the same partial-reaggregation discipline as
    the HLL register merge, here for exact aggregates. The one cast to
    double happens after the LAST re-sum.
    """
    es = D.events_sec(spark, sf_dir).select("event_type", "sec", "value")
    dec = F.col("value").cast(_DEC)
    hourly = es.groupBy("event_type", F.expr("sec DIV 3600").alias("hb")).agg(
        F.count(F.lit(1)).alias("n"), F.sum(dec).alias("s")
    )
    return hourly.groupBy("event_type", F.expr("hb DIV 24").alias("day")).agg(
        F.sum("n").alias("n_events"),
        F.sum("s").cast("double").alias("sum_value"),
    )


# --- range-frame moving average ------------------------------------------

MOVING_AVG_SEC = 21_600  # 6 h trailing window

_MOVING_AVG_ORACLE = f"""
WITH es AS ({D.EVENTS_SEC_SQL})
SELECT event_id, user_id, sec,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
         / COUNT(*) OVER w AS avg_6h
FROM es
WINDOW w AS (PARTITION BY user_id ORDER BY sec
             RANGE BETWEEN {MOVING_AVG_SEC} PRECEDING AND CURRENT ROW)
"""


@register("user_moving_avg", oracle=_MOVING_AVG_ORACLE)
def user_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 6-hour moving average of each user's event values — the
    RANGE-frame window (event-TIME bounds, not row counts), which is
    the frame sliding_agg's bucketed windows can't express: every row
    gets its own exact trailing horizon. One shuffle on the series key;
    the frame scan is Spark's native sliding range accumulation, not a
    self-join. Ties on ``sec`` are frame-peers in BOTH engines (RANGE
    includes all equal-key rows), so tie handling agrees by
    construction; the average is the exact decimal window sum divided
    by the window count, cast once — deterministic doubles.
    """
    es = D.events_sec(spark, sf_dir).select("event_id", "user_id", "sec", "value")
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-MOVING_AVG_SEC, 0)
    )
    dec = F.col("value").cast(_DEC)
    return es.select(
        "event_id",
        "user_id",
        "sec",
        (F.sum(dec).over(w).cast("double") / F.count(F.lit(1)).over(w)).alias(
            "avg_6h"
        ),
    )


# --- deterministic z-score outliers --------------------------------------

Z_CUT = 1.6  # the fixture's value column is ~uniform (z_max ≈ √3), so a
# 3σ cut would select nothing; 1.6σ keeps a meaningful tail. The cut
# compares BIT-IDENTICAL doubles in both engines, so the boundary is
# safe at any threshold.

_ZSCORE_ORACLE = f"""
WITH es AS ({D.EVENTS_SEC_SQL}),
st AS (
  SELECT event_type,
         COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s2
  FROM es GROUP BY event_type
),
m AS (SELECT event_type, n, s1 / n AS mean, s2 / n - (s1 / n) * (s1 / n) AS var FROM st)
SELECT es.event_id, es.event_type, es.value,
       (CAST(CAST(es.value AS DECIMAL(18,6)) AS DOUBLE) - m.mean) / sqrt(m.var) AS z
FROM es JOIN m USING (event_type)
WHERE abs((CAST(CAST(es.value AS DECIMAL(18,6)) AS DOUBLE) - m.mean) / sqrt(m.var)) > {Z_CUT!r}
"""


@register("value_zscore_outliers", oracle=_ZSCORE_ORACLE)
def value_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events whose value sits beyond 1.6σ (Z_CUT) of their event_type's
    mean — the quality-filter shape (compute corpus stats, broadcast,
    flag rows) with every float deterministic: per-group sums are exact
    decimals (tpch.py discipline), and mean/var/z are the SAME IEEE
    expression tree in both engines, so the comparison at the cut is
    bit-exact, not tolerance-based. One scan builds the 5-row stats
    table; the flagging pass is scan + broadcast join + codegen
    arithmetic — no second shuffle of events at any scale.
    """
    es = D.events_sec(spark, sf_dir).select("event_id", "event_type", "value")
    dec = F.col("value").cast(_DEC)
    st = es.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec).cast("double").alias("s1"),
        F.sum(dec * dec).cast("double").alias("s2"),
    )
    mean = F.col("s1") / F.col("n")
    m = st.select(
        "event_type",
        mean.alias("mean"),
        (F.col("s2") / F.col("n") - mean * mean).alias("var"),
    )
    vd = dec.cast("double")
    z = (vd - F.col("mean")) / F.sqrt(F.col("var"))
    return (
        es.join(F.broadcast(m), "event_type")
        .withColumn("z", z)
        .where(F.abs(F.col("z")) > Z_CUT)
        .select("event_id", "event_type", "value", "z")
    )


# --- pivot / wide-format analytics ----------------------------------------

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_PIVOT_ORACLE = f"""
WITH es AS ({D.EVENTS_SEC_SQL})
SELECT user_id,
       {", ".join(f"count(*) FILTER (WHERE event_type = '{t}') AS n_{t}" for t in _EVENT_TYPES)}
FROM es GROUP BY user_id
"""


@register("user_event_pivot", oracle=_PIVOT_ORACLE)
def user_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users × event-type count matrix via ``groupBy().pivot()`` — the
    wide-format reporting surface. The pivot values are DECLARED (the
    five known types), so Catalyst plans a single-pass pivot
    aggregation with no distinct-values pre-query — the form that
    scales (an undeclared pivot first scans for distinct keys and can
    explode the column count). Counts are exact integers; the oracle
    spells the same matrix as FILTERed aggregates.
    """
    es = D.events_sec(spark, sf_dir).select("user_id", "event_type")
    out = (
        es.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    renamed = out.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(f"n_{t}") for t in _EVENT_TYPES],
    )
    return renamed


_UNPIVOT_ORACLE = f"""
WITH es AS ({D.EVENTS_SEC_SQL})
SELECT user_id, event_type, COUNT(*) AS n
FROM es GROUP BY user_id, event_type
"""


@register("user_event_unpivot", oracle=_UNPIVOT_ORACLE)
def user_event_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pivot round trip: melt the wide users × event-type matrix
    (``user_event_pivot``'s output) back to long form with
    ``unpivot``, dropping the zero cells the wide form materialized.
    The oracle is the plain long-form groupBy — so the green cell
    certifies that pivot→unpivot is lossless (wide↔long round trips
    are how reporting marts exchange shapes with pipelines).
    """
    wide = user_event_pivot(spark, sf_dir)
    long = wide.unpivot(
        ids=["user_id"],
        values=[f"n_{t}" for t in _EVENT_TYPES],
        variableColumnName="event_type",
        valueColumnName="n",
    )
    return long.where(F.col("n") > 0).select(
        "user_id",
        F.expr("substring(event_type, 3)").alias("event_type"),
        "n",
    )


_PROPS_ORACLE = f"""
WITH es AS ({D.EVENTS_SEC_SQL}),
x AS (SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM es)
SELECT event_type, COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS sum_k,
       COUNT(DISTINCT k) AS n_distinct_k
FROM x GROUP BY event_type
"""


@register("props_json_stats", oracle=_PROPS_ORACLE)
def props_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed extraction over the semi-structured ``props`` JSON column
    (the one fixture column no other query touches): ``from_json`` with
    a DECLARED schema — the production path for event-property bags,
    because a declared schema parses once into a typed struct the
    optimizer can prune/push, where per-path ``get_json_object`` calls
    re-parse the document per path. Integer aggregates keep the
    cross-engine comparison exact; the oracle extracts the same path
    with DuckDB's JSON reader.
    """
    es = D.events_sec(spark, sf_dir).select("event_type", "props")
    k = F.from_json("props", "k BIGINT").getField("k")
    return (
        es.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.countDistinct("k").alias("n_distinct_k"),
        )
    )


# --- per-column table profile --------------------------------------------

_PROFILE_COLS = ("event_id", "ts", "user_id", "event_type", "value", "props")

_TABLE_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct
FROM events"""
    for c in _PROFILE_COLS
)


@register("table_profile", oracle=_TABLE_PROFILE_ORACLE)
def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema profiling: per-column null count and exact distinct count
    over the events table — the data-quality pass a pipeline runs
    before trusting a new drop of data (nulls where none are expected,
    a distinct count of 1 where a key should be, cardinality jumps
    between drops).

    Shape at scale: ONE pass over the table. All 12 aggregates run in
    a single ``agg()``; Spark plans the multi-distinct via Expand
    (each input row fans to one row per distinct-aggregate before the
    partial agg), so the shuffle carries per-column distinct values,
    partially deduplicated map-side — never raw rows times columns.
    The single wide result row is pivoted to long form driver-side by
    a 6-element array/explode, not a collect. For a 100 TB profile
    where exact cardinality is not required, swap ``countDistinct``
    for ``approx_count_distinct`` (HLL, fixed 2 KB state per column;
    the engine's sketch path is gated under ``unique_visitor_approx``)
    and the Expand disappears.

    Reads through ``load_table`` (not a raw parquet scan) so the
    fixture's TIMESTAMP(NANOS) ``ts`` gets the same ns→µs truncation
    DuckDB applies — otherwise ``count(DISTINCT ts)`` could disagree
    on events sharing a microsecond.
    """
    raw = load_table(spark, sf_dir, "events")
    aggs = []
    for c in _PROFILE_COLS:
        aggs.append(F.sum(F.isnull(c).cast("bigint")).alias(f"null_{c}"))
        aggs.append(F.countDistinct(c).alias(f"dist_{c}"))
    wide = raw.agg(*aggs)
    entries = [
        F.struct(
            F.lit(c).alias("column_name"),
            F.col(f"null_{c}").alias("n_null"),
            F.col(f"dist_{c}").alias("n_distinct"),
        )
        for c in _PROFILE_COLS
    ]
    return wide.select(F.explode(F.array(*entries)).alias("p")).select("p.*")
