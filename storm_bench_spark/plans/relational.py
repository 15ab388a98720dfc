"""Relational surface beyond the reference: temporal joins, set
operations, TF-IDF ranking.

The reference's only join is the flight-dist pair probe (SURVEY.md
§2.5) and it has no set operators (§2.7); these queries are the
engine's declared coverage of the rest of the relational surface a
storm-bench user migrating real workloads would reach for, each with a
DuckDB oracle replaying the identical algorithm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from storm_bench_spark.functions.text import WS_RUN_PATTERN, word_split
from storm_bench_spark.operators.asof import asof_join, interval_join
from storm_bench_spark.plans.registry import register
from storm_bench_spark.sources import derived as D
from storm_bench_spark.sources.tables import load_table

INTERVAL_DELTA_SEC = 600


# --- as-of join: point-in-time purchase lookup per click -----------------

@register(
    "asof_click_purchase",
    oracle=f"""
WITH es AS ({D.EVENTS_SEC_SQL}),
bsrc AS (SELECT user_id, sec, value, event_id FROM es WHERE event_type = 'purchase'),
b AS (
  SELECT s.user_id, s.sec, s.value FROM bsrc s
  JOIN (SELECT user_id, sec, max(event_id) AS me FROM bsrc GROUP BY user_id, sec) m
    ON s.user_id = m.user_id AND s.sec = m.sec AND s.event_id = m.me
),
a AS (SELECT event_id, user_id, sec FROM es WHERE event_type = 'click')
SELECT a.event_id, a.user_id, a.sec, b.value AS value_r, b.sec AS sec_r
FROM a ASOF LEFT JOIN b ON a.user_id = b.user_id AND b.sec <= a.sec
""",
)
def asof_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each click annotated with the user's latest at-or-before
    purchase (point-in-time feature lookup). The union-sort as-of join
    (operators/asof.py) pays one key shuffle and zero row replication;
    the right side is pre-reduced to one row per (user, sec) — max
    event_id wins — so the match is deterministic. DuckDB's native
    ASOF JOIN is the oracle."""
    es = D.events_sec(spark, sf_dir)
    purchases = es.where(F.col("event_type") == "purchase")
    # round 15: max_by on the scalar event_id (globally unique, so the
    # same winning row as the old max(struct(event_id, value))) keeps
    # this pre-reduction on the HashAggregate path — the struct
    # spelling forced SortAggregate (struct agg buffers are not
    # hash-aggregable), sorting the purchase rows on both exchange
    # sides for nothing.
    b = (
        purchases.groupBy("user_id", "sec")
        .agg(F.max_by("value", F.col("event_id")).alias("value"))
    )
    a = es.where(F.col("event_type") == "click").select("event_id", "user_id", "sec")
    return asof_join(a, b, ["user_id"], "sec", ["value"])


ASOF_TOLERANCE_SEC = 3600  # 1 h lookback cap for the tolerant variant


@register(
    "asof_click_purchase_tol",
    oracle=f"""
WITH es AS ({D.EVENTS_SEC_SQL}),
bsrc AS (SELECT user_id, sec, value, event_id FROM es WHERE event_type = 'purchase'),
b AS (
  SELECT s.user_id, s.sec, s.value FROM bsrc s
  JOIN (SELECT user_id, sec, max(event_id) AS me FROM bsrc GROUP BY user_id, sec) m
    ON s.user_id = m.user_id AND s.sec = m.sec AND s.event_id = m.me
),
a AS (SELECT event_id, user_id, sec FROM es WHERE event_type = 'click')
SELECT a.event_id, a.user_id, a.sec,
       CASE WHEN b.sec >= a.sec - {ASOF_TOLERANCE_SEC} THEN b.value END AS value_r,
       CASE WHEN b.sec >= a.sec - {ASOF_TOLERANCE_SEC} THEN b.sec END AS sec_r
FROM a ASOF LEFT JOIN b ON a.user_id = b.user_id AND b.sec <= a.sec
""",
)
def asof_click_purchase_tol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``asof_click_purchase`` with a pandas-``merge_asof``-style
    1-hour tolerance: a preceding purchase older than an hour no
    longer qualifies as point-in-time context, and BOTH matched
    columns null out together (the whole-row struct discards at once —
    the same invariant the NULL-handling fix pinned for plain asof).
    Same single-shuffle union-sort plan; the tolerance is a
    post-window conditional, not a join-shape change. The oracle nulls
    DuckDB's native ASOF match under the same cutoff.
    """
    es = D.events_sec(spark, sf_dir)
    purchases = es.where(F.col("event_type") == "purchase")
    # round 15: max_by on the scalar event_id (globally unique, so the
    # same winning row as the old max(struct(event_id, value))) keeps
    # this pre-reduction on the HashAggregate path — the struct
    # spelling forced SortAggregate (struct agg buffers are not
    # hash-aggregable), sorting the purchase rows on both exchange
    # sides for nothing.
    b = (
        purchases.groupBy("user_id", "sec")
        .agg(F.max_by("value", F.col("event_id")).alias("value"))
    )
    a = es.where(F.col("event_type") == "click").select("event_id", "user_id", "sec")
    return asof_join(
        a, b, ["user_id"], "sec", ["value"], tolerance_sec=ASOF_TOLERANCE_SEC
    )


# --- interval join: errors within ±10 min of a click ---------------------

INTERVAL_CLICK_ERROR_ORACLE = f"""
WITH es AS ({D.EVENTS_SEC_SQL}),
a AS (SELECT event_id AS a_id, user_id, sec AS a_sec FROM es WHERE event_type = 'click'),
b AS (SELECT event_id AS b_id, user_id, sec AS b_sec FROM es WHERE event_type = 'error')
SELECT a.user_id, a_id, b_id, a_sec, b_sec, abs(a_sec - b_sec) AS gap_sec
FROM a JOIN b ON a.user_id = b.user_id AND abs(a_sec - b_sec) <= {INTERVAL_DELTA_SEC}
"""


@register("interval_click_error", oracle=INTERVAL_CLICK_ERROR_ORACLE)
def interval_click_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(click, error) pairs of the same user within ±10 minutes —
    the session-stitching range join. Candidates come from a hash
    equi-join on (user, time bucket) with 3-cell neighbor replication
    (operators/asof.py::interval_join), never a range cross product;
    the oracle's plain inequality join verifies the bucketing is
    lossless."""
    es = D.events_sec(spark, sf_dir)
    a = es.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("a_id"), "user_id", F.col("sec").alias("a_sec")
    )
    b = es.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("b_id"), "user_id", F.col("sec").alias("b_sec")
    )
    out = interval_join(a, b, ["user_id"], "a_sec", "b_sec", INTERVAL_DELTA_SEC)
    return out.select(
        "user_id", "a_id", "b_id", "a_sec", "b_sec",
        F.abs(F.col("a_sec") - F.col("b_sec")).alias("gap_sec"),
    )


# --- set operations (SURVEY.md §2.7: none in reference; engine surface) --

def _typed_users(spark: SparkSession, sf_dir: str, event_type: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == event_type)
        .select("user_id")
    )


@register(
    "users_intersect",
    oracle="""
SELECT user_id FROM events WHERE event_type = 'click'
INTERSECT
SELECT user_id FROM events WHERE event_type = 'purchase'
""",
)
def users_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users who both clicked and purchased (distinct INTERSECT)."""
    return _typed_users(spark, sf_dir, "click").intersect(
        _typed_users(spark, sf_dir, "purchase")
    )


HIGH_VALUE = 90.0


@register(
    "users_except",
    oracle=f"""
SELECT user_id FROM events WHERE event_type = 'click'
EXCEPT
SELECT user_id FROM events WHERE event_type = 'purchase' AND value > {HIGH_VALUE}
""",
)
def users_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users who clicked but never made a high-value (> 90.0)
    purchase — distinct EXCEPT. The value predicate keeps the result
    non-empty at every fixture SF (every user has every event type, so
    a plain click-minus-purchase EXCEPT is vacuously empty and its
    green cell would certify nothing)."""
    high_purchasers = (
        load_table(spark, sf_dir, "events")
        .where((F.col("event_type") == "purchase") & (F.col("value") > HIGH_VALUE))
        .select("user_id")
    )
    return _typed_users(spark, sf_dir, "click").subtract(high_purchasers)


@register(
    "users_union",
    oracle="""
SELECT user_id FROM events WHERE event_type = 'click'
UNION
SELECT user_id FROM events WHERE event_type = 'purchase'
""",
)
def users_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users who clicked or purchased (distinct UNION)."""
    return (
        _typed_users(spark, sf_dir, "click")
        .union(_typed_users(spark, sf_dir, "purchase"))
        .distinct()
    )


# --- session windows: gap-based sessionization ---------------------------

SESSION_GAP_SEC = 1800


# Shared by the batch query below and the streaming twin
# (plans/streaming_queries.py::streaming_user_sessions).
USER_SESSIONS_ORACLE = f"""
WITH es AS ({D.EVENTS_SEC_SQL}),
marked AS (
  SELECT user_id, sec, event_id,
         CASE WHEN lag(sec) OVER w IS NULL
                OR sec - lag(sec) OVER w > {SESSION_GAP_SEC}
              THEN 1 ELSE 0 END AS new_session
  FROM es
  WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
),
sess AS (
  SELECT user_id, sec,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY sec, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id, min(sec) AS session_start, count(*) AS n_events,
       max(sec) - min(sec) AS duration_sec
FROM sess GROUP BY user_id, sid
"""


def sessions_from_events(es: DataFrame) -> DataFrame:
    """Gap-sessionization spec over any (user_id, sec) frame — batch
    or streaming — so the two twins share one aggregation body (a
    drifted copy of a window spec is exactly how stream/oracle parity
    breaks)."""
    sw = F.session_window(
        F.timestamp_seconds(F.col("sec")), f"{SESSION_GAP_SEC} seconds"
    )
    g = es.groupBy(sw.alias("w"), F.col("user_id")).agg(
        F.count("*").alias("n_events"),
        F.max("sec").alias("_max_sec"),
    )
    start = F.col("w.start").cast("long")
    return g.select(
        "user_id",
        start.alias("session_start"),
        "n_events",
        (F.col("_max_sec") - start).alias("duration_sec"),
    )


@register("user_sessions", oracle=USER_SESSIONS_ORACLE)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionize each user's events with a 30-minute inactivity gap —
    ``session_window`` (dynamic gap-merged windows in the aggregation
    state, batch and streaming). Two events belong to one session iff
    their gap is at most {SESSION_GAP_SEC}s (``session_window`` merges
    events exactly the gap apart); the oracle replays that as the
    classic gap-and-islands window SQL, so the engine's session
    semantics (merge-on-overlap, end = last event + gap) is
    value-checked against first principles."""
    return sessions_from_events(D.events_sec(spark, sf_dir))


# --- grouping sets: ROLLUP over order dimensions -------------------------

@register(
    "orders_rollup",
    oracle="""
SELECT o_orderpriority, o_orderstatus,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
       count(*) AS n_orders
FROM orders
GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
""",
)
def orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals in one pass: (priority, status), per-priority
    subtotals, and the grand total — Catalyst expands the grouping sets
    into one Expand + single aggregation, not three scans. Decimal
    two-phase discipline keeps the double sums oracle-exact."""
    o = load_table(spark, sf_dir, "orders")
    return o.rollup("o_orderpriority", "o_orderstatus").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast("double").alias("revenue"),
        F.count("*").alias("n_orders"),
    )


@register(
    "events_cube",
    oracle=f"""
WITH es AS (SELECT event_type, user_id % 8 AS user_band, value FROM events)
SELECT event_type, user_band,
       CAST(GROUPING(event_type, user_band) AS BIGINT) AS gid,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
       count(*) AS n_events
FROM es
GROUP BY CUBE (event_type, user_band)
""",
)
def events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE over (event_type, user band): all four grouping sets
    — per-cell, both one-dimension marginals, and the grand total — in
    ONE Expand + single aggregation (the remaining GROUPING SETS shape
    after ``orders_rollup``'s hierarchy). ``grouping_id`` is emitted so
    a NULL grouping value is distinguishable from a NULL data value;
    Spark's bit order (first column = most significant) matches
    DuckDB/Postgres GROUPING(), which the oracle certifies. Decimal
    two-phase sums keep the double totals engine-exact. At scale this
    is one shuffle whose key set is the union of the grouping sets —
    Expand multiplies rows 4× BEFORE the map-side partial aggregation,
    so the exchange still carries only aggregated cells."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type", (F.col("user_id") % 8).alias("user_band"), "value"
    )
    return e.cube("event_type", "user_band").agg(
        F.grouping_id().cast("bigint").alias("gid"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        F.count("*").alias("n_events"),
    ).select("event_type", "user_band", "gid", "total_value", "n_events")


# --- analytic window functions over the event stream ----------------------

@register(
    "user_running_value",
    oracle=f"""
WITH es AS ({D.EVENTS_SEC_SQL})
SELECT event_id, user_id, sec,
       round(sum(value) OVER w, 6) AS running_value,
       CAST(row_number() OVER w AS BIGINT) AS n_events,
       lag(sec) OVER w AS prev_sec
FROM es
WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
)
def user_running_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running totals / event index / previous-event gap —
    the analytic-window surface (running sums accumulate in frame
    order, so the same (sec, event_id) ordering makes Spark's and
    DuckDB's left-associated double sums identical)."""
    from pyspark.sql.window import Window

    es = D.events_sec(spark, sf_dir)
    order = Window.partitionBy("user_id").orderBy("sec", "event_id")
    frame = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return es.select(
        "event_id", "user_id", "sec",
        F.round(F.sum("value").over(frame), 6).alias("running_value"),
        F.row_number().over(order).cast("bigint").alias("n_events"),
        F.lag("sec").over(order).alias("prev_sec"),
    )


# --- exact grouped percentiles -------------------------------------------

@register(
    "value_percentiles",
    oracle="""
SELECT event_type,
       round(quantile_cont(value, 0.25), 6) AS p25,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       round(max(value), 6) AS p_max
FROM events
GROUP BY event_type
""",
)
def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles per group (Spark
    ``percentile`` ≡ DuckDB ``quantile_cont``: both sort and
    interpolate v[lo] + frac·(v[hi]−v[lo])). The scale path is
    ``approx_percentile`` (t-digest sketch, no per-group sort) — exact
    stays here for the oracle."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.max("value"), 6).alias("p_max"),
    )


# --- TF-IDF top terms per document ---------------------------------------

TOP_TERMS_K = 3


@register(
    "top_terms",
    oracle=f"""
WITH words AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(text, '{WS_RUN_PATTERN}'), w -> w <> '')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM words GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT doc_id, term, tf, rank FROM (
  SELECT tf.doc_id, tf.term, tf.tf,
         row_number() OVER (
           PARTITION BY tf.doc_id
           ORDER BY round(tf.tf * ln((n.n_docs + 1e0) / (df.df + 1e0)), 6) DESC, tf.term
         ) AS rank
  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
) WHERE rank <= {TOP_TERMS_K}
""",
)
def top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} TF-IDF terms per document (idf = ln((N+1)/(df+1))).

    tf and df are two key-partitioned aggregations; the doc count is a
    broadcast 1-row side. Ranking rounds the score to 6 dp before
    comparison with a term tie-break, so the ordering is identical in
    both engines (ln agrees to ≤1 ulp; the round absorbs it)."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select("doc_id", F.explode(word_split("text")).alias("term"))
    tf = words.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    score = F.round(
        F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)), 6
    )
    w = Window.partitionBy("doc_id").orderBy(score.desc(), F.col("term").asc())
    return (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_TERMS_K)
        .select("doc_id", "term", "tf", F.col("rank").cast("bigint").alias("rank"))
    )
