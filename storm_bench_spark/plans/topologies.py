"""The reference's 12 topologies as batch DataFrame queries (SURVEY.md §2.10).

Each topology's query semantics, re-expressed over the driver testdata's
derived wire-format tables (sources/derived.py). Running-count
topologies are checked on final totals and windowed topologies on
per-window results, never on per-tuple emission traces — the documented
semantic mapping from Storm's per-tuple model to micro-batch
(SURVEY.md §4.3.1).

Window parameters: reference confs use 60s windows over a live feed.
The ``events`` fixture spans 30 days at minutes-level density, so
events-based windowed queries use 3600s/600s (same shape, meaningful
occupancy); document-based ones keep the reference's 60s/10s (and 60s/5s
for hashtags) over the synthetic 7s-spaced doc timeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from storm_bench_spark.functions.geo import zone_index
from storm_bench_spark.functions.parsers import parse_tweet_text
from storm_bench_spark.functions.text import WS_RUN_PATTERN, extract_hashtags, word_split
from storm_bench_spark.operators.flightdist import flight_dist_pairs
from storm_bench_spark.operators.windows import (
    sliding_agg_twophase,
    sliding_distinct_count,
)
from storm_bench_spark.plans import oracle_fragments as OF
from storm_bench_spark.plans.registry import register
from storm_bench_spark.sources import derived as D
from storm_bench_spark.sources.tables import load_table

GREP_PATTERN = "merge"  # reference default 'Tom' (conf/conf.yaml:33) never
# appears in the synthetic corpus; 'merge' does, so the filter is exercised.

# Flight-dist parameters: steps/Δt/chunk are the reference conf values
# (conf/conf.yaml:24-29); the 10 km threshold is rescaled to 50 km for the
# derived ~555 km coordinate box so the filter keeps a nontrivial fraction.
FLIGHT_DIST_THRESHOLD_KM = 50.0
FLIGHT_STEPS = 3
FLIGHT_STEP_SEC = 5
FLIGHT_CHUNK = 100
FLIGHT_PROBE = dict(
    dist_threshold_km=FLIGHT_DIST_THRESHOLD_KM,
    speculative_comp_num=FLIGHT_STEPS,
    speculative_comp_timestep_sec=FLIGHT_STEP_SEC,
)

# A topology with a streaming twin (plans/streaming_queries.py) keeps
# its operator body in a helper here; the twin runs that helper over
# the same derivation read through ``stream_table``.


# --- 1. WordCount (WordCount.java:38-47) ---------------------------------

WORDCOUNT_ORACLE = f"""
SELECT word, count(*) AS cnt
FROM (SELECT unnest(string_split_regex(text, '{WS_RUN_PATTERN}')) AS word FROM documents)
WHERE word <> ''
GROUP BY word
"""


def _word_counts(docs: DataFrame) -> DataFrame:
    words = docs.select(F.explode(word_split("text")).alias("word"))
    return words.groupBy("word").agg(F.count("*").alias("cnt"))


@register("wordcount", oracle=WORDCOUNT_ORACLE)
def wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kafka → split → running count per word ⇒ total count per word."""
    return _word_counts(load_table(spark, sf_dir, "documents"))


# --- 3. Grep (Grep.java:41-50) -------------------------------------------

@register(
    "grep",
    oracle=f"""
SELECT count(*) AS matches FROM documents WHERE regexp_matches(text, '{GREP_PATTERN}')
""",
)
def grep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kafka → rlike(pattern) → running match count ⇒ total matches."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.where(F.col("text").rlike(GREP_PATTERN)).agg(F.count("*").alias("matches"))


# --- 4. RollingCount (RollingCount.java:36-47): window 60s/10s -----------

_RC_INNER = f"""
SELECT sec, word FROM (
  SELECT sec, unnest(string_split_regex(text, '{WS_RUN_PATTERN}')) AS word FROM ({D.DOCUMENTS_TS_SQL})
) WHERE word <> ''
"""

ROLLING_COUNT_ORACLE = f"""
SELECT ws, word, count(*) AS cnt
FROM ({D.sliding_windows_sql(_RC_INNER, 60, 10)})
GROUP BY ws, word
"""


def _doc_words(d: DataFrame) -> DataFrame:
    return d.select("sec", F.explode(word_split("text")).alias("word"))


@register("rolling_count", oracle=ROLLING_COUNT_ORACLE)
def rolling_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window (60s/10s) count per word over the doc timeline."""
    words = _doc_words(D.documents_ts(spark, sf_dir))
    return sliding_agg_twophase(
        words, 60, 10, ["word"],
        [F.count("*").alias("_c")], [F.sum("_c").alias("cnt")],
    )


# --- 5. RollingHashtagCount (RollingHashtagCount.java:79-90): 60s/5s -----

_TAG_INNER = f"""
SELECT sec, tag FROM (
  SELECT sec, unnest(list_filter(string_split_regex(
            CASE WHEN starts_with(raw, '[') OR len(string_split(raw, '|')) <> 13
                 THEN NULL ELSE string_split(raw, '|')[5] END, '{WS_RUN_PATTERN}'),
            w -> starts_with(w, '#') AND length(w) > 1)) AS tag
  FROM ({D.TWEETS_SQL})
)
"""

# Shared with the streaming twin (plans/streaming_queries.py).
ROLLING_HASHTAG_ORACLE = f"""
SELECT ws, tag, count(*) AS cnt
FROM ({D.sliding_windows_sql(_TAG_INNER, 60, 5)})
GROUP BY ws, tag
"""


def _hashtags(t: DataFrame) -> DataFrame:
    text = parse_tweet_text("raw")
    return t.select("sec", F.explode(extract_hashtags(text)).alias("tag"))


@register("rolling_hashtag_count", oracle=ROLLING_HASHTAG_ORACLE)
def rolling_hashtag_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kafka → parse 13-field tweet → explode hashtags → window(60s/5s) count."""
    tags = _hashtags(D.tweets(spark, sf_dir))
    return sliding_agg_twophase(
        tags, 60, 5, ["tag"],
        [F.count("*").alias("_c")], [F.sum("_c").alias("cnt")],
    )


# --- 6. RollingGeoCount (RollingGeoCount.java:91-102) --------------------

_GEO_INNER = f"SELECT sec, {OF.sql_zone('lat', 'lng')} AS zone FROM ({D.ADSB_GEO_SQL})"

@register(
    "rolling_geo_count",
    oracle=f"""
SELECT ws, zone, count(*) AS cnt
FROM ({D.sliding_windows_sql(_GEO_INNER, 3600, 600)})
GROUP BY ws, zone
""",
)
def rolling_geo_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zone_index(lat,lng) → sliding window count per grid zone.

    (The reference's shipped conf leaves this topology's window keys
    unset — RollingGeoCount.java:38-39 reads rollingcount.* which is
    absent; we use a working 3600s/600s configuration.)
    """
    g = D.adsb_geo(spark, sf_dir)
    zones = g.select("sec", zone_index("lat", "lng").alias("zone"))
    # zone cardinality ≈ row count at every SF (94k distinct
    # (bucket, zone) of 100k rows at sf0.1), so the tumbling pre-agg
    # compresses nothing — take the one-shuffle pre-partitioned plan
    # (see sliding_agg_twophase; 0.70 s → 0.25 s measured)
    return sliding_agg_twophase(
        zones, 3600, 600, ["zone"],
        [F.count("*").alias("_c")], [F.sum("_c").alias("cnt")],
        pre_partition_by_keys=True,
    )


# --- 7. RollingSort (RollingSort.java:44-52) -----------------------------

ROLLING_SORT_ORACLE = f"""
SELECT event_id, message FROM ({D.MESSAGES_SQL})
ORDER BY message, event_id
LIMIT 100
"""
ROLLING_SORT_ORDER = ("message", "event_id")
ROLLING_SORT_TOP = 100


def _sorted_top(m: DataFrame) -> DataFrame:
    return m.orderBy(*ROLLING_SORT_ORDER).limit(ROLLING_SORT_TOP)


@register("rolling_sort", oracle=ROLLING_SORT_ORACLE)
def rolling_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Buffer → sort ascending → emit top rows (TakeOrderedAndProject).

    Batch analog of the per-tick ring-buffer sort (SURVEY.md §4.3.3):
    sort all buffered rows, keep the displayed top-k. The event_id
    tiebreak makes the limit deterministic.
    """
    return _sorted_top(D.messages(spark, sf_dir).select("event_id", "message"))


# --- 8. SOL (SOL.java:39-52): shuffle-throughput chain -------------------

SOL_ORACLE = f"SELECT message FROM ({D.MESSAGES_SQL})"
SOL_LEVEL = 3  # topology_level (conf/conf.yaml:32)


def _sol_chain(m: DataFrame) -> DataFrame:
    df = m.select("message")
    n = m.sparkSession.sparkContext.defaultParallelism
    for _ in range(SOL_LEVEL - 1):
        df = df.repartition(n)
    return df


@register("sol", oracle=SOL_ORACLE)
def sol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identity bolt chain with a shuffle between each level.

    SOL_LEVEL levels ⇒ SOL_LEVEL − 1 inter-level exchanges, reproduced
    as explicit round-robin repartitions. The query result is the
    identity; the shuffles are the benchmark.
    """
    return _sol_chain(D.messages(spark, sf_dir))


# --- 9. PageViewCount (PageViewCount.java:34-44) -------------------------

@register(
    "pageview_count",
    oracle=f"""
SELECT url, count(*) AS cnt FROM ({D.PAGEVIEWS_SQL}) GROUP BY url
""",
)
def pageview_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse pageview → project (url, 1) → count per url."""
    pv = D.pageviews(spark, sf_dir)
    return pv.groupBy("url").agg(F.count("*").alias("cnt"))


# --- 10. DataClean (DataClean.java:38-48) --------------------------------

@register(
    "dataclean",
    oracle=f"""
SELECT page_view FROM ({D.PAGEVIEWS_SQL}) WHERE http_status <> 200
""",
)
def dataclean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Emit the raw record for rows whose status ≠ 200.

    FilterBolt's actual semantics is exclusion (FilterBolt.java:41-56
    emits when input != toFilter), despite the topology name suggesting
    keep-200; we implement the code.
    """
    pv = D.pageviews(spark, sf_dir)
    return pv.where(F.col("http_status") != 200).select("page_view")


# --- 11. UniqueVisitor (UniqueVisitor.java:43-53) ------------------------

@register(
    "unique_visitor",
    oracle=f"""
SELECT ws, url, count(DISTINCT user_id) AS uniques
FROM ({D.sliding_windows_sql(f"SELECT sec, url, user_id FROM ({D.PAGEVIEWS_SQL})", 3600, 600)})
GROUP BY ws, url
""",
)
def unique_visitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window COUNT DISTINCT users per url (SetReducer → countDistinct).

    Exact distinct for oracle parity, two-phase: rows collapse to the
    per-slide-bucket distinct (url, user) set BEFORE the window fan-out,
    so the exchange never carries W/S× raw rows. The sketch-based
    100 TB variant is ``unique_visitor_approx`` (HLL union per window).
    """
    pv = D.pageviews(spark, sf_dir)
    return sliding_distinct_count(
        pv.select("sec", "url", "user_id"), 3600, 600, ["url"], "user_id", "uniques"
    )


def _uv_approx_oracle() -> str:
    from storm_bench_spark.operators.sketches import hll_estimate_sql

    windowed = D.sliding_windows_sql(
        f"SELECT sec, url, user_id FROM ({D.PAGEVIEWS_SQL})", 3600, 600
    )
    sql = hll_estimate_sql(
        source_sql=f"({windowed})",
        key_expr=["ws", "url"],
        value_expr="user_id",
        key_out=["ws", "url"],
    )
    return f"SELECT ws, url, approx_distinct AS uniques FROM ({sql})"


@register("unique_visitor_approx", oracle=_uv_approx_oracle())
def unique_visitor_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch variant of unique_visitor — the 100 TB path: HLL register
    rows per (slide-bucket, url), max-merged per window, so the
    distinct state is a fixed-size sketch instead of a user-id set and
    each raw row is aggregated once (not once per overlapping window;
    only the ≤m-row register tables fan out W/S×). Round-4 rewrite:
    the engine-native hll_sketch_agg (opaque binary, unreplayable) is
    replaced by the portable register sketch (operators/sketches.py),
    whose md5 hash + integer harmonic sums the DuckDB oracle replays
    bit-for-bit — the registry's last rows-only cell becomes a full
    oracle row, and the estimate survives ANY regrouping because
    register max-merge is the same monoid the windows already use.

    Round 10: the register table moves WIDE (one m-column row per
    (slide-bucket, url) instead of ≤m rows) — the window fan-out then
    shuffles m× fewer rows, the per-window merge is a column-wise MAX
    (same monoid), and the estimate becomes a pure projection, cutting
    the plan from three shuffles to two. Same hash/rho/harmonic math,
    so the unchanged DuckDB oracle certifies the layout change.
    """
    from storm_bench_spark.operators.sketches import (
        hll_estimate_wide,
        hll_merge_wide,
        hll_registers_wide,
    )

    pv = D.pageviews(spark, sf_dir).select("sec", "url", "user_id")
    slide, win = 600, 3600
    bucket = (F.col("sec") - (F.col("sec") % slide)).cast("long")
    regs = hll_registers_wide(pv.withColumn("_sb", bucket), ["_sb", "url"], "user_id")
    steps = F.explode(F.sequence(F.lit(0), F.lit(win // slide - 1))).alias("_k")
    fanned = regs.select("*", steps).withColumn(
        "ws", F.col("_sb") - F.col("_k") * slide
    )
    winregs = hll_merge_wide(fanned.drop("_sb", "_k"), ["ws", "url"])
    return hll_estimate_wide(winregs, ["ws", "url"]).withColumnRenamed(
        "approx_distinct", "uniques"
    )


# --- 12. RollingFlightDist (RollingFlightDist.java:313-327) --------------

def _flight_dist_side_sql(i: str) -> str:
    """Pair-level chord math for side ``i`` — mirrors, op for op, the
    Spark expressions in operators/flightdist._unit_vector so the
    oracle's doubles are bitwise-comparable (up to libm ulp, masked by
    the 6 dp rounding)."""
    rel = f"((spd{i} * {OF.KNOT}) * (t - pt{i})) / 1000e0 / {OF.R}"
    return f"""
  sin({rel}) AS sr{i}, cos({rel}) AS cr{i}"""


def _flight_dist_oracle(fl_sql: str = D.ADSB_FLIGHTS_SQL) -> str:
    sides_pre = ", ".join(
        f"{fn}(radians({src})) AS {dst}"
        for src, d in (("lat", "l"), ("trak", "t"), ("lng", "g"))
        for fn, dst in ((("sin"), f"s{d}"), (("cos"), f"c{d}"))
    )
    pair_cols = ", ".join(
        f"a.{c} AS {c}1, b.{c} AS {c}2"
        for c in ("pt", "spd", "sl", "cl", "st", "ct", "sg", "cg")
    )
    # Layered exactly like the Spark plan: x (sin lat'), cos lat',
    # sin/cos Δλ via a/n, b/n, rotated lng, 3-D unit vector, chord.
    sinlat2 = ", ".join(
        f"(sl{i} * cr{i}) + ((cl{i} * sr{i}) * ct{i}) AS x_{i}" for i in ("1", "2")
    )
    return f"""
WITH fl AS ({fl_sql}),
latest AS (
  SELECT * FROM fl
  QUALIFY row_number() OVER (PARTITION BY icao
                             ORDER BY postime DESC, event_id DESC) = 1
),
pre AS (
  SELECT icao, postime AS pt, spd, {sides_pre}
  FROM latest
),
stepped AS (
  SELECT a.icao AS icao1, b.icao AS icao2, {pair_cols}, grid.k AS step,
         greatest(a.pt, b.pt) + grid.k * {FLIGHT_STEP_SEC * 1000} AS t
  FROM pre a JOIN pre b ON a.icao < b.icao
  CROSS JOIN (SELECT unnest(range(0, {FLIGHT_STEPS})) AS k) grid
),
_s1 AS (SELECT *, {_flight_dist_side_sql('1')} FROM stepped),
_s2 AS (SELECT *, {_flight_dist_side_sql('2')} FROM _s1),
_x2 AS (SELECT *, {sinlat2} FROM _s2),
rot AS (
  SELECT *,
         sqrt(1e0 - (x_1 * x_1)) AS cl2_1, sqrt(1e0 - (x_2 * x_2)) AS cl2_2,
         (st1 * sr1) * cl1 AS a_1, cr1 - (sl1 * x_1) AS b_1,
         (st2 * sr2) * cl2 AS a_2, cr2 - (sl2 * x_2) AS b_2
  FROM _x2
),
dl AS (
  SELECT *,
         a_1 / sqrt((a_1 * a_1) + (b_1 * b_1)) AS sd_1,
         b_1 / sqrt((a_1 * a_1) + (b_1 * b_1)) AS cd_1,
         a_2 / sqrt((a_2 * a_2) + (b_2 * b_2)) AS sd_2,
         b_2 / sqrt((a_2 * a_2) + (b_2 * b_2)) AS cd_2
  FROM rot
),
vec AS (
  SELECT icao1, icao2, step,
         cl2_1 * ((cg1 * cd_1) - (sg1 * sd_1)) AS vx1,
         cl2_1 * ((sg1 * cd_1) + (cg1 * sd_1)) AS vy1,
         x_1 AS vz1,
         cl2_2 * ((cg2 * cd_2) - (sg2 * sd_2)) AS vx2,
         cl2_2 * ((sg2 * cd_2) + (cg2 * sd_2)) AS vy2,
         x_2 AS vz2
  FROM dl
)
SELECT round(dist_km_raw, 6) AS dist_km, step, icao1, icao2
FROM (
  SELECT icao1, icao2, step,
         (2e0 * {OF.R}) * asin(least(sqrt(
           (((vx1 - vx2) * (vx1 - vx2)) + ((vy1 - vy2) * (vy1 - vy2))
            + ((vz1 - vz2) * (vz1 - vz2))) / 4e0), 1e0)) AS dist_km_raw
  FROM vec
)
WHERE dist_km_raw <= {FLIGHT_DIST_THRESHOLD_KM}
ORDER BY dist_km, icao1, icao2, step
LIMIT {FLIGHT_CHUNK}
"""


FLIGHT_DIST_ORACLE = _flight_dist_oracle()


def _flight_top_k(hits: DataFrame) -> DataFrame:
    """The emitted chunk: the FLIGHT_CHUNK nearest pair-steps, distances
    at the oracle's 6 dp."""
    ranked = hits.select(
        F.round(F.col("dist_km"), 6).alias("dist_km"), "step", "icao1", "icao2"
    )
    return ranked.orderBy("dist_km", "icao1", "icao2", "step").limit(FLIGHT_CHUNK)


@register("rolling_flight_dist", oracle=FLIGHT_DIST_ORACLE)
def rolling_flight_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest position per aircraft → canonical pair self-join (broadcast)
    → dead-reckoned speculative distances → threshold → global top-k."""
    return _flight_top_k(flight_dist_pairs(D.adsb_flights(spark, sf_dir), **FLIGHT_PROBE))


# Fresh-snapshot window for the grid-pruned twin: a live collision
# monitor probes recent state, not 30 days of history; freshness also
# keeps the lossless grid envelope (threshold + 2·max dead-reckoned
# travel) small enough that the cell join actually prunes.
FLIGHT_FRESH_MS = 2 * 3600 * 1000

FLIGHT_DIST_BUCKETED_ORACLE = _flight_dist_oracle(
    f"""SELECT * FROM ({D.ADSB_FLIGHTS_SQL})
WHERE postime >= (SELECT max(postime) FROM ({D.ADSB_FLIGHTS_SQL})) - {FLIGHT_FRESH_MS}"""
)


@register("rolling_flight_dist_bucketed", oracle=FLIGHT_DIST_BUCKETED_ORACLE)
def rolling_flight_dist_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rolling_flight_dist over a fresh (2 h) snapshot with grid-pruned
    pair generation: candidates come from a BroadcastHashJoin on coarse
    lat/lon cells (8-neighbor replication on the build side) instead of
    the all-pairs theta join — the 100 TB path for very large live
    aircraft counts. Cell sizing is provably lossless
    (operators/flightdist._grid_spec), so results equal the unbucketed
    operator on the same snapshot; the reference itself probes all
    state with no pruning (RollingFlightDist.java:220-260)."""
    fl = D.adsb_flights(spark, sf_dir)
    maxpt = fl.agg(F.max("postime").alias("m")).first()["m"]
    fresh = fl.where(F.col("postime") >= F.lit(maxpt - FLIGHT_FRESH_MS))
    return _flight_top_k(flight_dist_pairs(fresh, bucketed=True, **FLIGHT_PROBE))


# --- Library op: RollingLatLongBolt (+ LatLongReducer) -------------------

@register(
    "rolling_latlong",
    oracle=f"""
WITH w AS ({D.sliding_windows_sql(f"SELECT *, postime // 1000 AS sec FROM ({D.ADSB_FLIGHTS_SQL})", 3600, 600)})
SELECT ws, icao, postime, round(lat, 6) AS lat, round(lng, 6) AS lng
FROM w
QUALIFY row_number() OVER (PARTITION BY ws, icao
                           ORDER BY postime DESC, event_id DESC) = 1
""",
)
def rolling_latlong(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window latest (postime, lat, lng) per aircraft — the argmax
    reducer (LatLongReducer.java:27-41), two-phase: latest per
    (slide-bucket, icao) first, then a bucket-level max per window.
    The argmax is packed as max(struct(postime, event_id, payload)) —
    struct ordering is lexicographic at any id range (integer packing
    like postime·10^6+event_id inverts once event_id reaches 10^6) and
    (postime, event_id) is unique, so bucket maxima merge exactly like
    the LatLongReducer monoid."""
    fl = D.adsb_flights(spark, sf_dir)
    fl = fl.withColumn("sec", F.floor(F.col("postime") / 1000).cast("bigint"))
    packed = F.struct(
        F.col("postime"), F.col("event_id"), F.col("lat"), F.col("lng")
    )
    res = sliding_agg_twophase(
        fl, 3600, 600, ["icao"],
        [F.max(packed).alias("m")], [F.max("m").alias("m")],
    )
    return res.select(
        "ws", "icao", F.col("m.postime").alias("postime"),
        F.round(F.col("m.lat"), 6).alias("lat"), F.round(F.col("m.lng"), 6).alias("lng"),
    )


# --- Library op: Distinct combiner (Distinct.java:28-55) -----------------

@register("distinct_users", oracle="SELECT DISTINCT user_id FROM events")
def distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-union distinct accumulate as a DataFrame distinct."""
    return load_table(spark, sf_dir, "events").select("user_id").distinct()
