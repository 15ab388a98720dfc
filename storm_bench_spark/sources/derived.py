"""Deterministic derived tables: reference wire formats over the testdata.

The driver's testdata (TESTDATA.md) has no pageview/tweet/ADS-B/message
tables, so each reference format is DERIVED deterministically from
``events`` / ``documents`` — in two synchronized renderings:

1. a Spark DataFrame builder (idiomatic column expressions), and
2. a DuckDB SQL fragment (used to compose ``oracle_sql()`` strings).

Both renderings implement the *same arithmetic on the same columns*, so
the driver's Spark-vs-DuckDB comparison checks the engine, not the
fixture. Distributions follow FIXTURES.md / PageViewGenerator.java:37-42
(url 70/20/10, status 95/5, zip 50/50).

The wire-format builders take a ``read`` table reader, so a streaming
row derives its format with the same function over ``stream_table``
that its batch twin runs over ``load_table``.

Naming: ``sec`` is epoch seconds (BIGINT) — window arithmetic and oracle
comparison happen on integers, never on engine-formatted timestamps.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from storm_bench_spark.sources.tables import load_table

# ``(spark, sf_dir, table) -> DataFrame``: ``load_table`` for a batch
# row, ``streaming.streams.stream_table`` for its streaming twin — the
# one thing the two sides of a twin read differently.
Reader = Callable[[SparkSession, str, str], DataFrame]

DOC_EPOCH = 1_704_067_200  # 2024-01-01T00:00:00Z
DOC_TS_STEP_SEC = 7  # monotone synthetic event-time for documents


# --- documents with synthetic event-time ---------------------------------

def documents_ts(spark: SparkSession, sf_dir: str, read: Reader = load_table) -> DataFrame:
    d = read(spark, sf_dir, "documents")
    return d.withColumn("sec", (F.lit(DOC_EPOCH) + F.col("doc_id") * DOC_TS_STEP_SEC).cast("bigint"))


DOCUMENTS_TS_SQL = (
    f"SELECT doc_id, text, lang, source, n_chars, "
    f"CAST({DOC_EPOCH} + doc_id * {DOC_TS_STEP_SEC} AS BIGINT) AS sec FROM documents"
)


# --- events base: epoch seconds ------------------------------------------

def events_sec(spark: SparkSession, sf_dir: str, read: Reader = load_table) -> DataFrame:
    e = read(spark, sf_dir, "events")
    return e.withColumn("sec", F.col("ts").cast("long"))


EVENTS_SEC_SQL = (
    "SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec, user_id, "
    "event_type, value, props FROM events"
)


# --- pageviews (PageView.java wire format over events) -------------------

def pageviews(spark: SparkSession, sf_dir: str, read: Reader = load_table) -> DataFrame:
    e = events_sec(spark, sf_dir, read)
    url = (
        F.when(F.col("user_id") % 10 < 7, F.lit("foo.com"))
        .when(F.col("user_id") % 10 < 9, F.lit("foo.news.com"))
        .otherwise(F.lit("foo.contact.com"))
    )
    status = F.when(F.col("event_id") % 20 == 0, F.lit(404)).otherwise(F.lit(200))
    zipc = F.when(F.col("event_id") % 2 == 0, F.lit(94709)).otherwise(F.lit(94117))
    df = e.select(
        "event_id",
        "sec",
        url.alias("url"),
        status.alias("http_status"),
        zipc.alias("zip_code"),
        F.col("user_id").cast("int").alias("user_id"),
    )
    return df.withColumn(
        "page_view",
        F.concat_ws(
            "\t",
            F.col("url"),
            F.col("http_status").cast("string"),
            F.col("zip_code").cast("string"),
            F.col("user_id").cast("string"),
        ),
    )


PAGEVIEWS_SQL = f"""
SELECT *, concat_ws(chr(9), url, CAST(http_status AS VARCHAR),
                    CAST(zip_code AS VARCHAR), CAST(user_id AS VARCHAR)) AS page_view
FROM (
  SELECT event_id, sec,
         CASE WHEN user_id % 10 < 7 THEN 'foo.com'
              WHEN user_id % 10 < 9 THEN 'foo.news.com'
              ELSE 'foo.contact.com' END AS url,
         CASE WHEN event_id % 20 = 0 THEN 404 ELSE 200 END AS http_status,
         CASE WHEN event_id % 2 = 0 THEN 94709 ELSE 94117 END AS zip_code,
         CAST(user_id AS INTEGER) AS user_id
  FROM ({EVENTS_SEC_SQL})
)
"""


# --- ADS-B analogs (two flavors) -----------------------------------------
# Wide-range coordinates for zone counting (includes latitudes in the
# 'undefined' band to exercise the sentinel), and a compact ~5°x5° box
# for the flight-distance join (so a km threshold is meaningful).

def adsb_geo(spark: SparkSession, sf_dir: str, read: Reader = load_table) -> DataFrame:
    e = events_sec(spark, sf_dir, read)
    return e.select(
        "event_id",
        "sec",
        ((F.col("value") * 7.0) % 170.0 - 85.0).alias("lat"),
        ((F.col("value") * 13.0) % 360.0 - 180.0).alias("lng"),
    )


ADSB_GEO_SQL = f"""
SELECT event_id, sec,
       (value * 7.0) % 170.0 - 85.0 AS lat,
       (value * 13.0) % 360.0 - 180.0 AS lng
FROM ({EVENTS_SEC_SQL})
"""


def adsb_flights(spark: SparkSession, sf_dir: str, read: Reader = load_table) -> DataFrame:
    return events_sec(spark, sf_dir, read).select(
        "event_id",
        F.lpad(F.col("user_id").cast("string"), 6, "0").alias("icao"),
        (F.col("sec") * 1000).cast("bigint").alias("postime"),
        (F.col("value") % 5.0).alias("lat"),
        ((F.col("value") * 7.0) % 5.0).alias("lng"),
        ((F.col("value") * 3.0) % 600.0).alias("spd"),
        ((F.col("value") * 11.0) % 360.0).alias("trak"),
    )


ADSB_FLIGHTS_SQL = f"""
SELECT event_id,
       lpad(CAST(user_id AS VARCHAR), 6, '0') AS icao,
       CAST(sec * 1000 AS BIGINT) AS postime,
       value % 5.0 AS lat,
       (value * 7.0) % 5.0 AS lng,
       (value * 3.0) % 600.0 AS spd,
       (value * 11.0) % 360.0 AS trak
FROM ({EVENTS_SEC_SQL})
"""


# --- messages (RandomMessageSpout analog: pool of 100) -------------------

def messages(spark: SparkSession, sf_dir: str, read: Reader = load_table) -> DataFrame:
    return events_sec(spark, sf_dir, read).select(
        "event_id",
        "sec",
        F.lpad((F.col("event_id") % 100).cast("string"), 3, "0").alias("message"),
    )


MESSAGES_SQL = f"""
SELECT event_id, sec,
       lpad(CAST(event_id % 100 AS VARCHAR), 3, '0') AS message
FROM ({EVENTS_SEC_SQL})
"""


# --- tweets (13 pipe-separated fields, hashtags injected) ----------------
# Words of >= 6 letters become '#'-prefixed hashtags inside the text
# field, so the arity-13 parser and the '#'-extractor both do real work.

def tweets(spark: SparkSession, sf_dir: str, read: Reader = load_table) -> DataFrame:
    tagged = F.regexp_replace(F.col("text"), r"(\w{6,})", r"#$1")
    fields = [F.lit(f"f{i}") for i in range(13)]
    fields[4] = tagged
    return documents_ts(spark, sf_dir, read).select(
        "doc_id",
        "sec",
        F.concat_ws("|", *fields).alias("raw"),
    )


TWEETS_SQL = f"""
SELECT doc_id, sec,
       concat_ws('|', 'f0', 'f1', 'f2', 'f3',
                 regexp_replace(text, '(\\w{{6,}})', '#\\1', 'g'),
                 'f5', 'f6', 'f7', 'f8', 'f9', 'f10', 'f11', 'f12') AS raw
FROM ({DOCUMENTS_TS_SQL})
"""


# --- PII-annotated documents (for the redaction scrub) -------------------
# The fixture corpus is digit-free, so a PII scrub over raw ``text``
# would be a vacuous zero-match pass. Instead, deterministic contact
# strings (emails, a NANP-style phone, an IPv4, an SSN-shaped id) are
# injected from doc_id arithmetic — the same string-building in both
# renderings, so the cross-engine gate checks the REDACTION, not the
# fixture. Injection sites cover string start (second email), mid-doc
# adjacency (suffix chain), multi-category docs (doc_id ≡ 9 mod 36
# carries all four), and ~23% of docs carry nothing (the zero path).

def docs_with_pii(d: DataFrame) -> DataFrame:
    """Add ``pii_text`` to any (doc_id, text) frame. Narrow per-row
    column expressions only — no shuffle, no UDF."""
    did = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    email1 = F.concat(F.lit("user"), s(did), F.lit("@example.com"))
    email2 = F.concat(F.lit("admin"), s(did), F.lit("@mail.example.org"))
    phone = F.concat(
        F.lit("+1-"), F.lpad(s(did * 7 % 1000), 3, "0"),
        F.lit("-"), F.lpad(s(did * 13 % 1000), 3, "0"),
        F.lit("-"), F.lpad(s(did * 17 % 10000), 4, "0"),
    )
    ip = F.concat(
        s(did % 256), F.lit("."), s(did * 3 % 256), F.lit("."),
        s(did * 5 % 256), F.lit("."), s(did * 11 % 256),
    )
    ssn = F.concat(
        s(did % 900 + 100), F.lit("-"), s(did % 89 + 10), F.lit("-"),
        s(did % 9000 + 1000),
    )
    blank = F.lit("")
    pii_text = F.concat(
        F.when(did % 9 == 0, F.concat(F.lit("cc "), email2, F.lit(" "))).otherwise(blank),
        F.col("text"),
        F.when(did % 3 == 0, F.concat(F.lit(" reach "), email1)).otherwise(blank),
        F.when(did % 4 == 1, F.concat(F.lit(" call "), phone)).otherwise(blank),
        F.when(did % 5 == 2, F.concat(F.lit(" from "), ip)).otherwise(blank),
        F.when(did % 7 == 3, F.concat(F.lit(" id "), ssn)).otherwise(blank),
    )
    return d.withColumn("pii_text", pii_text)


DOCS_WITH_PII_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 9 = 0
            THEN 'cc admin' || CAST(doc_id AS VARCHAR) || '@mail.example.org '
            ELSE '' END
       || text
       || CASE WHEN doc_id % 3 = 0
               THEN ' reach user' || CAST(doc_id AS VARCHAR) || '@example.com'
               ELSE '' END
       || CASE WHEN doc_id % 4 = 1
               THEN ' call +1-' || lpad(CAST(doc_id * 7 % 1000 AS VARCHAR), 3, '0')
                    || '-' || lpad(CAST(doc_id * 13 % 1000 AS VARCHAR), 3, '0')
                    || '-' || lpad(CAST(doc_id * 17 % 10000 AS VARCHAR), 4, '0')
               ELSE '' END
       || CASE WHEN doc_id % 5 = 2
               THEN ' from ' || CAST(doc_id % 256 AS VARCHAR)
                    || '.' || CAST(doc_id * 3 % 256 AS VARCHAR)
                    || '.' || CAST(doc_id * 5 % 256 AS VARCHAR)
                    || '.' || CAST(doc_id * 11 % 256 AS VARCHAR)
               ELSE '' END
       || CASE WHEN doc_id % 7 = 3
               THEN ' id ' || CAST(doc_id % 900 + 100 AS VARCHAR)
                    || '-' || CAST(doc_id % 89 + 10 AS VARCHAR)
                    || '-' || CAST(doc_id % 9000 + 1000 AS VARCHAR)
               ELSE '' END AS pii_text
FROM documents
"""


# --- sliding-window oracle fragment --------------------------------------

def sliding_windows_sql(inner_sql: str, window_sec: int, slide_sec: int) -> str:
    """Explode each row of ``inner_sql`` (must expose ``sec``) into the
    sliding windows that contain it; adds ``ws`` (window start, BIGINT
    epoch seconds). Mirrors Spark's ``window(ts, W, S)`` epoch alignment.
    """
    n = window_sec // slide_sec
    return f"""
SELECT inner_q.*, (inner_q.sec // {slide_sec} - grid.k) * {slide_sec} AS ws
FROM ({inner_sql}) inner_q
CROSS JOIN (SELECT unnest(range(0, {n})) AS k) grid
WHERE (inner_q.sec // {slide_sec} - grid.k) * {slide_sec} + {window_sec} > inner_q.sec
"""
