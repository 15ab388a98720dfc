"""Typed layouts for the reference wire formats the parsers read
(SURVEY.md §1.3): the ADS-B position record and the tweet line.

The reference's tuples are dynamically typed (Object + casts); here a
record gets an explicit StructType (a delimited line, its arity and
field index) so Catalyst can prune/pushdown and so parsers are total
functions with declared output shape.
"""

from __future__ import annotations

from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# ADS-B aircraft position, VRS JSON dump line (RollingFlightDist.java:90-114).
ADSB_SCHEMA = StructType(
    [
        StructField("Icao", StringType()),
        StructField("PosTime", LongType()),  # epoch millis
        StructField("Lat", DoubleType()),
        StructField("Long", DoubleType()),
        StructField("Spd", DoubleType()),  # knots
        StructField("Trak", DoubleType()),  # degrees
        StructField("Gnd", BooleanType()),
    ]
)

# Tweet: exactly 13 pipe-separated fields, text at index 4
# (RollingHashtagCount.java:52-69).
TWEET_ARITY = 13
TWEET_TEXT_INDEX = 4
