"""TPC-H-style headline queries over the testdata star schema.

The reference has no joins beyond the flight-dist self-join, but the
engine exposes Spark's full relational surface; these queries are the
coverage proof (multi-way joins, broadcast dims, grouped decimal
aggregation) and the bench workload alongside the topology queries.

Determinism discipline for oracle parity: double measures are summed as
``SUM(CAST(expr AS DECIMAL(18,6)))`` — the per-row double→decimal
conversion is deterministic in both engines (binary doubles never hit a
decimal rounding midpoint at scale 6) and decimal addition is
associative, so Spark's partition-order-dependent summation cannot
drift from DuckDB's sequential sum. Averages divide the exact decimal
sum as double by the row count. Final casts pin a fixed decimal type on
both sides.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from storm_bench_spark.plans.registry import register
from storm_bench_spark.sources.tables import load_table

DEC_ROW = "decimal(18,6)"


def _dsum(expr: Column) -> Column:
    # Exact decimal summation (associative — immune to partition order),
    # surfaced as DOUBLE: the decimal→double conversion of the one exact
    # sum is deterministic, and pandas/DuckDB render it identically.
    return F.sum(expr.cast(DEC_ROW)).cast("double")


# --- two-phase exact decimal totals (the scan-heavy agg path) ------------
# Spark's sum over DECIMAL(18,6) widens the accumulator past the
# long-backed compact range, so every row pays a BigDecimal add in the
# hash aggregate — measured ~2× the whole aggregation cost of Q1. The
# two-phase spelling keeps the per-row path in pure long arithmetic:
#
#   phase 1 (per partition, per group): sum micro-unit BIGINTs, where
#     micro = CAST(expr AS DECIMAL(18,6)) * 1e6 — the identical per-row
#     rounding the oracle's decimal cast applies, so partials are exact
#     integers. A partition holds at most a few million rows (bounded by
#     files.maxPartitionBytes), so |partial| ≤ rows·1e12 stays ~50×
#     under Long.MAX regardless of total data size — this is the
#     100 TB-safe envelope, unlike a single long sum whose bound decays
#     with table size.
#   phase 2 (per group): sum the handful of integer partials in
#     DECIMAL(38,0) — exact, associative — and reconstruct the value in
#     decimal space (÷1e6 at scale ≥6 is exact) before ONE cast to
#     double. Bitwise-equal to the oracle's CAST(SUM(DECIMAL) AS
#     DOUBLE) at any partition count.

MICRO = 1_000_000


def _micro(expr: Column) -> Column:
    return (expr.cast(DEC_ROW) * MICRO).cast("bigint")


def _from_micro(total: Column) -> Column:
    return (total.cast("decimal(38,6)") / MICRO).cast("double")


# --- Q1: pricing summary -------------------------------------------------

@register(
    "tpch_q1",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_qty,
       CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-12-01'
GROUP BY l_returnflag, l_linestatus
""",
)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped pricing summary — two-phase exact aggregation: per-row
    work is long arithmetic (see ``_micro``), the wide-decimal merge
    touches only #partitions·#groups partial rows."""
    l = load_table(spark, sf_dir, "lineitem").where(F.col("l_shipdate") <= F.lit("1998-12-01"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    keys = ["l_returnflag", "l_linestatus"]
    partials = l.groupBy(*keys, F.spark_partition_id().alias("_pid")).agg(
        F.sum(_micro(F.col("l_quantity"))).alias("m_qty"),
        F.sum(_micro(F.col("l_extendedprice"))).alias("m_base"),
        F.sum(_micro(disc_price)).alias("m_disc"),
        F.sum(_micro(charge)).alias("m_charge"),
        F.sum(_micro(F.col("l_discount"))).alias("m_dct"),
        F.count("*").alias("cnt"),
    )
    d38 = lambda c: F.sum(F.col(c).cast("decimal(38,0)"))
    return (
        partials.groupBy(*keys)
        .agg(
            d38("m_qty").alias("t_qty"),
            d38("m_base").alias("t_base"),
            d38("m_disc").alias("t_disc"),
            d38("m_charge").alias("t_charge"),
            d38("m_dct").alias("t_dct"),
            F.sum("cnt").alias("count_order"),
        )
        .select(
            *keys,
            _from_micro(F.col("t_qty")).alias("sum_qty"),
            _from_micro(F.col("t_base")).alias("sum_base_price"),
            _from_micro(F.col("t_disc")).alias("sum_disc_price"),
            _from_micro(F.col("t_charge")).alias("sum_charge"),
            (_from_micro(F.col("t_qty")) / F.col("count_order")).alias("avg_qty"),
            (_from_micro(F.col("t_dct")) / F.col("count_order")).alias("avg_disc"),
            F.col("count_order"),
        )
    )


# --- Q4: order priority checking (EXISTS semi-join) ----------------------

@register(
    "tpch_q4",
    oracle="""
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1997-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
  )
GROUP BY o_orderpriority
""",
)
def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4's shape — EXISTS as a LEFT SEMI join: the fact side never
    duplicates (no distinct needed, unlike inner join + dedup). The
    fixture lineitem carries no commit/receipt dates, so the "late
    line" predicate is adapted to l_shipdate > o_orderdate (a
    correlated column pair, preserving the join-condition-plus-filter
    plan shape of the spec query)."""
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-04-01"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(
            l,
            (o.o_orderkey == l.l_orderkey) & (l.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


# --- Q6: forecasting revenue change (pure scan-agg) ----------------------

@register(
    "tpch_q6",
    oracle="""
SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-table predicate scan + one exact decimal sum: the
    pushdown showcase — every filter reaches the parquet scan and the
    agg ships one partial row per partition."""
    l = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return l.agg(_dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))


# --- Q3: shipping priority (top unshipped orders) ------------------------

@register(
    "tpch_q3",
    oracle="""
SELECT l_orderkey,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
       CAST(floor(epoch(o_orderdate)) AS BIGINT) AS o_sec
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join, grouped revenue, global top-10 (TakeOrderedAndProject)."""
    c = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderdate") < F.lit("1998-01-01"))
    l = load_table(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > F.lit("1998-01-01"))
    joined = l.join(o, l.l_orderkey == o.o_orderkey).join(
        F.broadcast(c), o.o_custkey == c.c_custkey
    )
    g = joined.groupBy("l_orderkey", "o_orderdate").agg(
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    )
    return (
        g.select(
            "l_orderkey", "revenue", F.col("o_orderdate").cast("long").alias("o_sec")
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


# --- Q5: local supplier volume (6-way join) ------------------------------

@register(
    "tpch_q5",
    oracle="""
SELECT n_name,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM region
JOIN nation ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
""",
)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: fact lineitem joined to broadcast dimensions, revenue per nation.

    region/nation/supplier are broadcast explicitly (allGrouping analog);
    customer⋈orders⋈lineitem shuffle on keys with AQE free to re-plan.
    """
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    joined = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .join(F.broadcast(s), (l.l_suppkey == s.s_suppkey) & (s.s_nationkey == c.c_nationkey))
    )
    return joined.groupBy("n_name").agg(
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    )


# --- Q14: promotion effect (conditional ratio over a part join) ----------

@register(
    "tpch_q14",
    oracle="""
SELECT CAST(100.0 * sum(CASE WHEN p_type = 'PROMO'
                 THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
                 ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
       / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
       AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-03-01'
  AND l_shipdate < TIMESTAMP '1997-04-01'
""",
)
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promo revenue share: one broadcast join to part, conditional
    decimal sums, one output row (the fixture's p_type is a flat
    category, so the spec's LIKE 'PROMO%' becomes equality)."""
    l = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-03-01"))
        & (F.col("l_shipdate") < F.lit("1997-04-01"))
    )
    p = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev.cast(DEC_ROW)).otherwise(
        F.lit(0).cast(DEC_ROW)
    )
    j = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    return j.agg(
        (
            100.0 * F.sum(promo).cast("double") / F.sum(rev.cast(DEC_ROW)).cast("double")
        ).alias("promo_revenue")
    )


# --- Q19: discounted revenue (OR-of-ANDs bracket predicates) --------------

@register(
    "tpch_q19",
    oracle="""
SELECT CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 1 AND l_quantity <= 20)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity >= 10 AND l_quantity <= 30)
   OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 35 AND l_quantity >= 20 AND l_quantity <= 40)
""",
)
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bracket query: three OR'd conjunctions spanning both join
    sides. Catalyst pushes the per-side disjunction residuals below
    the join (brand/size to the part scan, quantity to lineitem) and
    keeps the cross-side OR as the join filter — the optimizer test
    the spec designed this query to be."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    j = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    bracket = lambda brand, smax, qlo, qhi: (
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, smax)
        & F.col("l_quantity").between(qlo, qhi)
    )
    cond = bracket("Brand#11", 15, 1, 20) | bracket("Brand#23", 25, 10, 30) | bracket(
        "Brand#15", 35, 20, 40
    )
    return j.where(cond).agg(
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    )


# --- Q10: returned-item reporting (top 20 customers) ----------------------

@register(
    "tpch_q10",
    oracle="""
SELECT c_custkey, c_name,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
       n_name
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1997-07-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-revenue per customer, top 20: fact-side filters push to
    both scans, nation broadcasts, and the global top-k is
    TakeOrderedAndProject — no full sort ever materializes."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-07-01"))
    )
    l = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    g = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )
    return g.select("c_custkey", "c_name", "revenue", "n_name").orderBy(
        F.desc("revenue"), "c_custkey"
    ).limit(20)


# --- Q12: shipping modes and order priority (conditional counts) ----------

@register(
    "tpch_q12",
    oracle="""
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders
JOIN lineitem ON l_orderkey = o_orderkey
WHERE l_returnflag IN ('R', 'A')
  AND l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_returnflag
""",
)
def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12's shape — conditional counts after an equi-join, every
    lineitem predicate pushed below the join so the shuffle carries
    only qualifying rows + the priority flag. The fixture lineitem has
    no shipmode/commit/receipt columns; l_returnflag stands in for the
    mode bucket and l_shipdate for the receipt window."""
    l = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag").isin("R", "A")
        & (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    o = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )
