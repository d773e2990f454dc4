"""Batch relational queries over the TPC-H-ish testdata.

These exercise the SURVEY §2 batch inventory on neutral data: projection
(P1-P6), filters (F1-F5), equi + theta joins (J1/J2), aggregation (A1-A3),
window functions (W1), sort/limit/top-k (O1-O3), and the scalar kit
(X3-X10, X15). Each query's docstring says which rows it covers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ue_big_data_project_spark.functions import pround, sql_round
from ue_big_data_project_spark.operators.asof import asof_join
from ue_big_data_project_spark.operators.geo import nearest_points
from ue_big_data_project_spark.queries import QuerySpec
from ue_big_data_project_spark.queries.tables import load_tables


# Exact-aggregation discipline: cast the BASE columns (whose values are
# true 2-decimal decimals in the testdata) to DECIMAL, then keep all
# arithmetic in decimal — exact and associative, so Spark and DuckDB agree
# bit-for-bit regardless of partitioning. Casting a *computed* double
# product to decimal instead would round at engine-specific boundaries
# (Spark re-parses the shortest repr, DuckDB rounds the binary value).


def d2(c: Column) -> Column:
    """Amount column → DECIMAL(12,2) (exact for 2-decimal source data)."""
    return c.cast("decimal(12,2)")


def d4(c: Column) -> Column:
    """Rate column (discount/tax, < 10) → DECIMAL(4,2)."""
    return c.cast("decimal(4,2)")


def sql_d2(expr: str) -> str:
    return f"CAST({expr} AS DECIMAL(12,2))"


def sql_d4(expr: str) -> str:
    return f"CAST({expr} AS DECIMAL(4,2))"


def dsum(term: Column, scale: int = 2) -> Column:
    """Σ of an exact decimal term → double, portably rounded."""
    return pround(F.sum(term).cast("double"), scale)


def davg(term: Column, scale: int = 4) -> Column:
    return pround(F.sum(term).cast("double") / F.count(F.lit(1)), scale)


def sql_dsum(expr: str, scale: int = 2) -> str:
    """Oracle twin of :func:`dsum` (``expr`` must be a decimal term)."""
    return sql_round(f"CAST(sum({expr}) AS DOUBLE)", scale)


def sql_davg(expr: str, scale: int = 4) -> str:
    """Oracle twin of :func:`davg`."""
    return sql_round(f"CAST(sum({expr}) AS DOUBLE) / count(*)", scale)


# The revenue/charge terms used across the TPC-H-shaped queries.
def disc_price_dec() -> Column:
    return d2(F.col("l_extendedprice")) * (F.lit(1) - d4(F.col("l_discount")))


def charge_dec() -> Column:
    return disc_price_dec() * (F.lit(1) + d4(F.col("l_tax")))


SQL_DISC_PRICE = (
    f"{sql_d2('l_extendedprice')} * (1 - {sql_d4('l_discount')})"
)
SQL_CHARGE = f"({SQL_DISC_PRICE}) * (1 + {sql_d4('l_tax')})"


# --------------------------------------------------------------------------
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-filter-agg (A1/A2 grouped multi-agg at scale).

    Covers P1/P4/P5, F2 (range predicate pushed to parquet), grouped
    sum/avg/count. One shuffle on (returnflag, linestatus); partial
    aggregation is map-side so the shuffle moves 6 groups, not 60k rows.
    """
    l = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(d2(F.col("l_quantity"))).alias("sum_qty"),
            dsum(d2(F.col("l_extendedprice"))).alias("sum_base_price"),
            dsum(disc_price_dec()).alias("sum_disc_price"),
            dsum(charge_dec()).alias("sum_charge"),
            davg(d2(F.col("l_quantity"))).alias("avg_qty"),
            davg(d2(F.col("l_extendedprice"))).alias("avg_price"),
            davg(d4(F.col("l_discount"))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
  {sql_dsum(sql_d2("l_quantity"))} AS sum_qty,
  {sql_dsum(sql_d2("l_extendedprice"))} AS sum_base_price,
  {sql_dsum(SQL_DISC_PRICE)} AS sum_disc_price,
  {sql_dsum(SQL_CHARGE)} AS sum_charge,
  {sql_davg(sql_d2("l_quantity"))} AS avg_qty,
  {sql_davg(sql_d2("l_extendedprice"))} AS avg_price,
  {sql_davg(sql_d4("l_discount"))} AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-12-01'
GROUP BY l_returnflag, l_linestatus
"""


# --------------------------------------------------------------------------
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way equi join + agg + global top-k (O3 analog).

    customer is the small side → broadcast hint; orders⋈lineitem is a
    shuffle join on the order key. Final top-10 compiles to
    TakeOrderedAndProject (no global sort). Deterministic tie-break on
    o_orderkey.
    """
    t = load_tables(spark, sf_dir, ("customer", "orders", "lineitem"))
    cutoff = F.lit("1998-03-15").cast("timestamp")
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING")
    orders = t["orders"].filter(F.col("o_orderdate") < cutoff)
    lines = t["lineitem"].filter(F.col("l_shipdate") > cutoff)
    return (
        lines.join(orders, lines["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(disc_price_dec()).alias("revenue"))
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


Q3_SQL = f"""
SELECT o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       o_orderpriority,
       {sql_dsum(SQL_DISC_PRICE)} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


# --------------------------------------------------------------------------
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 5-way join through the dimension chain.

    region/nation/supplier are broadcast (tiny dims); the fact-side joins
    shuffle on their keys. Covers multi-join planning + dim broadcast.
    """
    t = load_tables(
        spark,
        sf_dir,
        ("region", "nation", "customer", "orders", "lineitem", "supplier"),
    )
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(t["supplier"]),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            dsum(disc_price_dec()).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


Q5_SQL = f"""
SELECT r_name, n_name,
       {sql_dsum(SQL_DISC_PRICE)} AS revenue,
       count(*) AS n_lines
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


# --------------------------------------------------------------------------
def asof_first_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with an equi key (J2 at scale).

    "First lineitem shipped at-or-after each order's date" — the Q1
    plane→bus shape (src/plane_naolib_consumer.py:91-105) with an equi key
    available, so the sort-and-fill window is partitioned by the key.
    """
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    right = t["lineitem"].select(
        F.col("l_orderkey").alias("o_orderkey"),
        F.col("l_shipdate"),
        F.col("l_linenumber"),
    )
    out = asof_join(
        t["orders"],
        right,
        left_ts="o_orderdate",
        right_ts="l_shipdate",
        left_keys=["o_orderkey"],
        by=["o_orderkey"],
        right_cols=["l_shipdate"],
    )
    return out.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.date_format(F.col("asof.l_shipdate"), "yyyy-MM-dd").alias("first_ship"),
        F.datediff(F.col("asof.l_shipdate"), F.col("o_orderdate"))
        .cast("long")
        .alias("wait_days"),
    )


ASOF_FIRST_SHIP_SQL = """
SELECT o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       strftime(min(l_shipdate), '%Y-%m-%d') AS first_ship,
       CAST(date_diff('day', o_orderdate, min(l_shipdate)) AS BIGINT) AS wait_days
FROM orders
JOIN lineitem ON l_orderkey = o_orderkey AND l_shipdate >= o_orderdate
GROUP BY o_orderkey, o_orderdate
"""


# --------------------------------------------------------------------------
def window_top1_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/F4/O2: row_number over partitionBy/orderBy, keep rank 1.

    The reference's exact window shape (src/plane_naolib_consumer.py:102-104)
    — here: the priciest line of each order, ties broken by line number.
    """
    l = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    w = Window.partitionBy("l_orderkey").orderBy(
        F.desc("l_extendedprice"), F.asc("l_linenumber")
    )
    return (
        l.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "l_orderkey",
            "l_linenumber",
            pround(F.col("l_extendedprice"), 2).alias("top_price"),
        )
    )


WINDOW_TOP1_SQL = f"""
SELECT l_orderkey, l_linenumber, {sql_round("l_extendedprice", 2)} AS top_price
FROM (
  SELECT l_orderkey, l_linenumber, l_extendedprice,
         row_number() OVER (
           PARTITION BY l_orderkey
           ORDER BY l_extendedprice DESC, l_linenumber ASC
         ) AS rn
  FROM lineitem
) WHERE rn = 1
"""


# --------------------------------------------------------------------------
def haversine_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3/X15/S5: k-NN by haversine distance, in-engine.

    Internalizes the geo pushdown the reference delegates to the REST API
    (``within_distance`` + ``order_by=distance`` + ``limit=5``,
    src/bike_producer.py:23-40). Coordinates are derived deterministically
    from c_custkey so the oracle can reproduce them.
    """
    c = load_tables(spark, sf_dir, ("customer",))["customer"]
    pts = c.select(
        "c_custkey",
        "c_name",
        (((F.col("c_custkey") * 7919) % 3600) / 10.0 - 180.0).alias("lon"),
        (((F.col("c_custkey") * 104729) % 1700) / 10.0 - 85.0).alias("lat"),
    )
    out = nearest_points(
        pts, "lon", "lat", center_lon=-1.5457, center_lat=47.2154,
        k=5, tie_breaker="c_custkey",
    )
    return out.select(
        "c_custkey", "c_name", "lon", "lat",
        pround(F.col("distance_km"), 3).alias("distance_km"),
    )


HAVERSINE_KNN_SQL = f"""
WITH pts AS (
  SELECT c_custkey, c_name,
         ((c_custkey * 7919) % 3600) / 10.0 - 180.0 AS lon,
         ((c_custkey * 104729) % 1700) / 10.0 - 85.0 AS lat
  FROM customer
), d AS (
  SELECT *,
    2 * 6371.0088 * asin(sqrt(
      pow(sin(radians(47.2154 - lat) / 2), 2)
      + cos(radians(lat)) * cos(radians(47.2154))
        * pow(sin(radians(-1.5457 - lon) / 2), 2)
    )) AS dist
  FROM pts
)
SELECT c_custkey, c_name, lon, lat, {sql_round("dist", 3)} AS distance_km
FROM d
ORDER BY dist ASC, c_custkey ASC
LIMIT 5
"""


# --------------------------------------------------------------------------
def scalar_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3-X10 scalar kit over orders: regexp_replace, when/otherwise,
    concat, lpad, date_format, epoch conversion — all native expressions
    (no Python UDFs in the hot path)."""
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    return o.select(
        "o_orderkey",
        F.regexp_replace("o_orderpriority", "[^0-9]", "")
        .cast("int")
        .alias("priority_num"),
        F.when(F.col("o_totalprice") > 200000, F.lit("high"))
        .otherwise(F.lit("low"))
        .alias("price_band"),
        F.concat(
            F.lit("O-"), F.lpad(F.col("o_custkey").cast("string"), 6, "0")
        ).alias("cust_tag"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.unix_timestamp("o_orderdate").alias("order_epoch"),
        F.date_format("o_orderdate", "H'h'mm'm'").alias("time_fr"),
    )


SCALAR_KIT_SQL = """
SELECT o_orderkey,
       CAST(regexp_replace(o_orderpriority, '[^0-9]', '', 'g') AS INTEGER) AS priority_num,
       CASE WHEN o_totalprice > 200000 THEN 'high' ELSE 'low' END AS price_band,
       concat('O-', lpad(CAST(o_custkey AS VARCHAR), 6, '0')) AS cust_tag,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       epoch_us(o_orderdate) // 1000000 AS order_epoch,
       concat(CAST(hour(o_orderdate) AS VARCHAR), 'h',
              lpad(CAST(minute(o_orderdate) AS VARCHAR), 2, '0'), 'm') AS time_fr
FROM orders
"""


# --------------------------------------------------------------------------
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-agg — the pushdown benchmark.

    All three predicates (shipdate range, discount band, quantity cap) are
    parquet-pushable, so at 100 TB the scan skips whole row groups via
    min/max stats; zero shuffle (global agg is partial → single combine).
    """
    l = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(d2(F.col("l_extendedprice")) * d4(F.col("l_discount"))).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


Q6_SQL = f"""
SELECT {sql_dsum(f"{sql_d2('l_extendedprice')} * {sql_d4('l_discount')}")} AS revenue,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


# --------------------------------------------------------------------------
def semi_join_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS → left-semi join + grouped count.

    Orders with at least one lineitem shipped >60 days after the order
    date, counted per priority. The semi join short-circuits per key
    (no row multiplication) and its equi part shuffles on the order key —
    at scale this is a shuffle-hash semi join, never a nested loop.
    """
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    o, l = t["orders"], t["lineitem"]
    cond = (o["o_orderkey"] == l["l_orderkey"]) & (
        l["l_shipdate"] > o["o_orderdate"] + F.expr("INTERVAL 60 DAYS")
    )
    return (
        o.join(l, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


SEMI_LATE_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey
    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
)
GROUP BY o_orderpriority
"""


# --------------------------------------------------------------------------
def anti_join_small_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS → left-anti join: customers with no order > 300k,
    counted per market segment. The anti probe shuffles on custkey with
    the filter applied *before* the join (orders side shrinks first)."""
    t = load_tables(spark, sf_dir, ("customer", "orders"))
    big = t["orders"].filter(F.col("o_totalprice") > 300000)
    return (
        t["customer"]
        .join(big, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum(d2(F.col("c_acctbal"))).alias("sum_acctbal"),
        )
    )


ANTI_SMALL_SQL = f"""
SELECT c_mktsegment,
       count(*) AS n_customers,
       {sql_dsum(sql_d2("c_acctbal"))} AS sum_acctbal
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
)
GROUP BY c_mktsegment
"""


# --------------------------------------------------------------------------
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: fact-fact equi join + dim broadcast + top-k.

    Revenue lost to returned items ('R') per customer, top 20. The
    returnflag filter lands in the parquet scan; customer/nation are
    broadcast; the only shuffle is lineitem⋈orders on the order key and
    the final grouped agg. limit compiles to TakeOrderedAndProject.
    """
    t = load_tables(spark, sf_dir, ("customer", "orders", "lineitem", "nation"))
    returned = t["lineitem"].filter(F.col("l_returnflag") == "R")
    return (
        returned.join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(disc_price_dec()).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q10_SQL = f"""
SELECT c_custkey, c_name, n_name,
       {sql_dsum(SQL_DISC_PRICE)} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


# --------------------------------------------------------------------------
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING on a grouped subquery + join back.

    Orders whose total quantity exceeds 150, with customer attribution.
    The heavy agg (sum per orderkey) runs FIRST and map-side-combines, so
    the join back to orders/customer moves only qualifying keys — the
    scale-correct order of operations (agg-then-join, not join-then-agg).
    """
    t = load_tables(spark, sf_dir, ("customer", "orders", "lineitem"))
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(dsum(d2(F.col("l_quantity"))).alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    return (
        big.join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            pround(F.col("o_totalprice"), 2).alias("total_price"),
            "sum_qty",
        )
    )


Q18_SQL = f"""
WITH big AS (
  SELECT l_orderkey, {sql_dsum(sql_d2("l_quantity"))} AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING {sql_dsum(sql_d2("l_quantity"))} > 150
)
SELECT c_custkey, c_name, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       {sql_round("o_totalprice", 2)} AS total_price,
       sum_qty
FROM big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


# --------------------------------------------------------------------------
def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: anti-join exclusion + COUNT(DISTINCT).

    Distinct suppliers per (brand, type), excluding "complaint" suppliers
    (negative balance) via a broadcast anti join. count(DISTINCT key)
    expands to a two-phase agg (distinct shuffle then count) — Catalyst
    plans it; we keep the exclusion before the join so excluded rows
    never shuffle.
    """
    t = load_tables(spark, sf_dir, ("part", "supplier", "lineitem"))
    bad = t["supplier"].filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        t["lineitem"]
        .join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


Q16_SQL = """
SELECT p_brand, p_type, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type
"""


# --------------------------------------------------------------------------
def salted_hot_key_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe aggregation on a 3-value hot key (l_returnflag).

    operators.skew.salted_agg: partial-aggregate on (key, salt-32), then
    recombine on the key — a hot key spreads over 32 reducers instead of
    one straggler. Semantics-preserving (decimal sums are associative),
    so the oracle is the plain GROUP BY.
    """
    from ue_big_data_project_spark.operators.skew import salted_agg

    l = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    out = salted_agg(
        l.select("l_returnflag", d2(F.col("l_quantity")).alias("_q")),
        keys=["l_returnflag"],
        aggs={
            "sum_qty_dec": ("sum", F.col("_q")),
            "n_lines": ("count", F.lit(1)),
        },
        salt_buckets=32,
    )
    return out.select(
        "l_returnflag",
        pround(F.col("sum_qty_dec").cast("double"), 2).alias("sum_qty"),
        "n_lines",
    )


SALTED_AGG_SQL = f"""
SELECT l_returnflag,
       {sql_dsum(sql_d2("l_quantity"))} AS sum_qty,
       count(*) AS n_lines
FROM lineitem
GROUP BY l_returnflag
"""


# --------------------------------------------------------------------------
def bloom_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter join: lineitem is Bloom-pruned by the urgent-order
    key set BEFORE its shuffle (operators/bloom.bloom_prune_join).

    The probe-side filter is pure whole-stage-codegen (k seeded
    xxhash64 probes against one word-array literal), so at 100 TB the
    ~80% of lineitem rows whose orders aren't urgent never leave the
    scan stage. False positives are removed by the join itself, so the
    result — and the oracle — is exactly the plain join.
    """
    from ue_big_data_project_spark.operators.bloom import bloom_prune_join

    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    urgent = (
        t["orders"]
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    li = t["lineitem"].select(
        "l_orderkey", "l_returnflag", d2(F.col("l_extendedprice")).alias("_p")
    )
    joined = bloom_prune_join(li, urgent, "l_orderkey", m_bits=1 << 19)
    return (
        joined.groupBy("l_returnflag")
        .agg(
            dsum(F.col("_p")).alias("sum_price"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("l_returnflag")
    )


BLOOM_JOIN_SQL = f"""
SELECT l_returnflag,
       {sql_dsum(sql_d2("l_extendedprice"))} AS sum_price,
       count(*) AS n_lines
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# --------------------------------------------------------------------------
def cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated-min subquery → window min + rank-1.

    "The supplier offering each part at its lowest observed price."
    The correlated scalar subquery becomes one window over the part key —
    a single shuffle, no re-scan per outer row (the way Catalyst would
    also decorrelate it).
    """
    l = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    w = Window.partitionBy("l_partkey").orderBy(
        F.asc("l_extendedprice"), F.asc("l_suppkey"), F.asc("l_orderkey"),
        F.asc("l_linenumber"),
    )
    return (
        l.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "l_partkey",
            "l_suppkey",
            pround(F.col("l_extendedprice"), 2).alias("best_price"),
        )
    )


CHEAPEST_SUPPLIER_SQL = f"""
SELECT l_partkey, l_suppkey, {sql_round("l_extendedprice", 2)} AS best_price
FROM (
  SELECT l_partkey, l_suppkey, l_extendedprice,
         row_number() OVER (
           PARTITION BY l_partkey
           ORDER BY l_extendedprice ASC, l_suppkey ASC, l_orderkey ASC,
                    l_linenumber ASC
         ) AS rn
  FROM lineitem
) WHERE rn = 1
"""


# --------------------------------------------------------------------------
def q12_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional (CASE) aggregation after an equi join.

    High- vs low-priority line counts per line status; the CASE terms are
    computed map-side inside the partial aggregation.
    """
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


Q12_SQL = """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY l_linestatus
"""


# --------------------------------------------------------------------------
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional revenue share (promo %) for one month.

    Both sums ride one aggregation; part is broadcast; the shipdate
    filter prunes the scan. The ratio divides the two exact decimal sums
    as doubles and rounds portably.
    """
    t = load_tables(spark, sf_dir, ("part", "lineitem"))
    l = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    joined = l.join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
    promo = F.when(F.col("p_type") == "PROMO", disc_price_dec()).otherwise(
        F.lit(0).cast("decimal(12,2)")
    )
    return joined.agg(
        pround(
            F.lit(100.0)
            * F.sum(promo).cast("double")
            / F.sum(disc_price_dec()).cast("double"),
            4,
        ).alias("promo_pct"),
        F.count(F.lit(1)).alias("n_lines"),
    )


Q14_SQL = f"""
SELECT {sql_round(
    "100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN " + SQL_DISC_PRICE +
    " ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)"
    " / CAST(sum(" + SQL_DISC_PRICE + ") AS DOUBLE)", 4)} AS promo_pct,
       count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01'
  AND l_shipdate < TIMESTAMP '1996-04-01'
"""


# --------------------------------------------------------------------------
def q19_or_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive bands inside the join.

    Catalyst extracts the common ``l_partkey = p_partkey`` equi key and
    keeps the OR-of-ANDs as a post-join filter, so this stays a hash
    join (the naive reading is a nested loop). Part is broadcast.
    """
    t = load_tables(spark, sf_dir, ("part", "lineitem"))
    l, p = t["lineitem"], t["part"]
    cond = (F.col("l_partkey") == F.col("p_partkey")) & (
        (
            (F.col("p_brand") == "Brand#1")
            & (F.col("p_size").between(1, 15))
            & (F.col("l_quantity").between(1, 20))
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & (F.col("p_size").between(10, 30))
            & (F.col("l_quantity").between(10, 30))
        )
        | (
            (F.col("p_brand") == "Brand#15")
            & (F.col("p_size").between(20, 50))
            & (F.col("l_quantity").between(20, 50))
        )
    )
    return l.join(F.broadcast(p), cond).agg(
        dsum(disc_price_dec()).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


Q19_SQL = f"""
SELECT {sql_dsum(SQL_DISC_PRICE)} AS revenue, count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#15' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 50)
"""


# --------------------------------------------------------------------------
def scan_filter_agg_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate kit: the three scan-filter-aggregate shapes as one 3-row
    union — Q6 (pure pushdown range scan), Q14 (broadcast-join promo
    share), Q19 (OR-of-ANDs kept as a hash join).

    Merged so each keeps a driver correctness row inside the driver's
    50-entry window; the standalone queries stay registered for the
    pytest oracle gate. Each union branch keeps its own physical plan
    (pushdown / broadcast), and a union of single-row aggregates adds
    no shuffle of its own.
    """

    def tag(df: DataFrame, metric: str, value_col: str) -> DataFrame:
        return df.select(
            F.lit(metric).alias("metric"),
            F.col(value_col).cast("double").alias("value"),
            F.col("n_lines"),
        )

    return (
        tag(q6_forecast_revenue(spark, sf_dir), "q6_forecast_revenue", "revenue")
        .unionByName(
            tag(q14_promo_revenue(spark, sf_dir), "q14_promo_pct", "promo_pct")
        )
        .unionByName(
            tag(q19_or_predicates(spark, sf_dir), "q19_or_revenue", "revenue")
        )
    )


SCAN_FILTER_AGG_SQL = f"""
SELECT 'q6_forecast_revenue' AS metric, CAST(revenue AS DOUBLE) AS value, n_lines
FROM ({Q6_SQL})
UNION ALL
SELECT 'q14_promo_pct' AS metric, CAST(promo_pct AS DOUBLE) AS value, n_lines
FROM ({Q14_SQL})
UNION ALL
SELECT 'q19_or_revenue' AS metric, CAST(revenue AS DOUBLE) AS value, n_lines
FROM ({Q19_SQL})
"""


# --------------------------------------------------------------------------
def semi_anti_join_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate kit: EXISTS → left-semi (Q4 shape) and NOT EXISTS →
    left-anti unioned under one uniform schema, so both join types keep
    a driver correctness row inside the 50-entry window. Each branch
    keeps its own shuffle-hash semi/anti plan."""
    semi = semi_join_late_orders(spark, sf_dir).select(
        F.lit("semi_late_orders").alias("kind"),
        F.col("o_orderpriority").alias("grp"),
        F.col("order_count").alias("n"),
        F.lit(None).cast("double").alias("sum_acctbal"),
    )
    anti = anti_join_small_customers(spark, sf_dir).select(
        F.lit("anti_small_customers").alias("kind"),
        F.col("c_mktsegment").alias("grp"),
        F.col("n_customers").alias("n"),
        F.col("sum_acctbal").cast("double").alias("sum_acctbal"),
    )
    return semi.unionByName(anti)


SEMI_ANTI_KIT_SQL = f"""
SELECT 'semi_late_orders' AS kind, o_orderpriority AS grp,
       order_count AS n, CAST(NULL AS DOUBLE) AS sum_acctbal
FROM ({SEMI_LATE_SQL})
UNION ALL
SELECT 'anti_small_customers' AS kind, c_mktsegment AS grp,
       n_customers AS n, CAST(sum_acctbal AS DOUBLE) AS sum_acctbal
FROM ({ANTI_SMALL_SQL})
"""


# --------------------------------------------------------------------------
def outer_join_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join + null-aware aggregation: every customer with
    their big-order count, INCLUDING customers with none (count = 0).
    The classic outer-join-then-count shape where the null side must
    not vanish (count(o_orderkey), not count(*))."""
    t = load_tables(spark, sf_dir, ("customer", "orders"))
    big = t["orders"].filter(F.col("o_totalprice") > 250000)
    return (
        t["customer"]
        .join(big, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.count("o_orderkey").alias("n_big_orders"))
    )


OUTER_JOIN_SQL = """
SELECT c_custkey, c_mktsegment, count(o_orderkey) AS n_big_orders
FROM customer
LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 250000) o
  ON c_custkey = o_custkey
GROUP BY c_custkey, c_mktsegment
"""


# --------------------------------------------------------------------------
def moving_avg_order_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit window frame (ROWS BETWEEN 2 PRECEDING AND CURRENT ROW):
    3-order moving average of each customer's order totals in date
    order. Covers frame specs + lag-style sequential analytics; one
    shuffle on the partition key."""
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
        .rowsBetween(-2, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        pround(
            F.sum(d2(F.col("o_totalprice"))).over(w).cast("double")
            / F.count(F.lit(1)).over(w),
            4,
        ).alias("moving_avg_price"),
    )


MOVING_AVG_SQL = f"""
SELECT o_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       {sql_round(
           "CAST(sum(" + sql_d2("o_totalprice") + ") OVER w AS DOUBLE)"
           " / count(*) OVER w", 4)} AS moving_avg_price
FROM orders
WINDOW w AS (
  PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
)
"""


# --------------------------------------------------------------------------
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated AVG subquery → window average.

    Revenue from lineitems below 20% of their part's average quantity.
    The per-part correlated scalar subquery decorrelates into one
    window AVG over the part key — a single shuffle instead of a
    re-aggregation join, the plan Catalyst itself would produce.
    """
    l = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    w = Window.partitionBy("l_partkey")
    avg_qty = (
        F.sum(d2(F.col("l_quantity"))).over(w).cast("double")
        / F.count(F.lit(1)).over(w)
    )
    return (
        l.withColumn("_avg_qty", avg_qty)
        .filter(F.col("l_quantity") < 0.2 * F.col("_avg_qty"))
        .agg(
            dsum(d2(F.col("l_extendedprice"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


Q17_SQL = f"""
WITH t AS (
  SELECT l_extendedprice, l_quantity,
         CAST(sum({sql_d2("l_quantity")}) OVER (PARTITION BY l_partkey) AS DOUBLE)
           / count(*) OVER (PARTITION BY l_partkey) AS avg_qty
  FROM lineitem
)
SELECT {sql_dsum(sql_d2("l_extendedprice"))} AS revenue,
       count(*) AS n_lines
FROM t WHERE l_quantity < 0.2 * avg_qty
"""


# --------------------------------------------------------------------------
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar AVG subquery + NOT EXISTS anti join.

    Customers with above-average balance and no RECENT order (none on or
    after 2000-06-01), counted per market segment. The global average
    broadcasts as a 1-row frame (cross join); the NOT EXISTS is a
    left-anti on the customer key with the date filter applied to the
    orders side BEFORE the join.
    """
    t = load_tables(spark, sf_dir, ("customer", "orders"))
    c = t["customer"]
    recent = t["orders"].filter(
        F.col("o_orderdate") >= F.lit("2000-06-01").cast("timestamp")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        (F.sum(d2(F.col("c_acctbal"))).cast("double") / F.count(F.lit(1)))
        .alias("_avg_bal")
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum(d2(F.col("c_acctbal"))).alias("total_bal"),
        )
    )


Q22_SQL = f"""
WITH avg_bal AS (
  SELECT CAST(sum({sql_d2("c_acctbal")}) AS DOUBLE) / count(*) AS a
  FROM customer WHERE c_acctbal > 0
)
SELECT c_mktsegment,
       count(*) AS n_customers,
       {sql_dsum(sql_d2("c_acctbal"))} AS total_bal
FROM customer, avg_bal
WHERE c_acctbal > a
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-06-01'
  )
GROUP BY c_mktsegment
"""


# --------------------------------------------------------------------------
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: two-sided dimension join with an OR'd nation-pair
    predicate + per-year conditional aggregation.

    Trade volume between NATION_1 and NATION_2 in either direction,
    grouped by (supplier nation, customer nation, ship year). Both
    nation lookups broadcast; the year comes from the shipdate already
    read for the range filter (no extra column).
    """
    t = load_tables(
        spark, sf_dir, ("supplier", "lineitem", "orders", "customer", "nation")
    )
    n1 = t["nation"].select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = t["nation"].select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("ship_year"),
        )
        .agg(dsum(disc_price_dec()).alias("revenue"))
    )


Q7_SQL = f"""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INTEGER) AS ship_year,
       {sql_dsum(SQL_DISC_PRICE)} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
   OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
GROUP BY sn.n_name, cn.n_name, year(l_shipdate)
"""


# --------------------------------------------------------------------------
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: EXISTS + NOT EXISTS correlated self-joins.

    Suppliers who alone shipped late (>60 days after the order date) on
    multi-supplier orders. Both correlations decorrelate into ONE
    grouped pass over the order: per (orderkey) count distinct suppliers
    and distinct LATE suppliers, then the late line qualifies iff the
    order has >1 supplier and exactly this one late supplier — the
    aggregate-then-join plan, no per-row re-probing of lineitem.
    """
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    l = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
            ).alias("late"),
        )
    )
    per_order = l.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias(
            "n_late_supp"
        ),
    )
    # per_order is O(|orders|) — no broadcast hint; the late filter
    # shrinks the probe side first and AQE picks the join strategy.
    return (
        l.filter(F.col("late"))
        .join(per_order, "l_orderkey")
        .filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# Oracle keeps the LITERAL correlated EXISTS/NOT EXISTS formulation, so
# the hash match also proves the engine's aggregate decorrelation is
# semantics-preserving.
Q21_SQL = """
WITH l AS (
  SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT l1.l_suppkey, count(*) AS numwait
FROM l l1
WHERE l1.l_shipdate > l1.o_orderdate + INTERVAL 60 DAY
  AND EXISTS (
    SELECT 1 FROM l l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM l l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > l3.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY l1.l_suppkey
"""


# --------------------------------------------------------------------------
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: aggregate view + global-max scalar subquery.

    Revenue per supplier for one quarter, keeping the supplier(s) whose
    revenue equals the maximum. The "view" is just the grouped frame
    reused twice; the global max reduces to a 1-row broadcast, so the
    join-back is a broadcast equality filter — no second scan of
    lineitem (the grouped frame is small, Spark recomputes or reuses
    its exchange; at scale, persist it explicitly).
    """
    t = load_tables(spark, sf_dir, ("supplier", "lineitem"))
    quarter = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    revenue = quarter.groupBy("l_suppkey").agg(
        dsum(disc_price_dec()).alias("total_revenue")
    )
    top = revenue.agg(F.max("total_revenue").alias("_max_rev"))
    return (
        revenue.join(F.broadcast(top))
        .filter(F.col("total_revenue") == F.col("_max_rev"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


Q15_SQL = f"""
WITH revenue AS (
  SELECT l_suppkey, {sql_dsum(SQL_DISC_PRICE)} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM revenue
JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
"""


# --------------------------------------------------------------------------
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: national market share per year — two-level
    CONDITIONAL aggregation (sum-if over sum) on top of a 6-way join.

    Share of supplier NATION_7 in all revenue from EUROPE customers,
    per order year. Dimensions (supplier, nation, region) broadcast;
    the single shuffle is the groupBy on year. Numerator and
    denominator stay decimal until the final division.
    """
    t = load_tables(
        spark,
        sf_dir,
        ("customer", "orders", "lineitem", "supplier", "nation", "region"),
    )
    cn = (
        t["nation"]
        .join(
            t["region"].filter(F.col("r_name") == "EUROPE"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(F.col("n_nationkey").alias("c_nkey"))
    )
    sn = t["nation"].select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    rev = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("c_nkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nkey"))
    )
    target = F.when(
        F.col("supp_nation") == "NATION_7", disc_price_dec()
    ).otherwise(F.lit(0).cast("decimal(12,2)"))
    return rev.groupBy(F.year("o_orderdate").alias("order_year")).agg(
        pround(
            F.sum(target).cast("double") / F.sum(disc_price_dec()).cast("double"),
            6,
        ).alias("mkt_share")
    )


Q8_SQL = f"""
SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
       {sql_round(
           "CAST(sum(CASE WHEN sn.n_name = 'NATION_7' THEN " + SQL_DISC_PRICE
           + " ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)"
           " / CAST(sum(" + SQL_DISC_PRICE + ") AS DOUBLE)", 6)} AS mkt_share
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'EUROPE'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
GROUP BY year(o_orderdate)
"""


# --------------------------------------------------------------------------
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-type profit — infix LIKE part filter, a
    5-way join, a DERIVED measure (revenue minus cost), grouped by
    (supplier nation, order year).

    The testdata has no partsupp table, so unit cost is the part's list
    price (``p_retailprice``) — same shape: the cost term multiplies a
    part attribute into each lineitem before aggregation. The filtered
    part table and both dimension lookups broadcast; lineitem⋈orders is
    the one large shuffle (on the order key), then one groupBy shuffle
    moving (nation × year) partial sums.
    """
    t = load_tables(
        spark, sf_dir, ("lineitem", "orders", "part", "supplier", "nation")
    )
    bolts = (
        t["part"]
        .filter(F.col("p_name").like("%bolt%"))
        .select("p_partkey", "p_retailprice")
    )
    nat = t["nation"].select("n_nationkey", F.col("n_name").alias("nation"))
    profit = disc_price_dec() - d2(F.col("p_retailprice")) * d2(
        F.col("l_quantity")
    )
    return (
        t["lineitem"]
        .join(F.broadcast(bolts), F.col("l_partkey") == F.col("p_partkey"))
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("nation", F.year("o_orderdate").alias("order_year"))
        .agg(dsum(profit).alias("sum_profit"))
    )


Q9_SQL = f"""
SELECT n_name AS nation,
       CAST(year(o_orderdate) AS INTEGER) AS order_year,
       {sql_dsum(
           SQL_DISC_PRICE
           + f" - {sql_d2('p_retailprice')} * {sql_d2('l_quantity')}"
       )} AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_name LIKE '%bolt%'
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name, year(o_orderdate)
"""


# --------------------------------------------------------------------------
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: HAVING against a GLOBAL scalar — parts whose
    revenue exceeds 1.5× the average part's revenue.

    The global aggregate is a 1-row frame cross-joined (broadcast — it
    is always exactly one row, the one provably-bounded broadcast
    shape) against the per-part aggregate. The threshold compare is the
    multiplied-out ``2·val·n > 3·total`` — pure decimal×integer, exact
    in both engines, so no division-rounding can flip a boundary row.
    """
    l = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    per_part = l.groupBy("l_partkey").agg(
        F.sum(disc_price_dec()).alias("_val")
    )
    total = per_part.agg(
        F.sum("_val").alias("_total"), F.count(F.lit(1)).alias("_n")
    )
    return (
        per_part.join(F.broadcast(total))
        .filter(
            F.col("_val") * F.col("_n") * F.lit(2)
            > F.col("_total") * F.lit(3)
        )
        .select(
            "l_partkey",
            pround(F.col("_val").cast("double"), 2).alias("part_value"),
        )
    )


Q11_SQL = f"""
WITH per_part AS (
  SELECT l_partkey, sum({SQL_DISC_PRICE}) AS _val
  FROM lineitem GROUP BY l_partkey
)
SELECT l_partkey, {sql_round("CAST(_val AS DOUBLE)", 2)} AS part_value
FROM per_part
WHERE _val * (SELECT count(*) FROM per_part) * 2
      > (SELECT sum(_val) FROM per_part) * 3
"""


# --------------------------------------------------------------------------
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: aggregate-of-aggregate — the distribution of
    customers by how many non-URGENT orders they have, INCLUDING
    zero-order customers (left outer join, count of the null-able key).

    Two shuffles: custkey (first agg), then the tiny n_orders domain.
    """
    t = load_tables(spark, sf_dir, ("customer", "orders"))
    o = t["orders"].filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        t["customer"]
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


Q13_SQL = """
WITH per_cust AS (
  SELECT c_custkey, count(o_orderkey) AS n_orders
  FROM customer
  LEFT JOIN (
    SELECT * FROM orders WHERE o_orderpriority <> '1-URGENT'
  ) o ON c_custkey = o_custkey
  GROUP BY c_custkey
)
SELECT n_orders, CAST(count(*) AS BIGINT) AS n_customers
FROM per_cust GROUP BY n_orders
"""


# --------------------------------------------------------------------------
def q20_dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: correlated agg-vs-agg threshold — suppliers who
    shipped more than 2× the average supplier's quantity of a red part.

    The correlation (per-part statistics vs per-(part,supplier)
    subtotal) decorrelates into ONE pass: group by (part, supplier),
    then window aggregates over part — no second scan, no re-probe
    join. The threshold is the multiplied-out ``qty·n > 2·part_total``
    (exact decimal×integer, no division), and it is RELATIVE, so the
    query returns rows at every scale factor instead of fading as
    per-part supplier counts grow. The part-name filter broadcasts and
    prunes lineitem before the shuffle.
    """
    t = load_tables(spark, sf_dir, ("lineitem", "part", "supplier"))
    red = t["part"].filter(F.col("p_name").like("red %")).select("p_partkey")
    per_ps = (
        t["lineitem"]
        .join(F.broadcast(red), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(d2(F.col("l_quantity"))).alias("_qty"))
    )
    w = Window.partitionBy("l_partkey")
    heavy = per_ps.select(
        "l_partkey",
        "l_suppkey",
        "_qty",
        F.sum("_qty").over(w).alias("_part_qty"),
        F.count(F.lit(1)).over(w).alias("_n_supp"),
    ).filter(
        F.col("_qty") * F.col("_n_supp") > F.col("_part_qty") * F.lit(2)
    )
    return (
        t["supplier"]
        .join(
            heavy.select("l_suppkey").distinct(),
            F.col("s_suppkey") == F.col("l_suppkey"),
            "left_semi",
        )
        .select("s_suppkey", "s_name")
    )


Q20_SQL = f"""
WITH per_ps AS (
  SELECT l_partkey, l_suppkey, sum({sql_d2("l_quantity")}) AS _qty
  FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red %')
  GROUP BY l_partkey, l_suppkey
),
heavy AS (
  SELECT l_suppkey FROM (
    SELECT l_suppkey, _qty,
           sum(_qty) OVER (PARTITION BY l_partkey) AS _part_qty,
           count(*) OVER (PARTITION BY l_partkey) AS _n_supp
    FROM per_ps
  ) WHERE _qty * _n_supp > _part_qty * 2
)
SELECT s_suppkey, s_name FROM supplier
WHERE s_suppkey IN (SELECT l_suppkey FROM heavy)
"""


# --------------------------------------------------------------------------
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated MIN subquery — for each qualifying
    part, the EUROPE supplier(s) whose cost equals the part's minimum
    cost among EUROPE suppliers.

    The testdata has no partsupp table, so supply cost derives from
    lineitem: ``min(discounted price)`` a supplier ever charged for the
    part — an exact decimal min, so both engines agree bit-for-bit. The
    correlated ``= (SELECT min ...)`` decorrelates into one window MIN
    over p_partkey (no re-probe join). The part filter broadcasts and
    prunes lineitem BELOW the (part, supplier) aggregation, so the big
    shuffle only carries qualifying parts; the supplier⋈nation⋈region
    chain broadcasts its dimension side. All ties at the minimum are
    returned (TPC-H semantics), so no LIMIT nondeterminism.
    """
    t = load_tables(
        spark, sf_dir, ("lineitem", "supplier", "nation", "region", "part")
    )
    wanted = (
        t["part"]
        .filter((F.col("p_size") <= 10) & (F.col("p_type") == "STANDARD"))
        .select("p_partkey", "p_name")
    )
    ps = (
        t["lineitem"]
        .join(
            F.broadcast(wanted.select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(disc_price_dec()).alias("_cost"))
    )
    eu = (
        t["supplier"]
        .join(
            F.broadcast(t["nation"]),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    eps = ps.join(eu, F.col("l_suppkey") == F.col("s_suppkey"))
    w = Window.partitionBy("l_partkey")
    best = eps.withColumn("_min_cost", F.min("_cost").over(w)).filter(
        F.col("_cost") == F.col("_min_cost")
    )
    return best.join(
        F.broadcast(wanted), F.col("l_partkey") == F.col("p_partkey")
    ).select(
        "s_acctbal",
        "s_name",
        "n_name",
        "p_partkey",
        "p_name",
        pround(F.col("_cost").cast("double"), 2).alias("supply_cost"),
    )


# Oracle keeps the LITERAL correlated-min formulation, so the hash match
# also proves the window-decorrelation is semantics-preserving.
Q2_SQL = f"""
WITH ps AS (
  SELECT l_partkey, l_suppkey, min({SQL_DISC_PRICE}) AS _cost
  FROM lineitem
  WHERE l_partkey IN (
    SELECT p_partkey FROM part WHERE p_size <= 10 AND p_type = 'STANDARD'
  )
  GROUP BY l_partkey, l_suppkey
),
eu AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
eps AS (SELECT * FROM ps JOIN eu ON l_suppkey = s_suppkey)
SELECT s_acctbal, s_name, n_name, l_partkey AS p_partkey, p_name,
       {sql_round("CAST(_cost AS DOUBLE)", 2)} AS supply_cost
FROM eps JOIN part ON l_partkey = p_partkey
WHERE _cost = (SELECT min(e2._cost) FROM eps e2
               WHERE e2.l_partkey = eps.l_partkey)
"""


# --------------------------------------------------------------------------
# ONE portable ANSI string executed verbatim by BOTH engines: the Spark
# side is literally ``spark.sql(SQL_TEXT_SHARED)`` over the temp views
# load_tables registers, and the oracle is the SAME string in DuckDB —
# the strongest possible form of the A5 dual-engine idea, and the proof
# that the engine's SQL front door (not just its DataFrame API) carries
# the cross-engine determinism conventions (decimal sums on base
# columns, portable floor-rounding, TIMESTAMP literals). One trap the
# shared text must dodge: Spark SQL parses decimal-POINT literals
# (100.0) as DECIMAL, so `floor(x)/100.0` would come back as a decimal
# division; scientific literals (1e2) are DOUBLE in both engines.
SQL_TEXT_SHARED = """
SELECT n_name,
       CAST(count(*) AS BIGINT) AS n_lines,
       floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                      * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
             * 1e2 + 0.5) / 1e2 AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1995-01-01'
  AND o_orderdate < TIMESTAMP '1996-01-01'
GROUP BY n_name
"""


def sql_text_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-text front door: registered temp views + a raw
    ``spark.sql`` query — Catalyst plans the text into the same
    broadcast-dim/shuffle-fact shape the DataFrame API produces (the
    year filter prunes orders before its join; nation/customer
    broadcast under AQE)."""
    load_tables(spark, sf_dir, ("lineitem", "orders", "customer", "nation"))
    return spark.sql(SQL_TEXT_SHARED)


# --------------------------------------------------------------------------
def window_rank_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-window breadth kit (W1 family): dense_rank, percent_rank,
    cume_dist, ntile(4) and lead over the same per-customer
    order-history window — ONE Window spec, so Catalyst evaluates all
    five in a single WindowExec pass after one shuffle on o_custkey.

    percent_rank/cume_dist divide window-local integer counts in
    float64 (identical bits in any engine) and the ordering carries the
    unique o_orderkey tie-break, so every rank is deterministic. The
    quarter filter prunes the scan before the shuffle.
    """
    t = load_tables(spark, sf_dir, ("orders",))
    o = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-04-01").cast("timestamp"))
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.asc("o_orderdate"), F.asc("o_orderkey")
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.dense_rank().over(w).alias("rk"),
        F.percent_rank().over(w).alias("prnk"),
        F.cume_dist().over(w).alias("cdist"),
        F.ntile(4).over(w).alias("quartile"),
        F.lead("o_totalprice").over(w).alias("next_price"),
    )


WINDOW_RANK_KIT_SQL = """
SELECT o_orderkey, o_custkey,
       CAST(dense_rank() OVER w AS INTEGER) AS rk,
       percent_rank() OVER w AS prnk,
       cume_dist() OVER w AS cdist,
       CAST(ntile(4) OVER w AS INTEGER) AS quartile,
       lead(o_totalprice) OVER w AS next_price
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01'
  AND o_orderdate < TIMESTAMP '1995-04-01'
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
"""


# --------------------------------------------------------------------------
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS semi join + priority distribution — orders
    placed in 1995 Q1 with at least one LATE line, counted by priority.

    The testdata has no commit/receipt dates, so "late" adapts to the
    q21 convention: shipped >30 days after the order date. The EXISTS
    compiles to a LEFT SEMI join whose condition mixes the equi key
    (orderkey) with the theta predicate (F5) — one shuffle on orderkey,
    and the quarter filter prunes the orders side before it. The
    priority groupBy aggregates a 5-value domain (map-side partials
    collapse it to almost nothing).
    """
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    o = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-04-01").cast("timestamp"))
    )
    late = o.join(
        t["lineitem"],
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
        ),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


Q4_SQL = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1995-01-01'
  AND o_orderdate < TIMESTAMP '1995-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
  )
GROUP BY o_orderpriority
"""


def graph_pagerank_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (operators/graph.pagerank, 3 rounds, d=0.85)
    over the nation trade graph: one edge per (customer nation →
    supplier nation) with weight = number of lineitems shipped along it.

    The edge build is the scale-heavy part (lineitem ⋈ orders ⋈
    customer ⋈ supplier, aggregated to ≤ |nation|² edges); the
    iterations then run on the tiny aggregated graph with the same
    distributed plan shape they'd use on a billion-edge graph.
    """
    from ue_big_data_project_spark.operators.graph import pagerank

    t = load_tables(
        spark, sf_dir, ("lineitem", "orders", "customer", "supplier", "nation")
    )
    e = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    pr = pagerank(e, iters=3, damping=0.85, weight_col="w")
    out = pr.join(t["nation"], pr["id"] == F.col("n_nationkey")).select(
        "n_name", pround(F.col("pr"), 6).alias("pagerank")
    )
    w = Window.orderBy(F.col("pagerank").desc(), F.col("n_name").asc())
    return out.withColumn("rank", F.row_number().over(w).cast("int"))


def _pagerank_sql(iters: int = 3, d: float = 0.85) -> str:
    """Oracle twin of graph_pagerank_nations: the fixed iteration count
    unrolls into one CTE pair per round with identical FP op order,
    12-dp per-round rounding, and DECIMAL contribution sums."""
    parts = []
    prev = "r0"
    for i in range(1, iters + 1):
        contrib = sql_round("pr * w / outw", 12)
        step = sql_round(
            f"(1.0 - {d!r}) / n_v + {d!r} * coalesce(csum, 0.0)", 12
        )
        parts.append(
            f"""c{i} AS (
  SELECT dst,
         CAST(sum(CAST({contrib} AS DECIMAL(32,12))) AS DOUBLE) AS csum
  FROM ew JOIN {prev} ON ew.src = {prev}.id GROUP BY dst
),
r{i} AS (
  SELECT id, {step} AS pr
  FROM verts LEFT JOIN c{i} ON verts.id = c{i}.dst CROSS JOIN nv
)"""
        )
        prev = f"r{i}"
    rounds = ",\n".join(parts)
    return f"""
WITH e AS (
  SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY src, dst
),
verts AS (
  SELECT DISTINCT id
  FROM (SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)
),
nv AS (SELECT count(*) AS n_v FROM verts),
outw AS (SELECT src, sum(w) AS outw FROM e GROUP BY src),
ew AS (SELECT e.src, e.dst, e.w, outw.outw FROM e JOIN outw USING (src)),
r0 AS (
  SELECT id, {sql_round("1.0 / n_v", 12)} AS pr FROM verts CROSS JOIN nv
),
{rounds}
SELECT n.n_name AS n_name,
       {sql_round("pr", 6)} AS pagerank,
       CAST(row_number() OVER (
         ORDER BY {sql_round("pr", 6)} DESC, n.n_name ASC
       ) AS INTEGER) AS rank
FROM {prev} JOIN nation n ON {prev}.id = n.n_nationkey
"""


PAGERANK_SQL = _pagerank_sql()


def graph_triangle_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by triangle participation in the co-purchase graph
    (operators/graph.triangle_counts): parts are linked when they appear
    in the same order; a triangle is three parts pairwise co-purchased.

    The edge build groups lineitems per order (ONE shuffle) and expands
    the pairwise combinations from the collected part array map-side —
    bounded fanout: orders hold a handful of lineitems, so each array
    yields O(items²) ≲ dozens of pairs. This replaces the earlier
    per-order self-join (measured 4.81 → 3.88 s median at sf0.1, round
    7): the join shuffled every lineitem row through join machinery to
    produce the same pairs the array expansion emits for free after the
    agg. Counting then uses degree-oriented wedges, so the hottest
    part's wedge list stays O(sqrt(|E|)) at any scale.
    """
    from ue_big_data_project_spark.operators.graph import triangle_counts

    l = load_tables(spark, sf_dir, ("lineitem",))["lineitem"].select(
        "l_orderkey", "l_partkey"
    )
    g = l.groupBy("l_orderkey").agg(F.collect_set("l_partkey").alias("parts"))
    edges = g.select(
        F.explode(
            F.expr(
                "flatten(transform(parts, (x, i) -> "
                "transform(slice(parts, i + 2, size(parts)), "
                "y -> struct(least(x, y) AS src, greatest(x, y) AS dst))))"
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    tc = triangle_counts(edges)
    w = Window.orderBy(F.col("triangles").desc(), F.col("id").asc())
    return (
        tc.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 20)
        .select(F.col("id").alias("p_partkey"), "triangles", "rank")
    )


_TRI_ORIENT = "(deg_a < deg_b) OR (deg_a = deg_b AND a < b)"
TRIANGLES_SQL = f"""
WITH e AS (
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS (
  SELECT n, count(*) AS deg FROM (
    SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e
  ) GROUP BY n
),
wd AS (
  SELECT e.a, e.b, da.deg AS deg_a, db.deg AS deg_b
  FROM e JOIN deg da ON e.a = da.n JOIN deg db ON e.b = db.n
),
eor AS (
  SELECT CASE WHEN {_TRI_ORIENT} THEN a ELSE b END AS u,
         CASE WHEN {_TRI_ORIENT} THEN b ELSE a END AS v,
         CASE WHEN {_TRI_ORIENT} THEN deg_b ELSE deg_a END AS deg_v
  FROM wd
),
tri AS (
  SELECT x.u AS n1, x.v AS n2, y.v AS n3
  FROM eor x
  JOIN eor y ON x.u = y.u
   AND ((x.deg_v < y.deg_v) OR (x.deg_v = y.deg_v AND x.v < y.v))
  JOIN eor z ON z.u = x.v AND z.v = y.v
),
tc AS (
  SELECT id, CAST(count(*) AS BIGINT) AS triangles FROM (
    SELECT n1 AS id FROM tri
    UNION ALL SELECT n2 AS id FROM tri
    UNION ALL SELECT n3 AS id FROM tri
  ) GROUP BY id
),
ranked AS (
  SELECT id AS p_partkey, triangles,
         CAST(row_number() OVER (
           ORDER BY triangles DESC, id ASC
         ) AS INTEGER) AS rank
  FROM tc
)
SELECT p_partkey, triangles, rank FROM ranked WHERE rank <= 20
"""


QUERIES = {
    "q1_pricing_summary": QuerySpec(q1_pricing_summary, Q1_SQL),
    "graph_pagerank_nations": QuerySpec(graph_pagerank_nations, PAGERANK_SQL),
    "graph_triangle_parts": QuerySpec(graph_triangle_parts, TRIANGLES_SQL),
    "q2_min_cost_supplier": QuerySpec(q2_min_cost_supplier, Q2_SQL),
    "q4_order_priority": QuerySpec(q4_order_priority, Q4_SQL),
    "window_rank_kit": QuerySpec(window_rank_kit, WINDOW_RANK_KIT_SQL),
    "sql_text_nation_revenue": QuerySpec(
        sql_text_nation_revenue, SQL_TEXT_SHARED
    ),
    "q15_top_supplier": QuerySpec(q15_top_supplier, Q15_SQL),
    "q21_waiting_suppliers": QuerySpec(q21_waiting_suppliers, Q21_SQL),
    "q7_volume_shipping": QuerySpec(q7_volume_shipping, Q7_SQL),
    "q17_small_quantity_revenue": QuerySpec(
        q17_small_quantity_revenue, Q17_SQL
    ),
    "q22_idle_rich_customers": QuerySpec(q22_idle_rich_customers, Q22_SQL),
    "outer_join_customer_orders": QuerySpec(
        outer_join_customer_orders, OUTER_JOIN_SQL
    ),
    "moving_avg_order_price": QuerySpec(moving_avg_order_price, MOVING_AVG_SQL),
    "cheapest_supplier_per_part": QuerySpec(
        cheapest_supplier_per_part, CHEAPEST_SUPPLIER_SQL
    ),
    "q12_priority_by_status": QuerySpec(q12_priority_by_status, Q12_SQL),
    "q14_promo_revenue": QuerySpec(q14_promo_revenue, Q14_SQL),
    "q19_or_predicates": QuerySpec(q19_or_predicates, Q19_SQL),
    "q6_forecast_revenue": QuerySpec(q6_forecast_revenue, Q6_SQL),
    "q8_market_share": QuerySpec(q8_market_share, Q8_SQL),
    "q9_product_profit": QuerySpec(q9_product_profit, Q9_SQL),
    "q11_important_parts": QuerySpec(q11_important_parts, Q11_SQL),
    "q13_order_count_distribution": QuerySpec(
        q13_order_count_distribution, Q13_SQL
    ),
    "q20_dominant_part_suppliers": QuerySpec(
        q20_dominant_part_suppliers, Q20_SQL
    ),
    "scan_filter_agg_kit": QuerySpec(scan_filter_agg_kit, SCAN_FILTER_AGG_SQL),
    "semi_anti_join_kit": QuerySpec(semi_anti_join_kit, SEMI_ANTI_KIT_SQL),
    "salted_hot_key_agg": QuerySpec(salted_hot_key_agg, SALTED_AGG_SQL),
    "bloom_pruned_join": QuerySpec(bloom_pruned_join, BLOOM_JOIN_SQL),
    "q10_returned_revenue": QuerySpec(q10_returned_revenue, Q10_SQL),
    "q16_supplier_variety": QuerySpec(q16_supplier_variety, Q16_SQL),
    "q18_large_orders": QuerySpec(q18_large_orders, Q18_SQL),
    "semi_join_late_orders": QuerySpec(semi_join_late_orders, SEMI_LATE_SQL),
    "anti_join_small_customers": QuerySpec(anti_join_small_customers, ANTI_SMALL_SQL),
    "q3_shipping_priority": QuerySpec(q3_shipping_priority, Q3_SQL),
    "q5_region_revenue": QuerySpec(q5_region_revenue, Q5_SQL),
    "asof_first_ship": QuerySpec(asof_first_ship, ASOF_FIRST_SHIP_SQL),
    "window_top1_per_order": QuerySpec(window_top1_per_order, WINDOW_TOP1_SQL),
    "haversine_knn": QuerySpec(haversine_knn, HAVERSINE_KNN_SQL),
    "scalar_kit": QuerySpec(scalar_kit, SCALAR_KIT_SQL),
}
