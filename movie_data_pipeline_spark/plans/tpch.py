"""Relational decision-support plans over the TPC-H-shaped star schema
(region, nation, customer, supplier, part, orders, lineitem): the
reference-query analogs, the TPC-H shapes this slimmed schema can
express (no partsupp table, no receipt/commit dates), grouping sets,
cube, pivot/unpivot, set operations, semi/anti joins, governance audits
(foreign-key integrity, profiling, expectations, version diffs,
cascade deletes) and customer segmentation.

Thresholds are derived through arithmetic that is bit-identical across
engines (decimal sums cast to double, IEEE division or multiplication
of identical inputs, never an engine-specific float aggregation
order), and broadcast hints go on the nation/region dimensions only
(the broadcast policy in PLANS.md).

Every entry is a (builder, SQL twin) pair registered in
plans/analytics.py and follows the determinism rules stated there.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.ranks import constant_partition_key, parallel_row_number
from ..sources.catalog import load_table
from .columns import dec_sum


def _avg2(col: F.Column) -> F.Column:
    """ROUND(exact-sum / count, 2) — deterministic avg."""
    return F.round(dec_sum(col, 4).cast("double") / F.count(col), 2)


# ---------------------------------------------------------------------------
# Q1 analog — top-1 by grouped average (join → agg → total-order top-k)
# Reference shape: queries.sql:5-14 (J1, A1/A2/A6, O1/O4).
# ---------------------------------------------------------------------------

def q1_top_part(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_partkey", "p_name")
        .agg(
            _avg2(F.col("l_extendedprice")).alias("avg_price"),
            F.count("l_extendedprice").alias("price_count"),
        )
        .orderBy(F.desc("avg_price"), F.desc("price_count"), F.asc("p_partkey"))
        .limit(1)
        .select("p_name", "avg_price", "price_count")
    )


Q1_TOP_PART_SQL = """
SELECT p.p_name,
       ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(30,4))) AS DOUBLE)
             / COUNT(l.l_extendedprice), 2) AS avg_price,
       COUNT(l.l_extendedprice) AS price_count
FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
GROUP BY p.p_partkey, p.p_name
ORDER BY avg_price DESC, price_count DESC, p.p_partkey ASC
LIMIT 1
"""


# ---------------------------------------------------------------------------
# Q2 analog — 4-way join chain + countDistinct + top-5
# Reference shape: queries.sql:19-30 (J2, A1/A4/A8, O1/O4).
# ---------------------------------------------------------------------------

def q2_top_regions(spark: SparkSession, sf: str) -> DataFrame:
    region = load_table(spark, sf, "region")
    nation = load_table(spark, sf, "nation")
    customer = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_regionkey", "r_name")
        .agg(
            _avg2(F.col("o_totalprice")).alias("avg_order_price"),
            F.countDistinct("c_custkey").alias("customer_count"),
            F.count(F.lit(1)).alias("order_count"),
        )
        .orderBy(F.desc("avg_order_price"), F.desc("order_count"), F.asc("r_regionkey"))
        .limit(5)
        .select("r_name", "avg_order_price", "customer_count", "order_count")
    )


Q2_TOP_REGIONS_SQL = """
SELECT r.r_name,
       ROUND(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(30,4))) AS DOUBLE)
             / COUNT(o.o_totalprice), 2) AS avg_order_price,
       COUNT(DISTINCT c.c_custkey) AS customer_count,
       COUNT(*) AS order_count
FROM region r
JOIN nation n   ON r.r_regionkey = n.n_regionkey
JOIN customer c ON n.n_nationkey = c.c_nationkey
JOIN orders o   ON c.c_custkey = o.o_custkey
GROUP BY r.r_regionkey, r.r_name
ORDER BY avg_order_price DESC, order_count DESC, r.r_regionkey ASC
LIMIT 5
"""


# ---------------------------------------------------------------------------
# Q3 analog — filter + group + sorted string-agg + top-1
# Reference shape: queries.sql:35-44 (P4, A3/A5, O2/O4).
# ---------------------------------------------------------------------------

def q3_top_segment(spark: SparkSession, sf: str) -> DataFrame:
    customer = load_table(spark, sf, "customer")
    return (
        customer.filter(
            F.col("c_mktsegment").isNotNull() & (F.col("c_mktsegment") != "N/A")
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("customer_count"),
            F.array_join(F.sort_array(F.collect_set("c_name")), ", ").alias(
                "customers"
            ),
        )
        .orderBy(F.desc("customer_count"), F.asc("c_mktsegment"))
        .limit(1)
    )


Q3_TOP_SEGMENT_SQL = """
SELECT c_mktsegment,
       COUNT(*) AS customer_count,
       STRING_AGG(DISTINCT c_name, ', ' ORDER BY c_name) AS customers
FROM customer
WHERE c_mktsegment IS NOT NULL AND c_mktsegment != 'N/A'
GROUP BY c_mktsegment
ORDER BY customer_count DESC, c_mktsegment ASC
LIMIT 1
"""


# ---------------------------------------------------------------------------
# Q4 analog — join-free time grouping, full ordered output
# Reference shape: queries.sql:49-58 (P5, A1/A4/A8, O3).
# ---------------------------------------------------------------------------

def q4_yearly_shipments(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate").isNotNull())
        .groupBy(F.year("l_shipdate").cast("int").alias("ship_year"))
        .agg(
            _avg2(F.col("l_extendedprice")).alias("avg_price"),
            F.countDistinct("l_orderkey").alias("order_count"),
            F.count(F.lit(1)).alias("line_count"),
        )
        .orderBy(F.desc("ship_year"))
    )


Q4_YEARLY_SQL = """
SELECT CAST(year(l_shipdate) AS INT) AS ship_year,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,4))) AS DOUBLE)
             / COUNT(l_extendedprice), 2) AS avg_price,
       COUNT(DISTINCT l_orderkey) AS order_count,
       COUNT(*) AS line_count
FROM lineitem
WHERE l_shipdate IS NOT NULL
GROUP BY ship_year
ORDER BY ship_year DESC
"""


# ---------------------------------------------------------------------------
# TPC-H Q1-style pricing summary — the aggregation workhorse
# ---------------------------------------------------------------------------

def pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    disc_price = F.col("l_extendedprice").cast("decimal(30,4)") * (
        F.lit(1).cast("decimal(30,4)") - F.col("l_discount").cast("decimal(30,4)")
    )
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum(F.col("l_quantity"), 4).cast("double").alias("sum_qty"),
            dec_sum(F.col("l_extendedprice"), 4).cast("double").alias("sum_base_price"),
            F.round(F.sum(disc_price).cast("double"), 2).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


PRICING_SUMMARY_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,4))) AS DOUBLE) AS sum_base_price,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,4))
                 * (CAST(1 AS DECIMAL(30,4)) - CAST(l_discount AS DECIMAL(30,4))))
             AS DOUBLE), 2) AS sum_disc_price,
       COUNT(*) AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# Join shapes: anti / semi
# ---------------------------------------------------------------------------

def customers_without_orders(spark: SparkSession, sf: str) -> DataFrame:
    customer = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


CUSTOMERS_WITHOUT_ORDERS_SQL = """
SELECT c_custkey, c_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


def parts_with_shipments(spark: SparkSession, sf: str) -> DataFrame:
    part = load_table(spark, sf, "part")
    li = load_table(spark, sf, "lineitem")
    return part.join(li, part.p_partkey == li.l_partkey, "left_semi").select(
        "p_partkey", "p_name"
    )


PARTS_WITH_SHIPMENTS_SQL = """
SELECT p_partkey, p_name
FROM part p
WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
"""


def top_orders_per_nation(spark: SparkSession, sf: str) -> DataFrame:
    nation = load_table(spark, sf, "nation")
    customer = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    joined = orders.join(
        customer, orders.o_custkey == customer.c_custkey
    ).join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
    w = Window.partitionBy("n_name").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        joined.withColumn("rnk", F.rank().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
        .select("n_name", "o_orderkey", "o_totalprice", "rnk")
    )


TOP_ORDERS_PER_NATION_SQL = """
SELECT n_name, o_orderkey, o_totalprice, CAST(rnk AS INT) AS rnk
FROM (
  SELECT n.n_name, o.o_orderkey, o.o_totalprice,
         RANK() OVER (PARTITION BY n.n_name
                      ORDER BY o.o_totalprice DESC, o.o_orderkey ASC) AS rnk
  FROM nation n
  JOIN customer c ON n.n_nationkey = c.c_nationkey
  JOIN orders o   ON c.c_custkey = o.o_custkey
)
WHERE rnk <= 3
"""


# ---------------------------------------------------------------------------
# Grouping sets: rollup
# ---------------------------------------------------------------------------

def rollup_orders(spark: SparkSession, sf: str) -> DataFrame:
    region = load_table(spark, sf, "region")
    nation = load_table(spark, sf, "nation")
    customer = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    joined = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return joined.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("order_count"),
        F.round(dec_sum(F.col("o_totalprice"), 4).cast("double"), 2).alias("total_price"),
    )


ROLLUP_ORDERS_SQL = """
SELECT r_name, n_name, COUNT(*) AS order_count,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE), 2) AS total_price
FROM region r
JOIN nation n   ON r.r_regionkey = n.n_regionkey
JOIN customer c ON n.n_nationkey = c.c_nationkey
JOIN orders o   ON c.c_custkey = o.o_custkey
GROUP BY ROLLUP (r_name, n_name)
"""


# ---------------------------------------------------------------------------
# Set operations: UNION (distinct), INTERSECT, EXCEPT + UNION ALL glue.
# The reference has none (SURVEY §2.8) — native Spark surface.
# ---------------------------------------------------------------------------

def set_ops_summary(spark: SparkSession, sf: str) -> DataFrame:
    c = load_table(spark, sf, "customer").select(F.col("c_custkey").alias("k"))
    o = load_table(spark, sf, "orders").select(F.col("o_custkey").alias("k"))

    def tagged(df: DataFrame, tag: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(tag).alias("op"), "n"
        )

    return (
        tagged(c.union(o).distinct(), "union")
        .unionByName(tagged(c.intersect(o), "intersect"))
        .unionByName(tagged(c.subtract(o), "except"))
    )


SET_OPS_SQL = """
SELECT 'union' AS op, COUNT(*) AS n FROM
  (SELECT c_custkey AS k FROM customer UNION SELECT o_custkey FROM orders)
UNION ALL
SELECT 'intersect', COUNT(*) FROM
  (SELECT c_custkey AS k FROM customer INTERSECT SELECT o_custkey FROM orders)
UNION ALL
SELECT 'except', COUNT(*) FROM
  (SELECT c_custkey AS k FROM customer EXCEPT SELECT o_custkey FROM orders)
"""


# ---------------------------------------------------------------------------
# Cube (full grouping-set lattice; rollup already covered)
# ---------------------------------------------------------------------------

def cube_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("line_count"),
        dec_sum(F.col("l_quantity"), 4).cast("double").alias("sum_qty"),
    )


CUBE_LINEITEM_SQL = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS line_count,
       CAST(SUM(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


# ---------------------------------------------------------------------------
# Non-equi (band/range) join against a tiny inline dimension —
# broadcast nested-loop on Spark, VALUES join in the oracle.
# ---------------------------------------------------------------------------

# p_retailprice spans [900, 900+100·sf') in the synthetic corpus
# ([900, 920) at sf0.001) — bands chosen so all three populate at
# every scale factor
_BANDS = [("budget", 0.0, 906.0), ("mid", 906.0, 913.0), ("premium", 913.0, 1e12)]


def price_band_summary(spark: SparkSession, sf: str) -> DataFrame:
    part = load_table(spark, sf, "part")
    bands = spark.createDataFrame(_BANDS, "band string, lo double, hi double")
    return (
        part.join(
            F.broadcast(bands),
            (F.col("p_retailprice") >= F.col("lo"))
            & (F.col("p_retailprice") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("part_count"),
            F.round(F.min("p_retailprice"), 2).alias("min_price"),
            F.round(F.max("p_retailprice"), 2).alias("max_price"),
        )
    )


PRICE_BAND_SQL = """
SELECT band, COUNT(*) AS part_count,
       ROUND(MIN(p_retailprice), 2) AS min_price,
       ROUND(MAX(p_retailprice), 2) AS max_price
FROM part
JOIN (VALUES ('budget', 0.0, 906.0),
             ('mid', 906.0, 913.0),
             ('premium', 913.0, 1e12)) AS b(band, lo, hi)
  ON p_retailprice >= lo AND p_retailprice < hi
GROUP BY band
"""


# ---------------------------------------------------------------------------
# Correlated-aggregate filter: orders priced far above their
# customer's average (window formulation on both sides — exact sums)
# ---------------------------------------------------------------------------

def orders_above_customer_avg(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_custkey")
    # decimal division + decimal round = exact HALF_UP — a double-side
    # ROUND can flip on .005 boundaries (sum/count lands there whenever
    # count divides the cent-sum), and the two engines' double-rounding
    # disagrees exactly there. The oracle mirrors this with integer
    # cent arithmetic.
    cavg_exact = F.round(
        dec_sum(F.col("o_totalprice"), 4).over(w) / F.count(F.lit(1)).over(w), 2
    ).cast("double")
    cavg_raw = (
        dec_sum(F.col("o_totalprice"), 4).over(w).cast("double")
        / F.count(F.lit(1)).over(w)
    )
    # materialize window values first — Spark (correctly) rejects
    # window expressions inside WHERE, so filter on projected columns
    return (
        orders.withColumn("_cavg", cavg_raw)
        .withColumn("cust_avg", cavg_exact)
        .filter(F.col("o_totalprice") > F.lit(1.5) * F.col("_cavg"))
        .select("o_orderkey", "o_custkey", "o_totalprice", "cust_avg")
    )


ORDERS_ABOVE_AVG_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice,
       -- exact half-up rounding of (cent_sum / n) via integer math
       ((s4 + 50 * n) // (100 * n)) / 100.0 AS cust_avg
FROM (
  SELECT o_orderkey, o_custkey, o_totalprice,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) OVER w * 10000
              AS HUGEINT) AS s4,
         COUNT(*) OVER w AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) OVER w AS DOUBLE)
           / COUNT(*) OVER w AS cavg
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey)
)
WHERE o_totalprice > 1.5 * cavg
"""


# ---------------------------------------------------------------------------
# Scalar string-function family over part names (F-family breadth on
# the shared corpus: case, length, regex extract, split, edit distance)
# ---------------------------------------------------------------------------

def part_name_features(spark: SparkSession, sf: str) -> DataFrame:
    part = load_table(spark, sf, "part")
    name = F.col("p_name")
    return part.select(
        "p_partkey",
        F.upper(name).alias("upper_name"),
        F.length(name).alias("name_len"),
        F.regexp_extract(name, r"^(\w+)", 1).alias("first_word"),
        F.size(F.split(name, r"\s+")).alias("n_words"),
        F.levenshtein(name, F.lower(F.col("p_type"))).alias("type_distance"),
        F.concat_ws("::", F.col("p_type"), name).alias("tagged_name"),
    )


PART_NAME_FEATURES_SQL = r"""
SELECT p_partkey,
       upper(p_name) AS upper_name,
       length(p_name) AS name_len,
       regexp_extract(p_name, '^(\w+)', 1) AS first_word,
       len(string_split_regex(p_name, '\s+')) AS n_words,
       levenshtein(p_name, lower(p_type)) AS type_distance,
       concat_ws('::', p_type, p_name) AS tagged_name
FROM part
"""


# ---------------------------------------------------------------------------
# Fact-to-fact joins (TPC-H Q3/Q5 shapes): orders ⋈ lineitem is the
# big-big join where shuffle strategy matters — both sides hash-
# partition on the order key (sort-merge under AQE at scale; the
# at-rest answer is co-bucketing both tables on the key, see
# sinks.write_bucketed). Fixed-cardinality dims (nation=25, region=5)
# keep explicit broadcast hints; SF-scaled tables (customer, supplier,
# part) carry NO hint — AQE broadcasts them while they fit and flips
# to shuffle joins when they don't, which a hint would forbid forever.
# ---------------------------------------------------------------------------

def shipping_priority(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q3 shape: top-10 undelivered orders by revenue."""
    customer = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    revenue = F.col("l_extendedprice").cast("decimal(30,4)") * (
        F.lit(1).cast("decimal(30,4)") - F.col("l_discount").cast("decimal(30,4)")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .filter(
            (F.col("c_mktsegment") == "BUILDING")
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(revenue).cast("double"), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
        .select(
            "o_orderkey",
            F.unix_timestamp("o_orderdate").alias("orderdate_epoch"),
            "o_orderpriority",
            "revenue",
        )
    )


SHIPPING_PRIORITY_SQL = """
SELECT o_orderkey,
       CAST(floor(epoch(o_orderdate)) AS BIGINT) AS orderdate_epoch,
       o_orderpriority,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,4))
                 * (CAST(1 AS DECIMAL(30,4)) - CAST(l_discount AS DECIMAL(30,4))))
             AS DOUBLE), 2) AS revenue
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
  AND l.l_shipdate  > TIMESTAMP '1998-01-01'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


def supplier_volume_by_nation(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q5 shape: revenue by supplier nation — the 6-table join
    (two facts + four dims; nation/region hinted broadcast, supplier/
    customer left to AQE — they scale with SF)."""
    region = load_table(spark, sf, "region")
    nation = load_table(spark, sf, "nation")
    supplier = load_table(spark, sf, "supplier")
    orders = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    revenue = F.col("l_extendedprice").cast("decimal(30,4)") * (
        F.lit(1).cast("decimal(30,4)") - F.col("l_discount").cast("decimal(30,4)")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(revenue).cast("double"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("line_count"),
        )
    )


SUPPLIER_VOLUME_SQL = """
SELECT r_name, n_name,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,4))
                 * (CAST(1 AS DECIMAL(30,4)) - CAST(l_discount AS DECIMAL(30,4))))
             AS DOUBLE), 2) AS revenue,
       COUNT(*) AS line_count
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
GROUP BY r_name, n_name
"""


# ---------------------------------------------------------------------------
# Analytic-function breadth: ntile / percent_rank / dense_rank
# ---------------------------------------------------------------------------

def customer_balance_tiles(spark: SparkSession, sf: str) -> DataFrame:
    """Global ranking functions WITHOUT a global single-partition
    window (converted from the round-1 ntile/percent_rank/dense_rank
    window once operators/ranks.py existed — customer is dim-sized
    today but is a 15B-row fact at 100 TB). The full sort key
    (c_acctbal DESC, c_custkey ASC) contains the unique primary key,
    so every row is order-distinct and the three analytics collapse to
    functions of the row number i and the count n: NTILE via
    ntile_expr's exact integer placement, PERCENT_RANK = (i-1)/(n-1)
    (RANK = i when tie-free), DENSE_RANK = i (each row a distinct sort
    value). The DuckDB oracle keeps the plain NTILE/PERCENT_RANK/
    DENSE_RANK window, so every hash match re-proves the collapse."""
    from ..operators.ranks import ntile_expr, parallel_row_number

    customer = load_table(spark, sf, "customer")
    ranked = parallel_row_number(
        customer.withColumn("_negbal", -F.col("c_acctbal")),
        "_negbal",
        ["c_custkey"],
        out_col="i",
    )
    n = customer.agg(F.count(F.lit(1)).alias("n_total"))  # 1-row side
    return ranked.crossJoin(F.broadcast(n)).select(
        "c_custkey",
        "c_acctbal",
        ntile_expr("i", "n_total", 4).alias("quartile"),
        F.round(
            # n = 1 edge: PERCENT_RANK is defined as 0.0, not 0/0
            F.when(F.col("n_total") == 1, F.lit(0.0)).otherwise(
                (F.col("i") - 1).cast("double")
                / (F.col("n_total") - 1).cast("double")
            ),
            6,
        ).alias("pct_rank"),
        F.col("i").cast("int").alias("drank"),
    )


CUSTOMER_TILES_SQL = """
SELECT c_custkey, c_acctbal,
       CAST(NTILE(4) OVER w AS INT) AS quartile,
       ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
       DENSE_RANK() OVER w AS drank
FROM customer
WINDOW w AS (ORDER BY c_acctbal DESC, c_custkey ASC)
"""


# ---------------------------------------------------------------------------
# Temporal-function family: truncation, components, arithmetic
# ---------------------------------------------------------------------------

def order_date_features(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    d = F.col("o_orderdate")
    return orders.select(
        "o_orderkey",
        F.year(d).cast("int").alias("yr"),
        F.quarter(d).cast("int").alias("qtr"),
        F.month(d).cast("int").alias("mth"),
        F.dayofmonth(d).cast("int").alias("dom"),
        F.unix_timestamp(F.date_trunc("month", d)).alias("month_start_epoch"),
        F.datediff(F.lit("2000-01-01").cast("date"), d.cast("date")).cast(
            "int"
        ).alias("days_to_y2k"),
        F.unix_timestamp(F.date_add(d.cast("date"), 90).cast("timestamp")).alias(
            "due_epoch"
        ),
    )


ORDER_DATE_FEATURES_SQL = """
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INT) AS yr,
       CAST(quarter(o_orderdate) AS INT) AS qtr,
       CAST(month(o_orderdate) AS INT) AS mth,
       CAST(day(o_orderdate) AS INT) AS dom,
       CAST(floor(epoch(date_trunc('month', o_orderdate))) AS BIGINT)
         AS month_start_epoch,
       CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS INT)
         AS days_to_y2k,
       CAST(floor(epoch(CAST(CAST(o_orderdate AS DATE) + INTERVAL 90 DAY
                             AS TIMESTAMP))) AS BIGINT) AS due_epoch
FROM orders
"""


# ---------------------------------------------------------------------------
# Pivot: long → wide (order counts per priority, by order year).
# Spark compiles .pivot(col, values) to a single-pass conditional
# aggregate when values are given explicitly — one shuffle, no second
# values-discovery job, which is the form that scales.
# ---------------------------------------------------------------------------

_PRIORITIES = [
    ("1-URGENT", "urgent_orders"),
    ("2-HIGH", "high_orders"),
    ("3-MEDIUM", "medium_orders"),
    ("4-NOT SPECIFIED", "not_specified_orders"),
    ("5-LOW", "low_orders"),
]


def pivot_priority_by_year(spark: SparkSession, sf: str) -> DataFrame:
    o = load_table(spark, sf, "orders")
    wide = (
        o.groupBy(F.year("o_orderdate").cast("int").alias("order_year"))
        .pivot("o_orderpriority", [v for v, _ in _PRIORITIES])
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "order_year",
        *[
            F.coalesce(F.col(f"`{v}`"), F.lit(0)).alias(alias)
            for v, alias in _PRIORITIES
        ],
    ).orderBy("order_year")


PIVOT_PRIORITY_SQL = """
SELECT CAST(year(o_orderdate) AS INT) AS order_year,
       COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS urgent_orders,
       COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS high_orders,
       COUNT(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS medium_orders,
       COUNT(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS not_specified_orders,
       COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW') AS low_orders
FROM orders
GROUP BY order_year
ORDER BY order_year
"""


# ---------------------------------------------------------------------------
# Unpivot: wide → long (melt part's numeric metrics, then profile each).
# DataFrame.unpivot is zero-shuffle (a per-row Expand), so the only
# shuffle is the final tiny groupBy(metric).
# ---------------------------------------------------------------------------

def unpivot_part_metrics(spark: SparkSession, sf: str) -> DataFrame:
    p = load_table(spark, sf, "part")
    long = p.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("size"),
        F.col("p_retailprice").cast("double").alias("retailprice"),
    ).unpivot("p_partkey", ["size", "retailprice"], "metric", "value")
    return (
        long.groupBy("metric")
        .agg(
            F.count(F.lit(1)).alias("n_values"),
            F.round(
                (
                    F.sum(F.col("value").cast("decimal(30,4)")).cast("double")
                    / F.count("value")
                ),
                2,
            ).alias("avg_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .orderBy("metric")
    )


UNPIVOT_PART_SQL = """
WITH long AS (
    SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
    UNION ALL
    SELECT p_partkey, 'retailprice', CAST(p_retailprice AS DOUBLE) FROM part
)
SELECT metric,
       COUNT(*) AS n_values,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) / COUNT(value), 2) AS avg_value,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM long
GROUP BY metric
ORDER BY metric
"""


# ---------------------------------------------------------------------------
# GROUPING SETS: two independent single-column rollups plus a grand
# total in ONE pass over the join — what would otherwise be three
# scans/aggregations. Spark plans this as a single Expand.
# ---------------------------------------------------------------------------

def grouping_sets_revenue(spark: SparkSession, sf: str) -> DataFrame:
    load_table(spark, sf, "orders").createOrReplaceTempView("gs_orders")
    load_table(spark, sf, "customer").createOrReplaceTempView("gs_customer")
    load_table(spark, sf, "nation").createOrReplaceTempView("gs_nation")
    return spark.sql(
        """
        SELECT COALESCE(n_name, 'ALL') AS grp_nation,
               COALESCE(o_orderpriority, 'ALL') AS grp_priority,
               ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE), 2)
                   AS revenue,
               COUNT(*) AS n_orders
        FROM gs_orders
        JOIN gs_customer ON o_custkey = c_custkey
        JOIN gs_nation ON c_nationkey = n_nationkey
        GROUP BY GROUPING SETS ((n_name), (o_orderpriority), ())
        ORDER BY grp_nation, grp_priority
        """
    )


GROUPING_SETS_SQL = """
SELECT COALESCE(n_name, 'ALL') AS grp_nation,
       COALESCE(o_orderpriority, 'ALL') AS grp_priority,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE), 2) AS revenue,
       COUNT(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY GROUPING SETS ((n_name), (o_orderpriority), ())
ORDER BY grp_nation, grp_priority
"""


# ---------------------------------------------------------------------------
# Referential-integrity audit — the engine-side replacement for the
# reference's FK constraints (schema.sql:24-40), which Spark tables
# can't enforce declaratively. Each arm is a left-anti join; on a
# cluster the big-big arm (lineitem→orders) is a shuffled anti join on
# the join key, the dim arms broadcast.
# ---------------------------------------------------------------------------

def fk_integrity_audit(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    p = load_table(spark, sf, "part")
    s = load_table(spark, sf, "supplier")

    def arm(child: DataFrame, key, parent: DataFrame, pkey, name: str):
        return (
            child.join(
                parent, F.col(key) == F.col(pkey), "left_anti"
            )
            .agg(F.count(F.lit(1)).alias("orphan_rows"))
            .select(F.lit(name).alias("fk"), "orphan_rows")
        )

    return (
        arm(li, "l_orderkey", o, "o_orderkey", "lineitem->orders")
        .unionAll(arm(li, "l_partkey", p, "p_partkey", "lineitem->part"))
        .unionAll(arm(li, "l_suppkey", s, "s_suppkey", "lineitem->supplier"))
        .unionAll(arm(o, "o_custkey", c, "c_custkey", "orders->customer"))
        .orderBy("fk")
    )


FK_AUDIT_SQL = """
SELECT * FROM (
    SELECT 'lineitem->orders' AS fk,
           COUNT(*) FILTER (WHERE NOT EXISTS
               (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)) AS orphan_rows
    FROM lineitem
    UNION ALL
    SELECT 'lineitem->part',
           COUNT(*) FILTER (WHERE NOT EXISTS
               (SELECT 1 FROM part WHERE p_partkey = l_partkey))
    FROM lineitem
    UNION ALL
    SELECT 'lineitem->supplier',
           COUNT(*) FILTER (WHERE NOT EXISTS
               (SELECT 1 FROM supplier WHERE s_suppkey = l_suppkey))
    FROM lineitem
    UNION ALL
    SELECT 'orders->customer',
           COUNT(*) FILTER (WHERE NOT EXISTS
               (SELECT 1 FROM customer WHERE c_custkey = o_custkey))
    FROM orders
) ORDER BY fk
"""


# ---------------------------------------------------------------------------
# Table profiling + declarative expectations — the catalog/quality ops.
# ---------------------------------------------------------------------------

def profile_customer(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.sinks import profile_table

    return profile_table(load_table(spark, sf, "customer"))


PROFILE_CUSTOMER_SQL = """
SELECT * FROM (
    SELECT 'c_custkey' AS column_name, COUNT(*) AS n_rows,
           COUNT(CASE WHEN c_custkey IS NULL THEN 1 END) AS n_nulls,
           COUNT(DISTINCT c_custkey) AS n_distinct,
           CAST(MIN(c_custkey) AS VARCHAR) AS min_value,
           CAST(MAX(c_custkey) AS VARCHAR) AS max_value
    FROM customer
    UNION ALL
    SELECT 'c_name', COUNT(*),
           COUNT(CASE WHEN c_name IS NULL THEN 1 END),
           COUNT(DISTINCT c_name),
           CAST(MIN(c_name) AS VARCHAR), CAST(MAX(c_name) AS VARCHAR)
    FROM customer
    UNION ALL
    SELECT 'c_nationkey', COUNT(*),
           COUNT(CASE WHEN c_nationkey IS NULL THEN 1 END),
           COUNT(DISTINCT c_nationkey),
           CAST(MIN(c_nationkey) AS VARCHAR), CAST(MAX(c_nationkey) AS VARCHAR)
    FROM customer
    UNION ALL
    SELECT 'c_acctbal', COUNT(*),
           COUNT(CASE WHEN c_acctbal IS NULL THEN 1 END),
           COUNT(DISTINCT c_acctbal),
           CAST(MIN(c_acctbal) AS VARCHAR), CAST(MAX(c_acctbal) AS VARCHAR)
    FROM customer
    UNION ALL
    SELECT 'c_mktsegment', COUNT(*),
           COUNT(CASE WHEN c_mktsegment IS NULL THEN 1 END),
           COUNT(DISTINCT c_mktsegment),
           CAST(MIN(c_mktsegment) AS VARCHAR), CAST(MAX(c_mktsegment) AS VARCHAR)
    FROM customer
) ORDER BY column_name
"""


def orders_expectations(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.sinks import check_expectations

    o = load_table(spark, sf, "orders")
    return check_expectations(
        o,
        {
            "custkey_not_null": F.col("o_custkey").isNotNull(),
            "orderdate_not_null": F.col("o_orderdate").isNotNull(),
            "status_in_domain": F.col("o_orderstatus").isin("O", "F", "P"),
            "totalprice_positive": F.col("o_totalprice") > 0,
        },
    )


ORDERS_EXPECTATIONS_SQL = """
SELECT * FROM (
    SELECT 'custkey_not_null' AS rule,
           COUNT(CASE WHEN NOT COALESCE(o_custkey IS NOT NULL, FALSE) THEN 1 END) AS n_violations,
           COUNT(*) AS n_rows
    FROM orders
    UNION ALL
    SELECT 'orderdate_not_null',
           COUNT(CASE WHEN NOT COALESCE(o_orderdate IS NOT NULL, FALSE) THEN 1 END),
           COUNT(*)
    FROM orders
    UNION ALL
    SELECT 'status_in_domain',
           COUNT(CASE WHEN NOT COALESCE(o_orderstatus IN ('O','F','P'), FALSE) THEN 1 END),
           COUNT(*)
    FROM orders
    UNION ALL
    SELECT 'totalprice_positive',
           COUNT(CASE WHEN NOT COALESCE(o_totalprice > 0, FALSE) THEN 1 END),
           COUNT(*)
    FROM orders
) ORDER BY rule
"""


# ---------------------------------------------------------------------------
# Salted aggregation, driver-verified: the two-level (key, salt) →
# key combine from operators/skew.py, oracled against the plain
# GROUP BY. The salted plan is the 100 TB answer to a hot grouping
# key (one reducer owning a whole key); the oracle row proves the
# decomposition is EXACT — same counts, same decimal-disciplined sum —
# not an approximation. l_returnflag has only 3 values over all of
# lineitem, the canonical few-hot-keys shape.
# ---------------------------------------------------------------------------

def salted_quantity_stats(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.skew import salted_count_sum

    li = load_table(spark, sf, "lineitem")
    return salted_count_sum(
        li.select("l_returnflag", "l_quantity"), ["l_returnflag"], "l_quantity"
    ).orderBy("l_returnflag")


SALTED_QUANTITY_SQL = """
SELECT l_returnflag,
       COUNT(*) AS row_count,
       CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS value_sum
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# TPC-H Q21 shape (adapted to this slimmed schema: returned lines
# stand in for late deliveries): suppliers who are the SOLE supplier
# with a returned line in a finished multi-supplier order. Exercises
# the correlated EXISTS + NOT EXISTS pair as left-semi / left-anti
# joins with a non-equi residual — Catalyst drives both on the
# orderkey equi-hash and applies the supplier-inequality as the join
# residual, so the plan stays a chain of shuffled hash joins (no
# nested loop) and scales like any keyed join.
# ---------------------------------------------------------------------------

def sole_return_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    supplier = load_table(spark, sf, "supplier")

    returned = (
        li.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    all_sup = li.select("l_orderkey", "l_suppkey").distinct()
    finished = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_orderkey").alias("l_orderkey")
    )

    base = returned.join(finished, "l_orderkey")
    b, o, r2 = base.alias("b"), all_sup.alias("o"), returned.alias("r2")
    # EXISTS: some OTHER supplier ships in the same order
    base = b.join(
        o,
        (F.col("b.l_orderkey") == F.col("o.l_orderkey"))
        & (F.col("o.l_suppkey") != F.col("b.l_suppkey")),
        "left_semi",
    )
    # NOT EXISTS: no OTHER supplier also had a returned line there
    b2 = base.alias("b2")
    base = b2.join(
        r2,
        (F.col("b2.l_orderkey") == F.col("r2.l_orderkey"))
        & (F.col("r2.l_suppkey") != F.col("b2.l_suppkey")),
        "left_anti",
    )
    return (
        base.join(
            supplier, base.l_suppkey == supplier.s_suppkey
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("n_orders"), F.asc("s_name"))
        .limit(10)
    )


SOLE_RETURN_SQL = """
WITH r AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
  WHERE l_returnflag = 'R'
),
a AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
base AS (
  SELECT r.l_orderkey, r.l_suppkey
  FROM r JOIN orders ON o_orderkey = r.l_orderkey
                    AND o_orderstatus = 'F'
  WHERE EXISTS (SELECT 1 FROM a
                WHERE a.l_orderkey = r.l_orderkey
                  AND a.l_suppkey <> r.l_suppkey)
    AND NOT EXISTS (SELECT 1 FROM r r2
                    WHERE r2.l_orderkey = r.l_orderkey
                      AND r2.l_suppkey <> r.l_suppkey)
)
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS n_orders
FROM base JOIN supplier ON s_suppkey = l_suppkey
GROUP BY s_name
ORDER BY n_orders DESC, s_name
LIMIT 10
"""


# ---------------------------------------------------------------------------
# TPC-H Q22 shape (phone prefixes → nations on this slimmed schema):
# "positive-balance customers richer than the average such customer,
# with no order in the trailing 90 days of the order calendar" — two
# scalar-aggregate subqueries feeding filters, composed with an anti
# join over the pruned recent-orders slice. The comparison threshold is the
# DECIMAL-disciplined average (exact sum / count), so the > cut is
# bit-identical cross-engine; a float AVG would make borderline
# customers flicker between engines.
# ---------------------------------------------------------------------------

def q22_waiting_wealth(spark: SparkSession, sf: str) -> DataFrame:
    customer = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")

    pos = customer.filter(F.col("c_acctbal") > 0)
    avg_bal = pos.agg(
        (dec_sum(F.col("c_acctbal"), 6).cast("double") / F.count(F.lit(1)))
        .alias("threshold")
    )
    # "lapsed": no order inside the trailing 90 days of the order
    # calendar — the window edge is ANOTHER scalar subquery (an exact
    # DATE max, so cross-engine identical), and the anti join prunes
    # to recent orders before probing
    edge = orders.agg(
        F.date_sub(F.max(F.col("o_orderdate").cast("date")), 90).alias("edge")
    )
    recent = (
        orders.crossJoin(F.broadcast(edge))  # 1-row side
        .filter(F.col("o_orderdate").cast("date") >= F.col("edge"))
        .select("o_custkey")
    )
    rich = (
        customer.crossJoin(F.broadcast(avg_bal))  # 1-row side
        .filter(F.col("c_acctbal") > F.col("threshold"))
        .join(recent, customer.c_custkey == recent.o_custkey, "left_anti")
    )
    return (
        rich.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            (
                F.round(dec_sum(F.col("c_acctbal"), 6).cast("double"), 2)
                + 0.0
            ).alias("total_bal"),
        )
        .orderBy("c_nationkey")
    )


Q22_WAITING_WEALTH_SQL = """
WITH t AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*)
           AS threshold
  FROM customer WHERE c_acctbal > 0
),
mx AS (
  SELECT MAX(CAST(o_orderdate AS DATE)) - INTERVAL 90 DAY AS edge
  FROM orders
)
SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_cust,
       ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE), 2)
         + 0.0 AS total_bal
FROM customer, t
WHERE c_acctbal > threshold
  AND NOT EXISTS (SELECT 1 FROM orders, mx
                  WHERE o_custkey = c_custkey
                    AND CAST(o_orderdate AS DATE) >= edge)
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


# ---------------------------------------------------------------------------
# TPC-H shapes: correlated argmin (Q2), value-share threshold (Q11),
# argmax-over-aggregate (Q15), correlated-average filter (Q17), HAVING-
# IN over a grouped fact (Q18), chained semi-joins with a scalar gate
# (Q20); then market-basket lift, bitmap pruning, version diffs and NULL
# semantics.
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# TPC-H Q2 shape: minimum-cost supplier per part. With no partsupp
# table, the offered unit price is derived from shipment history:
# MIN(l_extendedprice / l_quantity) per (part, supplier). The
# correlated "= (SELECT MIN ...)" subquery becomes a groupBy + join
# back on the aggregate — one extra shuffle on p_partkey, which is the
# scalable plan (the per-part aggregate is tiny next to lineitem, and
# Catalyst broadcast-joins it back when small). Unit prices are IEEE
# doubles computed identically by both engines from identical inputs,
# so the equality join cannot flicker; supplier ties break on the
# smallest s_suppkey to keep one deterministic row per part. The
# display truncation is floor(x*1e4)/1e4, not ROUND: the engines'
# ROUND implementations disagree at decimal half-way ties on raw
# quotients (Spark exact-BigDecimal HALF_UP vs DuckDB float
# scaling — bit at sf0.01 on 60.82475), while floor of the same
# double has no tie cases at all.
# ---------------------------------------------------------------------------

def q2_min_cost_supplier(spark: SparkSession, sf: str) -> DataFrame:
    part = load_table(spark, sf, "part").filter(
        (F.col("p_type") == "PROMO") & (F.col("p_size") < 25)
    )
    li = load_table(spark, sf, "lineitem")
    offer = (
        # part is SF-scaled: no broadcast hint — AQE broadcasts the
        # filtered slice at test SFs and flips to a shuffle join when
        # it outgrows the threshold (repo broadcast policy, PLANS.md).
        li.join(part.select("p_partkey"), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"))
    )
    best = offer.groupBy("l_partkey").agg(F.min("unit_cost").alias("min_cost"))
    winner = (
        offer.join(best, "l_partkey")
        .filter(F.col("unit_cost") == F.col("min_cost"))
        .groupBy("l_partkey")
        .agg(
            F.min("l_suppkey").alias("best_suppkey"),
            F.min("min_cost").alias("min_cost"),
        )
    )
    return (
        winner.join(part, winner.l_partkey == part.p_partkey)
        .select(
            F.col("p_partkey"),
            F.col("p_name"),
            F.col("best_suppkey"),
            (F.floor(F.col("min_cost") * 10000) / 10000).alias("min_unit_cost"),
        )
        .orderBy("p_partkey")
    )


Q2_MIN_COST_SQL = """
WITH offer AS (
    SELECT l_partkey, l_suppkey,
           MIN(l_extendedprice / l_quantity) AS unit_cost
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
             AND p_type = 'PROMO' AND p_size < 25
    GROUP BY l_partkey, l_suppkey
)
SELECT p_partkey, p_name,
       MIN(l_suppkey) AS best_suppkey,
       FLOOR(MIN(unit_cost) * 10000) / 10000 AS min_unit_cost
FROM offer o
JOIN part ON p_partkey = o.l_partkey
WHERE unit_cost = (SELECT MIN(unit_cost) FROM offer o2
                   WHERE o2.l_partkey = o.l_partkey)
GROUP BY p_partkey, p_name
ORDER BY p_partkey
"""


# ---------------------------------------------------------------------------
# TPC-H Q11 shape: parts carrying an outsized share of a nation
# group's shipped value. The threshold is a scalar subquery — 1.5×
# the average per-part value, which stays meaningful at every scale
# factor (lines-per-part is ~constant in this generator, so a fixed
# fraction-of-total would collapse to zero rows as the part count
# grows) — computed from the SAME exact decimal sum on both engines,
# then cast to double once; the per-part compare is
# decimal-sum-vs-double, deterministic cross-engine. 1-row threshold
# side is explicitly broadcast.
# ---------------------------------------------------------------------------

def q11_important_parts(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    sup = load_table(spark, sf, "supplier")
    nat = load_table(spark, sf, "nation").filter(F.col("n_nationkey") < 8)

    sliced = li.join(
        # supplier is SF-scaled: hint only the bounded 25-row nation
        # dim; AQE decides whether the nation-sliced supplier key set
        # still fits a broadcast at the current scale.
        sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .select("s_suppkey"),
        li.l_suppkey == F.col("s_suppkey"),
    )
    per_part = sliced.groupBy("l_partkey").agg(
        dec_sum(F.col("l_extendedprice"), 6).alias("part_value")
    )
    thr = per_part.agg(
        (
            F.sum("part_value").cast("double") / F.count(F.lit(1)) * F.lit(1.5)
        ).alias("threshold")
    )
    return (
        per_part.crossJoin(F.broadcast(thr))  # 1-row side
        .filter(F.col("part_value").cast("double") > F.col("threshold"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.round(F.col("part_value").cast("double"), 2).alias("part_value"),
        )
        .orderBy(F.desc("part_value"), F.asc("p_partkey"))
    )


Q11_IMPORTANT_PARTS_SQL = """
WITH sliced AS (
    SELECT l_partkey, l_extendedprice
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey AND n_nationkey < 8
), per_part AS (
    SELECT l_partkey,
           SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS part_value
    FROM sliced GROUP BY l_partkey
)
SELECT l_partkey AS p_partkey,
       ROUND(CAST(part_value AS DOUBLE), 2) AS part_value
FROM per_part
WHERE CAST(part_value AS DOUBLE) >
      (SELECT CAST(SUM(part_value) AS DOUBLE) / COUNT(*) * 1.5 FROM per_part)
ORDER BY part_value DESC, p_partkey
"""


# ---------------------------------------------------------------------------
# TPC-H Q15 shape: the top supplier(s) by revenue inside one quarter.
# Revenue per supplier is an exact decimal sum of the double product
# extendedprice*(1-discount) — the product is computed identically on
# both engines, the sum is order-independent — so the "revenue =
# (SELECT MAX ...)" equality is exact, and EVERY tied top supplier is
# returned (the Q15 edge case that float sums get wrong).
# ---------------------------------------------------------------------------

def q15_top_supplier(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    sup = load_table(spark, sf, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias(
            "revenue"
        )
    )
    top = rev.agg(F.max("revenue").alias("max_revenue"))
    return (
        rev.crossJoin(F.broadcast(top))  # 1-row side
        .filter(F.col("revenue") == F.col("max_revenue"))
        .join(sup, rev.l_suppkey == sup.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("revenue").cast("double"), 2).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


Q15_TOP_SUPPLIER_SQL = """
WITH rev AS (
    SELECT l_suppkey,
           SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6)))
               AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1996-04-01'
    GROUP BY l_suppkey
)
SELECT s_suppkey, s_name,
       ROUND(CAST(revenue AS DOUBLE), 2) AS total_revenue
FROM rev JOIN supplier ON s_suppkey = l_suppkey
WHERE revenue = (SELECT MAX(revenue) FROM rev)
ORDER BY s_suppkey
"""


# ---------------------------------------------------------------------------
# TPC-H Q17 shape: revenue that would vanish if small-quantity orders
# for one brand were dropped. The correlated "l_quantity < 0.2 * AVG
# per part" becomes a per-part aggregate joined back (AQE broadcasts
# it while the brand's part count fits). The 0.2*avg
# threshold is decimal-sum/count → double → *0.2: identical on both
# engines, so the strict < cut is stable.
# ---------------------------------------------------------------------------

def q17_small_qty_revenue(spark: SparkSession, sf: str) -> DataFrame:
    part = load_table(spark, sf, "part").filter(F.col("p_brand") == "Brand#3")
    li = load_table(spark, sf, "lineitem")
    brand_li = li.join(
        # brand-sliced part is still linear in SF: leave the build-side
        # choice to AQE (repo broadcast policy, PLANS.md).
        part.select("p_partkey"), li.l_partkey == F.col("p_partkey")
    )
    per_part_avg = brand_li.groupBy("l_partkey").agg(
        (
            dec_sum(F.col("l_quantity"), 6).cast("double")
            / F.count(F.lit(1))
            * F.lit(0.2)
        ).alias("qty_cut")
    )
    # per_part_avg ≈ |brand slice of part| — also linear in SF, so no
    # explicit hint; AQE broadcasts it while it fits.
    small = brand_li.join(per_part_avg, "l_partkey").filter(
        F.col("l_quantity") < F.col("qty_cut")
    )
    return small.agg(
        F.round(
            dec_sum(F.col("l_extendedprice"), 6).cast("double") / F.lit(7.0), 2
        ).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_small_lines"),
    )


Q17_SMALL_QTY_SQL = """
WITH brand_li AS (
    SELECT l_partkey, l_quantity, l_extendedprice
    FROM lineitem
    JOIN part ON p_partkey = l_partkey AND p_brand = 'Brand#3'
), cuts AS (
    SELECT l_partkey,
           CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE)
             / COUNT(*) * 0.2 AS qty_cut
    FROM brand_li GROUP BY l_partkey
)
SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE)
             / 7.0, 2) AS avg_yearly,
       CAST(COUNT(*) AS BIGINT) AS n_small_lines
FROM brand_li JOIN cuts USING (l_partkey)
WHERE l_quantity < qty_cut
"""


# ---------------------------------------------------------------------------
# TPC-H Q18 shape: large-volume orders (HAVING over the grouped fact,
# then IN-join back to the order/customer detail). The grouped
# lineitem side carries the HAVING before the join — the filter runs
# on the aggregate, so only qualifying orderkeys shuffle into the
# join, which is what keeps the probe side tiny at scale.
# ---------------------------------------------------------------------------

def q18_large_volume_customers(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(dec_sum(F.col("l_quantity"), 6).alias("sum_qty_dec"))
        .filter(F.col("sum_qty_dec").cast("double") > 200.0)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            F.round(F.col("o_totalprice"), 2).alias("o_totalprice"),
            F.col("sum_qty_dec").cast("double").alias("sum_qty"),
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


Q18_LARGE_VOLUME_SQL = """
WITH big AS (
    SELECT l_orderkey,
           SUM(CAST(l_quantity AS DECIMAL(30,6))) AS sum_qty_dec
    FROM lineitem GROUP BY l_orderkey
    HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) > 200.0
)
SELECT c_name, c_custkey, o_orderkey,
       CAST(o_orderdate AS DATE) AS o_orderdate,
       ROUND(o_totalprice, 2) AS o_totalprice,
       CAST(sum_qty_dec AS DOUBLE) AS sum_qty
FROM big
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


# ---------------------------------------------------------------------------
# TPC-H Q20 shape: suppliers who moved an above-average volume of a
# name-sliced part family — a chain of (filter → semi-join → agg →
# scalar gate → join) where each stage only narrows. The scalar
# average is the usual decimal-exact/double-once discipline.
# ---------------------------------------------------------------------------

def q20_excess_shippers(spark: SparkSession, sf: str) -> DataFrame:
    part = load_table(spark, sf, "part").filter(F.col("p_name").like("red%"))
    li = load_table(spark, sf, "lineitem")
    sup = load_table(spark, sf, "supplier")
    shipped = (
        # name-sliced part is linear in SF: AQE picks the build side.
        li.join(part.select("p_partkey"), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(dec_sum(F.col("l_quantity"), 6).alias("red_qty_dec"))
    )
    avg_qty = shipped.agg(
        (F.sum("red_qty_dec").cast("double") / F.count(F.lit(1))).alias("avg_qty")
    )
    return (
        shipped.crossJoin(F.broadcast(avg_qty))  # 1-row side
        .filter(F.col("red_qty_dec").cast("double") > F.col("avg_qty"))
        .join(sup, shipped.l_suppkey == sup.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("red_qty_dec").cast("double").alias("red_qty"),
        )
        .orderBy(F.desc("red_qty"), F.asc("s_suppkey"))
    )


Q20_EXCESS_SHIPPERS_SQL = """
WITH shipped AS (
    SELECT l_suppkey,
           SUM(CAST(l_quantity AS DECIMAL(30,6))) AS red_qty_dec
    FROM lineitem
    JOIN part ON p_partkey = l_partkey AND p_name LIKE 'red%'
    GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(red_qty_dec AS DOUBLE) AS red_qty
FROM shipped JOIN supplier ON s_suppkey = l_suppkey
WHERE CAST(red_qty_dec AS DOUBLE) >
      (SELECT CAST(SUM(red_qty_dec) AS DOUBLE) / COUNT(*) FROM shipped)
ORDER BY red_qty DESC, s_suppkey
"""


# ---------------------------------------------------------------------------
# Analytic-function breadth #2 (complements customer_balance_tiles'
# ntile/percent_rank/dense_rank): cume_dist, first/last/nth_value
# with an explicit full frame. Window is PARTITIONED by segment — the
# scale-correct shape (each segment sorts independently; no global
# single-partition sort).
# ---------------------------------------------------------------------------

def segment_balance_extremes(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    customer = load_table(spark, sf, "customer")
    order = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    full = order.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return customer.select(
        "c_mktsegment",
        "c_custkey",
        "c_acctbal",
        F.round(F.cume_dist().over(order), 6).alias("cdist"),
        F.first_value(F.col("c_custkey")).over(full).alias("richest_cust"),
        F.nth_value(F.col("c_custkey"), 3).over(full).alias("third_cust"),
        F.last_value(F.col("c_custkey")).over(full).alias("poorest_cust"),
    )


SEGMENT_BALANCE_EXTREMES_SQL = """
SELECT c_mktsegment, c_custkey, c_acctbal,
       ROUND(CUME_DIST() OVER w, 6) AS cdist,
       FIRST_VALUE(c_custkey) OVER wf AS richest_cust,
       NTH_VALUE(c_custkey, 3) OVER wf AS third_cust,
       LAST_VALUE(c_custkey) OVER wf AS poorest_cust
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment
             ORDER BY c_acctbal DESC, c_custkey ASC),
       wf AS (PARTITION BY c_mktsegment
              ORDER BY c_acctbal DESC, c_custkey ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


# ---------------------------------------------------------------------------
# Market-basket co-occurrence: support and lift for every brand pair
# bought in the same order. The pair space is bounded by the brand
# DIMENSION (25 brands → ≤300 pairs) regardless of fact size, so the
# heavy step is one equi-self-join on orderkey over the distinct
# (order, brand) projection — pair instances per order are bounded by
# (brands-per-order choose 2), and the groupBy lands on a dim-sized
# result. Lift = (n_ab·N)/(n_a·n_b) evaluated in one fixed operation
# order on exact integer counts (products < 2^53 ⇒ the doubles are
# exact), so both engines see identical values before the final round.
# ---------------------------------------------------------------------------

def brand_basket_lift(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part")
    ob = (
        # UNFILTERED part projection — billions of rows at the 100-TB
        # design point; a forced broadcast would OOM the build side.
        # AQE broadcasts it at test SFs and shuffle-joins at scale.
        li.join(part.select("p_partkey", "p_brand"),
                li.l_partkey == F.col("p_partkey"))
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    n_orders = ob.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    singles = ob.groupBy("p_brand").agg(F.count(F.lit(1)).alias("n_single"))
    a, b = ob.alias("a"), ob.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.p_brand") < F.col("b.p_brand")),
        )
        .groupBy(
            F.col("a.p_brand").alias("brand_a"),
            F.col("b.p_brand").alias("brand_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = singles.select(F.col("p_brand").alias("brand_a"), F.col("n_single").alias("n_a"))
    sb = singles.select(F.col("p_brand").alias("brand_b"), F.col("n_single").alias("n_b"))
    return (
        pairs.join(F.broadcast(sa), "brand_a")
        .join(F.broadcast(sb), "brand_b")
        .crossJoin(F.broadcast(n_orders))  # 1-row side
        .select(
            "brand_a",
            "brand_b",
            "n_both",
            F.round(F.col("n_both") / F.col("n_orders"), 6).alias("support"),
            F.round(
                F.col("n_both") * F.col("n_orders") / F.col("n_a") / F.col("n_b"),
                4,
            ).alias("lift"),
        )
        .orderBy("brand_a", "brand_b")
    )


BRAND_BASKET_SQL = """
WITH ob AS (
    SELECT DISTINCT l_orderkey, p_brand
    FROM lineitem JOIN part ON p_partkey = l_partkey
), n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM ob),
singles AS (
    SELECT p_brand, COUNT(*) AS n_single FROM ob GROUP BY p_brand
), pairs AS (
    SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, COUNT(*) AS n_both
    FROM ob a JOIN ob b ON a.l_orderkey = b.l_orderkey
                       AND a.p_brand < b.p_brand
    GROUP BY brand_a, brand_b
)
SELECT brand_a, brand_b, n_both,
       ROUND(CAST(n_both AS DOUBLE) / n_orders, 6) AS support,
       ROUND(CAST(n_both AS DOUBLE) * n_orders / sa.n_single / sb.n_single, 4)
           AS lift
FROM pairs
JOIN singles sa ON sa.p_brand = brand_a
JOIN singles sb ON sb.p_brand = brand_b
CROSS JOIN n
ORDER BY brand_a, brand_b
"""


# ---------------------------------------------------------------------------
# Bloom-style join reduction (operators/prune.py): revenue of urgent
# 1999 orders. The order slice is ~1.5% selective; its orderkeys
# project onto a 2^16-bucket bitmap that broadcasts at ANY dim size,
# and lineitem is semi-joined on the bucket BEFORE the real join — a
# map-side filter, so only the surviving sliver of the fact shuffles.
# False positives (bucket collisions) are dropped by the exact join
# that follows; false negatives are impossible, so the result is
# bit-equal to the unpruned join (the unit test asserts exactly that,
# plus the broadcast in the plan).
# ---------------------------------------------------------------------------

def urgent_revenue_pruned(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.prune import bitmap_prefilter, bucket_bitmap

    orders = load_table(spark, sf, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.year("o_orderdate") == 1999)
    )
    li = load_table(spark, sf, "lineitem")
    pruned = bitmap_prefilter(
        li, "l_orderkey", bucket_bitmap(orders, "o_orderkey")
    )
    return (
        pruned.join(orders, pruned.l_orderkey == orders.o_orderkey)
        .groupBy(F.month("o_orderdate").cast("int").alias("order_month"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(
                dec_sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")), 6
                ).cast("double"),
                2,
            ).alias("revenue"),
        )
        .orderBy("order_month")
    )


URGENT_REVENUE_PRUNED_SQL = """
SELECT CAST(month(o_orderdate) AS INT) AS order_month,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(30,6))) AS DOUBLE), 2) AS revenue
FROM lineitem JOIN orders ON o_orderkey = l_orderkey
WHERE o_orderpriority = '1-URGENT' AND year(o_orderdate) = 1999
GROUP BY order_month
ORDER BY order_month
"""


# ---------------------------------------------------------------------------
# Table reconciliation (sources/sinks.py::table_diff): diff a derived
# "previous version" of orders (2001 orders absent; every 7th
# orderkey's totalprice perturbed) against the live table — one
# full-outer join on the key comparing whole-row structs null-safely.
# The derivation is deterministic, so the entire change set is
# DuckDB-oracled row for row.
# ---------------------------------------------------------------------------

def orders_version_diff(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.sinks import table_diff

    new = load_table(spark, sf, "orders")
    old = (
        new.filter(F.year("o_orderdate") < 2001)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 10.0
            ).otherwise(F.col("o_totalprice")),
        )
    )
    return table_diff(old, new, ["o_orderkey"]).sortWithinPartitions("o_orderkey")


ORDERS_VERSION_DIFF_SQL = """
SELECT o_orderkey,
       CASE WHEN year(o_orderdate) = 2001 THEN 'added'
            ELSE 'changed' END AS change_type
FROM orders
WHERE year(o_orderdate) = 2001 OR o_orderkey % 7 = 0
ORDER BY o_orderkey
"""


# ---------------------------------------------------------------------------
# Share-shift analytics: each nation's share of yearly revenue and its
# change vs the prior year — percent-of-total via a window sum over
# the aggregate (25-row relation; the window is free) and lag for the
# delta. Shares are exact-decimal ratios divided once in double.
# ---------------------------------------------------------------------------

def nation_revenue_share_shift(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.year("o_orderdate").cast("int").alias("yr"),
            F.col("c_nationkey").alias("nation"),
        )
        .agg(dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias("r"))
    )
    per_year = Window.partitionBy("yr")
    order_n = Window.partitionBy("nation").orderBy("yr")
    shared = rev.withColumn(
        "share",
        F.floor(
            F.col("r").cast("double")
            / F.sum("r").over(per_year).cast("double")
            * 1e6
        )
        / 1e6,
    )
    return (
        shared.withColumn(
            "share_shift",
            F.floor((F.col("share") - F.lag("share").over(order_n)) * 1e6) / 1e6,
        )
        .select("yr", "nation", "share", "share_shift")
        .orderBy("yr", "nation")
    )


NATION_SHARE_SHIFT_SQL = """
WITH rev AS (
    SELECT CAST(year(o_orderdate) AS INT) AS yr, c_nationkey AS nation,
           SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS r
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    GROUP BY yr, nation
), shared AS (
    SELECT yr, nation,
           FLOOR(CAST(r AS DOUBLE)
                 / CAST(SUM(r) OVER (PARTITION BY yr) AS DOUBLE) * 1e6) / 1e6
               AS share
    FROM rev
)
SELECT yr, nation, share,
       FLOOR((share - LAG(share) OVER (PARTITION BY nation ORDER BY yr))
             * 1e6) / 1e6 AS share_shift
FROM shared
ORDER BY yr, nation
"""


# ---------------------------------------------------------------------------
# Null-semantics probe: the SQL corners that silently corrupt results
# when engines disagree — null-safe equality (<=>), NULL-excluding
# aggregates vs COUNT(*), NULLS-ordering, and coalesce fallbacks —
# exercised on a deterministic null injection (every 5th supplier's
# acctbal nulled via NULLIF) so both engines face identical nulls.
# ---------------------------------------------------------------------------

def null_semantics_probe(spark: SparkSession, sf: str) -> DataFrame:
    sup = load_table(spark, sf, "supplier").select(
        "s_suppkey",
        "s_nationkey",
        F.nullif(
            F.col("s_acctbal"),
            F.when(F.col("s_suppkey") % 5 == 0, F.col("s_acctbal")),
        ).alias("bal"),
    )
    a, b = sup.alias("a"), sup.alias("b")
    nullsafe_pairs = a.join(
        b,
        (F.col("a.s_nationkey") == F.col("b.s_nationkey"))
        & (F.col("a.s_suppkey") < F.col("b.s_suppkey"))
        & F.col("a.bal").eqNullSafe(F.col("b.bal")),
    ).agg(F.count(F.lit(1)).alias("nullsafe_equal_pairs"))
    stats = sup.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("bal").alias("n_nonnull"),
        F.round(dec_sum(F.coalesce(F.col("bal"), F.lit(0.0)), 6).cast("double"), 2)
        .alias("coalesced_sum"),
        F.min(F.struct(F.col("bal").isNull().cast("int"), "s_suppkey"))["s_suppkey"]
        .alias("first_nonnull_ordered"),
    )
    return stats.crossJoin(nullsafe_pairs).select(  # both sides 1 row
        "n_rows", "n_nonnull", "coalesced_sum",
        "first_nonnull_ordered", "nullsafe_equal_pairs",
    )


NULL_SEMANTICS_SQL = """
WITH sup AS (
    SELECT s_suppkey, s_nationkey,
           CASE WHEN s_suppkey % 5 = 0 THEN NULL ELSE s_acctbal END AS bal
    FROM supplier
),
ns AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS nullsafe_equal_pairs
    FROM sup a JOIN sup b
      ON a.s_nationkey = b.s_nationkey
     AND a.s_suppkey < b.s_suppkey
     AND a.bal IS NOT DISTINCT FROM b.bal
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM sup) AS n_rows,
       (SELECT CAST(COUNT(bal) AS BIGINT) FROM sup) AS n_nonnull,
       (SELECT ROUND(CAST(SUM(CAST(COALESCE(bal, 0.0) AS DECIMAL(30,6)))
                          AS DOUBLE), 2) FROM sup) AS coalesced_sum,
       (SELECT s_suppkey FROM sup
        ORDER BY (bal IS NULL), s_suppkey LIMIT 1) AS first_nonnull_ordered,
       nullsafe_equal_pairs
FROM ns
"""


# ---------------------------------------------------------------------------
# TPC-H shapes: forecast revenue (Q6), bi-directional nation trade
# volume (Q7), regional market share (Q8), nation profit (Q9, adapted
# cost basis), late-shipment priority accounting (Q12, adapted mode
# classes), customer order-count distribution (Q13), promo revenue share
# (Q14), supplier counts by part attributes with exclusion lists (Q16),
# disjunctive-predicate revenue (Q19), late orders (Q4) and returned
# items (Q10). Per-row double products are IEEE-identical on both
# engines before the decimal cast, and no SF-scaled relation gets a
# broadcast hint.
# ---------------------------------------------------------------------------


_REV = lambda: F.col("l_extendedprice") * (1 - F.col("l_discount"))  # noqa: E731


# ---------------------------------------------------------------------------
# TPC-H Q7 shape: shipping volume between two nations, both directions,
# by ship year. Supplier nation comes through lineitem⋈supplier, the
# customer nation through orders⋈customer; both nation dims broadcast
# (bounded 25 rows), every SF-scaled join is left to AQE. The pair
# filter keeps (NATION_1→NATION_2) and (NATION_2→NATION_1) — the
# classic "either direction, grouped separately" form.
# ---------------------------------------------------------------------------

def q7_nation_trade_volume(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    sup = load_table(spark, sf, "supplier")
    nat = load_table(spark, sf, "nation")
    n1 = nat.select(
        F.col("n_nationkey").alias("sk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nat.select(
        F.col("n_nationkey").alias("ck"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("ck"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return (
        joined.groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("int").alias("ship_year"),
        )
        .agg(
            # round the exact decimal, then cast: a x.xx5 tie rounds
            # half-up in both engines (a rounded double would not)
            F.round(dec_sum(_REV(), 6), 2).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("supp_nation", "cust_nation", "ship_year")
    )


Q7_SQL = """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS INT) AS ship_year,
       CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(30,6))), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
   OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# TPC-H Q8 shape: NATION_3's market share inside ASIA by order
# year — numerator (revenue supplied by NATION_3) over denominator
# (all revenue into the region), both EXACT decimal sums cast to
# double once, divided once: the quotient is an IEEE op on identical
# inputs, deterministic cross-engine before the shared round.
# ---------------------------------------------------------------------------

def q8_market_share(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    sup = load_table(spark, sf, "supplier")
    nat = load_table(spark, sf, "nation")
    reg = load_table(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    cn = nat.select("n_nationkey", "n_regionkey")
    sn = nat.select(
        F.col("n_nationkey").alias("sk"), F.col("n_name").alias("supp_nation")
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sk"))
    )
    return (
        joined.groupBy(F.year("o_orderdate").cast("int").alias("order_year"))
        .agg(
            dec_sum(
                F.when(F.col("supp_nation") == "NATION_3", _REV()).otherwise(
                    F.lit(0.0)
                ),
                6,
            ).alias("_num"),
            dec_sum(_REV(), 6).alias("_den"),
        )
        .select(
            "order_year",
            F.round(
                F.col("_num").cast("double") / F.col("_den").cast("double"), 6
            ).alias("mkt_share"),
            F.round(F.col("_den").cast("double"), 2).alias("region_revenue"),
        )
        .orderBy("order_year")
    )


Q8_SQL = """
SELECT CAST(year(o.o_orderdate) AS INT) AS order_year,
       ROUND(CAST(SUM(CAST(CASE WHEN sn.n_name = 'NATION_3'
                                THEN l.l_extendedprice * (1 - l.l_discount)
                                ELSE 0.0 END AS DECIMAL(30,6))) AS DOUBLE)
             / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                             AS DECIMAL(30,6))) AS DOUBLE), 6) AS mkt_share,
       ROUND(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(30,6))) AS DOUBLE), 2) AS region_revenue
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
JOIN region r   ON cn.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# TPC-H Q13 shape: distribution of per-customer order counts (urgent
# orders excluded from the count, not the customer — the LEFT join
# keeps zero-order customers in the c_count=0 bucket). Two grouped
# aggregations, both map-side-combinable; no join is needed for the
# second because the first's output is already per-customer.
# ---------------------------------------------------------------------------

def q13_custdist(spark: SparkSession, sf: str) -> DataFrame:
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                    AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# ---------------------------------------------------------------------------
# TPC-H Q14 shape: promo revenue share for one ship month. The CASE
# rides inside the exact decimal sum; 100·num/den is evaluated in one
# fixed operation order on doubles derived from identical decimals.
# ---------------------------------------------------------------------------

def q14_promo_revenue(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-03-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    part = load_table(spark, sf, "part")
    j = li.join(part, li.l_partkey == part.p_partkey)
    return j.agg(
        F.round(
            F.lit(100.0)
            * dec_sum(
                F.when(F.col("p_type") == "PROMO", _REV()).otherwise(F.lit(0.0)), 6
            ).cast("double")
            / dec_sum(_REV(), 6).cast("double"),
            6,
        ).alias("promo_share_pct"),
        F.count(F.lit(1)).alias("n_lines"),
    )


Q14_SQL = """
SELECT ROUND(100.0 * CAST(SUM(CAST(CASE WHEN p.p_type = 'PROMO'
                                        THEN l.l_extendedprice * (1 - l.l_discount)
                                        ELSE 0.0 END AS DECIMAL(30,6))) AS DOUBLE)
             / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                             AS DECIMAL(30,6))) AS DOUBLE), 6) AS promo_share_pct,
       COUNT(*) AS n_lines
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-03-01'
  AND l.l_shipdate <  TIMESTAMP '1997-04-01'
"""


# ---------------------------------------------------------------------------
# TPC-H Q16 shape: how many distinct suppliers ship each (brand, type,
# size) family, excluding one brand, one type, and an exclusion LIST
# of suppliers (negative account balance — the schema's analog of the
# reference query's complaints filter). With no partsupp table the
# part↔supplier relationship comes from shipment history. The supplier
# exclusion is an anti-join on a key list; the distinct-count shuffles
# once on the grouping key.
# ---------------------------------------------------------------------------

def q16_supplier_counts(spark: SparkSession, sf: str) -> DataFrame:
    part = load_table(spark, sf, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "ECONOMY")
        & (F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
    )
    li = load_table(spark, sf, "lineitem")
    bad_sup = load_table(spark, sf, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    ps = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(bad_sup, li.l_suppkey == bad_sup.s_suppkey, "left_anti")
        .select("p_brand", "p_type", "p_size", "l_suppkey")
    )
    return (
        ps.groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.desc("supplier_cnt"), F.asc("p_brand"), F.asc("p_type"),
            F.asc("p_size"),
        )
    )


Q16_SQL = """
SELECT p.p_brand, p.p_type, p.p_size,
       COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#5'
  AND p.p_type <> 'ECONOMY'
  AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


# ---------------------------------------------------------------------------
# TPC-H Q19 shape: revenue under three disjunctive brand/size/quantity
# arms. The whole predicate is a single JVM boolean expression — one
# scan, one join, no Expand — and Catalyst pushes the common
# size/quantity envelope into both parquet scans.
# ---------------------------------------------------------------------------

def q19_disjunctive_revenue(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part")
    j = li.join(part, li.l_partkey == part.p_partkey)
    arm1 = (
        (F.col("p_brand") == "Brand#12")
        & (F.col("p_size").between(1, 5))
        & (F.col("l_quantity").between(1, 11))
    )
    arm2 = (
        (F.col("p_brand") == "Brand#23")
        & (F.col("p_size").between(1, 10))
        & (F.col("l_quantity").between(10, 20))
    )
    arm3 = (
        (F.col("p_brand") == "Brand#34")
        & (F.col("p_size").between(1, 15))
        & (F.col("l_quantity").between(20, 30))
    )
    return j.filter(arm1 | arm2 | arm3).agg(
        F.round(dec_sum(_REV(), 6).cast("double"), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


Q19_SQL = """
SELECT ROUND(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(30,6))) AS DOUBLE), 2) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 20 AND 30)
"""


# ---------------------------------------------------------------------------
# TPC-H Q6 shape: the forecast-revenue-change scalar — one filtered
# scan, zero joins, one exact decimal sum. The simplest query in the
# suite and the purest pushdown test: every predicate (year range,
# discount band, quantity cap) must reach the parquet scan.
# ---------------------------------------------------------------------------

def q6_forecast_revenue(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                dec_sum(F.col("l_extendedprice") * F.col("l_discount"), 6)
                .cast("double"),
                2,
            ).alias("revenue_delta"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


Q6_SQL = """
SELECT ROUND(CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(30,6)))
                  AS DOUBLE), 2) AS revenue_delta,
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


# ---------------------------------------------------------------------------
# TPC-H Q9 shape: profit by supplier nation and year. With no partsupp
# table, the cost side is the part's list price scaled by quantity
# (p_retailprice stands in for ps_supplycost — the same join topology
# and aggregation, an adapted cost basis): profit = revenue −
# quantity·p_retailprice. Both terms are per-row double products
# (IEEE-identical cross-engine) decimal-summed separately, subtracted
# once as decimals (exact), then cast to double for display.
# ---------------------------------------------------------------------------

def q9_nation_profit(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part").filter(
        F.col("p_name").like("%gear%")
    )
    sup = load_table(spark, sf, "supplier")
    nat = load_table(spark, sf, "nation")
    sn = nat.select(
        F.col("n_nationkey").alias("sk"), F.col("n_name").alias("nation")
    )
    j = (
        li.join(part.select("p_partkey", "p_retailprice"),
                li.l_partkey == F.col("p_partkey"))
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sk"))
    )
    return (
        j.groupBy(
            "nation", F.year("l_shipdate").cast("int").alias("ship_year")
        )
        .agg(
            # round in EXACT decimal, then cast: rounding the double
            # instead trips the engines' .005-boundary disagreement
            # (hit at sf0.01: 2320476.655 → .66 vs .65)
            F.round(
                dec_sum(_REV(), 6)
                - dec_sum(F.col("p_retailprice") * F.col("l_quantity"), 6),
                2,
            ).cast("double").alias("profit"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .select("nation", "ship_year", "profit", "n_lines")
        .orderBy("nation", F.desc("ship_year"))
    )


Q9_SQL = """
SELECT sn.n_name AS nation,
       CAST(year(l.l_shipdate) AS INT) AS ship_year,
       CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(30,6)))
                  - SUM(CAST(p.p_retailprice * l.l_quantity
                             AS DECIMAL(30,6))), 2) AS DOUBLE) AS profit,
       COUNT(*) AS n_lines
FROM lineitem l
JOIN part p     ON l.l_partkey = p.p_partkey AND p.p_name LIKE '%gear%'
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
GROUP BY 1, 2
ORDER BY nation, ship_year DESC
"""


# ---------------------------------------------------------------------------
# TPC-H Q12 shape: late-shipment priority accounting. The schema has
# no shipmode, so the two "modes" are the lineitem's return/status
# classes shipped in 1997; the two-level CASE count (high-priority vs
# low-priority orders per class) is the query's actual shape and
# survives the adaptation intact.
# ---------------------------------------------------------------------------

def q12_priority_shipments(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    orders = load_table(spark, sf, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q12_SQL = """
SELECT l.l_returnflag, l.l_linestatus,
       SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
       SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END)::BIGINT AS low_line_count
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
  AND l.l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY 1, 2
ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# Cascade-delete audit (GDPR/right-to-be-forgotten shape): given a
# delete set (customers in deep debit), report how many rows each
# downstream table would lose — customers themselves, their orders,
# and those orders' lineitems. Three semi-join counts unioned into a
# per-table report; at scale each arm is one keyed semi-join, and the
# chain reuses the shrinking key set (orders' keys feed lineitem's
# probe) instead of re-deriving from customers.
# ---------------------------------------------------------------------------

def cascade_delete_audit(spark: SparkSession, sf: str) -> DataFrame:
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    del_cust = cust.filter(F.col("c_acctbal") < -900).select("c_custkey")
    del_orders = orders.join(
        del_cust, orders.o_custkey == del_cust.c_custkey, "left_semi"
    ).select("o_orderkey")
    del_li = li.join(
        del_orders, li.l_orderkey == del_orders.o_orderkey, "left_semi"
    )
    n_c = del_cust.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("customer").alias("table_name"), "n"
    )
    n_o = del_orders.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("orders").alias("table_name"), "n"
    )
    n_l = del_li.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("lineitem").alias("table_name"), "n"
    )
    return (
        n_c.unionByName(n_o).unionByName(n_l)
        .select("table_name", F.col("n").alias("n_rows_to_delete"))
        .orderBy("table_name")
    )


CASCADE_DELETE_SQL = """
WITH del_cust AS (SELECT c_custkey FROM customer WHERE c_acctbal < -900),
del_orders AS (
  SELECT o_orderkey FROM orders
  WHERE o_custkey IN (SELECT c_custkey FROM del_cust)
)
SELECT 'customer' AS table_name, COUNT(*) AS n_rows_to_delete FROM del_cust
UNION ALL
SELECT 'orders', COUNT(*) FROM del_orders
UNION ALL
SELECT 'lineitem', COUNT(*) FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM del_orders)
ORDER BY table_name
"""


# ---------------------------------------------------------------------------
# TPC-H Q4 shape: order-priority checking — count orders placed in one
# quarter having at least one LATE lineitem. The schema has no
# commit/receipt dates, so "late" is shipped > 60 days after the order
# date (same correlated-EXISTS shape, adapted predicate). The EXISTS
# compiles to a left-semi join on the orderkey equi-hash with the
# lateness residual — no nested loop.
# ---------------------------------------------------------------------------

def q4_late_orders(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01")
        & (F.col("o_orderdate") < "1997-04-01")
    )
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 60),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q4_PRIORITY_SQL = """
SELECT o.o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate <  TIMESTAMP '1997-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND date_diff('day', CAST(o.o_orderdate AS DATE),
                    CAST(l.l_shipdate AS DATE)) > 60)
GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# TPC-H Q10 shape: returned-item reporting — top 20 customers by
# revenue lost to returns in one quarter. Join topology and
# aggregation identical to the classic; the LIMIT carries the
# customer-key tie-break per the repo's total-order rule.
# ---------------------------------------------------------------------------

def q10_returned_items(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01")
        & (F.col("o_orderdate") < "1997-04-01")
    )
    li = load_table(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    cust = load_table(spark, sf, "customer")
    nat = load_table(spark, sf, "nation")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
    )
    return (
        j.groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(dec_sum(_REV(), 6).cast("double"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_return_lines"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q10_SQL = """
SELECT c.c_custkey, c.c_name, n.n_name,
       ROUND(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(30,6))) AS DOUBLE), 2) AS revenue,
       COUNT(*) AS n_return_lines
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate <  TIMESTAMP '1997-04-01'
  AND l.l_returnflag = 'R'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


# ---------------------------------------------------------------------------
# Leave-one-out target encoding — the leakage-safe categorical
# feature: each row's encoding is its group's target mean COMPUTED
# WITHOUT THE ROW ((Σ_grp − x) / (n_grp − 1)), so a model can't read
# its own label back out of the feature. Exactness: the group sum is
# one exact decimal aggregate; the subtraction stays in decimal
# (cents are exact); the single division rounds once. Singleton
# groups encode NULL (no leave-one-out mean exists — the caller
# falls back to a global prior). NOT a category-partitioned window
# (5 categories = 5 giant window partitions at scale): the group
# sums come from a parallel partial-aggregated groupBy collapsing to
# a category-count-sized table, joined back (AQE broadcasts it), and
# the LOO arithmetic is a narrow per-row map.
# ---------------------------------------------------------------------------


def priority_loo_encoding(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    grp = orders.groupBy("o_orderpriority").agg(
        F.sum(F.col("o_totalprice").cast("decimal(30,2)")).alias("tot"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        orders.join(grp, "o_orderpriority")
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.when(
                F.col("n") > 1,
                F.round(
                    (F.col("tot") - F.col("o_totalprice").cast("decimal(30,2)"))
                    .cast("double")
                    / (F.col("n") - 1),
                    6,
                ),
            ).alias("loo_mean_price"),
        )
        .sortWithinPartitions("o_orderkey")
    )


PRIORITY_LOO_SQL = """
SELECT o_orderkey, o_orderpriority,
       CASE WHEN COUNT(*) OVER (PARTITION BY o_orderpriority) > 1
            THEN ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2)))
                              OVER (PARTITION BY o_orderpriority)
                            - CAST(o_totalprice AS DECIMAL(30,2)) AS DOUBLE)
                       / (COUNT(*) OVER (PARTITION BY o_orderpriority) - 1), 6)
       END AS loo_mean_price
FROM orders ORDER BY o_orderkey
"""


# ---------------------------------------------------------------------------
# Two-phase distributed skyline (Pareto frontier): parts minimizing
# retail price while maximizing size. A part is dominated iff some
# part is (≤ price, ≥ size) with at least one strict. Single-sort
# formulation: with rows ordered by price, p is dominated iff
#   A: max size over STRICTLY cheaper rows ≥ p.size, or
#   B: max size over cheaper-OR-EQUAL rows > p.size
# (B can never fire on p itself). Phase 1 evaluates A/B inside hash
# buckets — any in-bucket dominator proves global dominance, and each
# bucket's survivors form its local skyline, ≤ |distinct sizes| rows
# (size ∈ 1..50 in this corpus). Phase 2 re-runs the same windows
# over the ≤ buckets×50 survivors in one partition — bounded by
# construction, not by data volume. Prices compare as exact cents
# (round(price·100) → long) so float representation can't blur
# dominance ties across engines. The oracle is the O(n²) NOT-EXISTS
# dominance definition — feasible at oracle SF, and the hash match
# proves the two-phase decomposition lossless.
# ---------------------------------------------------------------------------

_SKY_BUCKETS = 32


def _skyline_pass(df: DataFrame, bucket: F.Column) -> DataFrame:
    b = df.withColumn("b", bucket)
    strictly_cheaper = (
        Window.partitionBy("b")
        .orderBy("price_c")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    cheaper_or_equal = (
        Window.partitionBy("b")
        .orderBy("price_c")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    dom_a = F.coalesce(
        F.max("p_size").over(strictly_cheaper) >= F.col("p_size"),
        F.lit(False),
    )
    dom_b = F.max("p_size").over(cheaper_or_equal) > F.col("p_size")
    # window exprs can't live in a WHERE clause — project the flag,
    # then filter on the materialized column
    return (
        b.withColumn("_dom", dom_a | dom_b)
        .filter(~F.col("_dom"))
        .drop("b", "_dom")
    )


def part_price_skyline(spark: SparkSession, sf: str) -> DataFrame:
    part = load_table(spark, sf, "part").select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100)
        .cast("long")
        .alias("price_c"),
        "p_size",
    )
    local = _skyline_pass(
        part, F.pmod(F.hash("p_partkey"), F.lit(_SKY_BUCKETS))
    )
    # phase 2 is deliberately single-partition over the ≤ buckets×50
    # survivors; the non-foldable constant key (a bare lit(0) folds
    # out of the window spec) keeps the WindowExec warning reserved
    # for real corpus-sized sorts
    return _skyline_pass(local, constant_partition_key("p_partkey")).select(
        "p_partkey", "price_c", F.col("p_size").cast("int").alias("p_size")
    ).orderBy("p_partkey")


PART_SKYLINE_SQL = """
WITH p AS (
    SELECT p_partkey,
           CAST(ROUND(p_retailprice * 100) AS BIGINT) AS price_c,
           p_size
    FROM part
)
SELECT p_partkey, price_c, CAST(p_size AS INT) AS p_size
FROM p
WHERE NOT EXISTS (
    SELECT 1 FROM p q
    WHERE q.price_c <= p.price_c AND q.p_size >= p.p_size
      AND (q.price_c < p.price_c OR q.p_size > p.p_size)
)
ORDER BY p_partkey
"""


# ---------------------------------------------------------------------------
# RFM quartile segmentation. Per customer: R = epoch-day of the last
# order, F = order count, M = exact decimal spend. Each metric gets a
# global total-order rank i (ties broken by custkey) from
# operators/ranks.py::parallel_row_number, and the quartile is the
# pure-integer q = ((i−1)·4) DIV n + 1 — deterministic and
# engine-identical, unlike NTILE whose uneven-group placement rules
# would have to be trusted to match across engines. Output is the
# ≤4³ segment grid with exact counts and the decimal-mean spend.
# ---------------------------------------------------------------------------


def rfm_segments(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.ranks import parallel_multi_row_number

    o = load_table(spark, sf, "orders").select(
        "o_custkey",
        # calendar-field integer (yyyymmdd): monotone in the date and
        # free of epoch/timezone arithmetic — year()/month()/day()
        # agree across engines on this corpus (the order_year entries
        # hash-match on the same extraction)
        (
            F.year("o_orderdate") * 10000
            + F.month("o_orderdate") * 100
            + F.dayofmonth("o_orderdate")
        ).alias("day"),
        F.col("o_totalprice").cast("decimal(30,2)").alias("price"),
    )
    rfm = o.groupBy("o_custkey").agg(
        F.max("day").alias("r"),
        F.count(F.lit(1)).alias("f"),
        F.sum("price").alias("m"),
    ).localCheckpoint()  # consumed by the fused rank's bounds + bucket pass
    # ONE fused bucket round for all three ranks (r15, guide §1.2):
    # the three chained parallel_row_number calls each paid their own
    # bounds job, localCheckpoint materialization of the accumulating
    # relation, stats collect and prefix broadcast join — the fused
    # operator pays one of each and keeps the three in-bucket windows
    # (inherently per-metric) inside a single plan. Ranks are
    # bit-identical (bucketing is monotone per metric; same in-bucket
    # order), so RFM_SQL's plain-window oracle is unchanged.
    stats: dict = {}
    ranked = parallel_multi_row_number(
        rfm,
        [
            ("r", ["o_custkey"], "ri"),
            ("f", ["o_custkey"], "fi"),
            ("m", ["o_custkey"], "mi"),
        ],
        stats_out=stats,
    )
    # n_total comes free from the fused histogram (an exact integer
    # from the same bounded collect) — the old 1-row count agg +
    # crossJoin(broadcast) is dropped.
    n_total = int(stats["total_rows"])
    seg = ranked.select(
        "m",
        F.expr(f"((ri - 1) * 4) DIV {n_total} + 1").alias("r_q"),
        F.expr(f"((fi - 1) * 4) DIV {n_total} + 1").alias("f_q"),
        F.expr(f"((mi - 1) * 4) DIV {n_total} + 1").alias("m_q"),
    )
    return (
        seg.groupBy("r_q", "f_q", "m_q")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            # mean spend to the cent in PURE INTEGER arithmetic —
            # Σm/n lands exactly on .005 boundaries (two-decimal
            # inputs), where a double ROUND is engine-dependent;
            # round-half-up(c/n) for positive ints is (2c+n) DIV 2n
            (
                F.expr(
                    "CAST((2 * CAST(sum(m) * 100 AS BIGINT) + count(1))"
                    " DIV (2 * count(1)) AS DOUBLE)"
                )
                / 100.0
            ).alias("avg_monetary"),
        )
        .orderBy("r_q", "f_q", "m_q")
    )


RFM_SQL = """
WITH o AS (
    SELECT o_custkey,
           year(o_orderdate) * 10000 + month(o_orderdate) * 100
             + day(o_orderdate) AS day,
           CAST(o_totalprice AS DECIMAL(30,2)) AS price
    FROM orders
), rfm AS (
    SELECT o_custkey, MAX(day) AS r, COUNT(*) AS f, SUM(price) AS m
    FROM o GROUP BY o_custkey
), ranked AS (
    SELECT m,
           ROW_NUMBER() OVER (ORDER BY r, o_custkey) AS ri,
           ROW_NUMBER() OVER (ORDER BY f, o_custkey) AS fi,
           ROW_NUMBER() OVER (ORDER BY m, o_custkey) AS mi,
           COUNT(*) OVER () AS n_total
    FROM rfm
)
SELECT ((ri - 1) * 4) // n_total + 1 AS r_q,
       ((fi - 1) * 4) // n_total + 1 AS f_q,
       ((mi - 1) * 4) // n_total + 1 AS m_q,
       COUNT(*) AS n_customers,
       CAST((2 * CAST(SUM(m) * 100 AS BIGINT) + COUNT(*))
            // (2 * COUNT(*)) AS DOUBLE) / 100.0 AS avg_monetary
FROM ranked
GROUP BY 1, 2, 3
ORDER BY r_q, f_q, m_q
"""


# ---------------------------------------------------------------------------
# Incremental view maintenance: the monthly revenue rollup maintained
# as base ⊕ delta (counts and decimal sums are commutative monoids,
# so partial rollups merge by addition — the same algebra map-side
# combine exploits). The corpus splits 90/10 by md5(o_orderkey), the
# Spark side computes rollup(base) ⊕ rollup(delta), and the oracle
# recomputes rollup(all) from scratch: the hash match PROVES the
# incremental merge equals the full recompute. At scale the base
# rollup is a stored table and only the delta aggregate runs per
# batch — this entry is the algebraic core of that pipeline.
# ---------------------------------------------------------------------------


def incremental_daily_rollup(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders").select(
        "o_orderkey",
        "o_totalprice",
        (F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias("ym"),
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.col("o_orderkey").cast("string")), 1, 8
                ),
                16,
                10,
            ).cast("bigint"),
            F.lit(10),
        ).alias("bucket"),
    ).localCheckpoint()  # feeds both partial rollups

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("ym").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(30,2)")).alias("rev"),
        )

    base = rollup(orders.filter(F.col("bucket") != 0))
    delta = rollup(orders.filter(F.col("bucket") == 0))
    merged = (
        base.unionByName(delta)
        .groupBy("ym")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("rev").alias("rev"),
        )
    )
    return merged.select(
        F.col("ym").cast("int").alias("ym"),
        F.col("n_orders").cast("long").alias("n_orders"),
        F.round(F.col("rev").cast("double"), 2).alias("revenue"),
    ).orderBy("ym")


INCREMENTAL_ROLLUP_SQL = """
SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT) AS ym,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE), 2)
           AS revenue
FROM orders
GROUP BY ym
ORDER BY ym
"""


def q21_bottleneck_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q21's join shape on the driver schema: suppliers who were
    the SOLE slowest shipper of a multi-supplier finished order, with
    how many orders they bottlenecked. The classic formulation is a
    correlated scalar subquery (per-order max) + EXISTS (another
    supplier) + NOT EXISTS (another supplier also at max) — three
    fact self-joins. Here all three probes collapse into ONE
    per-order aggregate joined back: max shipdate, distinct-supplier
    count, and distinct-suppliers-at-max count (the last via a
    conditional distinct on a null-gated key). One shuffle on
    l_orderkey; supplier is a broadcast dim; the oracle keeps the
    definitional correlated formulation, so the hash match proves
    the rewrite."""
    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    fin = (
        load_table(spark, sf, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    # finished-order lines shuffle ONCE on the order key; the keyed
    # windows (whole-partition frame, bounded by per-order line
    # count) reuse that exact partitioning — no aggregate join-back,
    # no second pass over the fact (an earlier two-aggregate
    # formulation cost 8 exchanges and computed the at-max subtree
    # twice; this plan has one fact exchange + one tiny distinct)
    from pyspark.sql import Window

    lf = li.join(fin, li.l_orderkey == fin.o_orderkey).drop("o_orderkey")
    w = Window.partitionBy("l_orderkey")
    f1 = lf.select(
        "*",
        F.max("l_shipdate").over(w).alias("mx"),
        F.size(F.collect_set("l_suppkey").over(w)).alias("nsupp"),
    )
    f2 = f1.withColumn(
        "nmax",
        F.size(
            F.collect_set(
                F.when(
                    F.col("l_shipdate") == F.col("mx"), F.col("l_suppkey")
                )
            ).over(w)
        ),
    )
    qual = (
        f2.filter(
            (F.col("l_shipdate") == F.col("mx"))
            & (F.col("nsupp") >= 2)
            & (F.col("nmax") == 1)
        )
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    # supplier is SF-SCALED (not bounded-by-construction), so no
    # broadcast hint: AQE picks the build side at this SF and flips
    # to a shuffle join when the dim outgrows the threshold
    supp = load_table(spark, sf, "supplier").select("s_suppkey", "s_name")
    return (
        qual.join(supp, qual.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


Q21_SQL = """
WITH l AS (
    SELECT l_orderkey, l_suppkey, l_shipdate FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                         WHERE o_orderstatus = 'F')
)
SELECT s_name, CAST(COUNT(DISTINCT l1.l_orderkey) AS BIGINT) AS numwait
FROM l l1
JOIN supplier ON s_suppkey = l1.l_suppkey
WHERE l1.l_shipdate = (SELECT max(l2.l_shipdate) FROM l l2
                       WHERE l2.l_orderkey = l1.l_orderkey)
  AND EXISTS (SELECT 1 FROM l l3
              WHERE l3.l_orderkey = l1.l_orderkey
                AND l3.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM l l4
                  WHERE l4.l_orderkey = l1.l_orderkey
                    AND l4.l_suppkey <> l1.l_suppkey
                    AND l4.l_shipdate = l1.l_shipdate)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


# ---------------------------------------------------------------------------
# The NULLS FIRST oracle contract exercised for real.
#
# ``operators/ranks.py`` routes NULL order keys to a dedicated lowest
# bucket (Spark's ascending NULLS FIRST default), and its docstring has
# carried a contract note since round 10: a DuckDB oracle's plain window
# defaults to NULLS LAST, so a nullable order column needs an explicit
# ``NULLS FIRST`` in its oracle SQL. Shipped testdata has no NULL order
# keys anywhere, so that divergence had unit tests but no live oracle
# row — this entry injects NULLs deterministically (every 7th order key
# in a fixed slice) and hash-compares the FULL ranked output row-by-row
# against a DuckDB window carrying the explicit ``NULLS FIRST``, proving
# the contract end-to-end: NULL keys occupy the lowest ranks compactly,
# ordered by the tiebreak, and every non-NULL rank continues after them.
# ---------------------------------------------------------------------------


def null_key_order_ranks(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    s = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("o_totalprice"))
        .alias("v"),
    )
    ranked = parallel_row_number(s, "v", ["o_orderkey"], out_col="i")
    return ranked.select("o_orderkey", "v", "i").sortWithinPartitions("i")


NULL_KEY_ORDER_RANKS_SQL = """
WITH s AS (
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 7 = 0 THEN NULL
                ELSE o_totalprice END AS v
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
)
SELECT o_orderkey, v,
       ROW_NUMBER() OVER (ORDER BY v ASC NULLS FIRST, o_orderkey) AS i
FROM s
ORDER BY i
"""
