"""Fourth registry batch: the remaining classic TPC-H decision-support
shapes adapted to this slimmed star schema (no partsupp table) —
correlated argmin (Q2), value-share threshold (Q11), argmax-over-
aggregate (Q15), correlated-average filter (Q17), HAVING-IN over a
grouped fact (Q18), and chained semi-joins with a scalar gate (Q20).

Same contract rules as plans/analytics.py: identical column aliases in
the DataFrame plan and the DuckDB oracle SQL, exact decimal sums for
anything summed, deterministic total-order sort keys, and thresholds
derived through arithmetic that is bit-identical cross-engine (decimal
sums cast to double, IEEE division/multiplication of identical
inputs — never engine-specific float aggregation orders).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .columns import dec_sum


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
# Record linkage (entity resolution) by blocking + edit distance: link
# near-identical part names without the all-pairs compare. Candidates
# are generated only WITHIN a block (shared leading token), the
# classic linkage discipline — at 100 TB you block on a cheap
# deterministic key (phonetic code, sorted-neighborhood window, first
# token) and the quadratic compare collapses to per-block pair
# generation, here over the distinct-name relation (dimension-bounded:
# 64 names regardless of fact size), never the fact table. The
# levenshtein compare itself is an exact integer both engines agree on.
# ---------------------------------------------------------------------------

def part_name_linkage(spark: SparkSession, sf: str) -> DataFrame:
    part = load_table(spark, sf, "part")
    names = part.groupBy("p_name").agg(F.count(F.lit(1)).alias("n_parts"))
    blocked = names.withColumn("block", F.split(F.col("p_name"), " ")[0])
    a, b = blocked.alias("a"), blocked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .withColumn(
            "lev_dist", F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
        )
        .filter(F.col("lev_dist") <= 3)
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            F.col("lev_dist").cast("int").alias("lev_dist"),
            F.col("a.n_parts").alias("n_parts_a"),
            F.col("b.n_parts").alias("n_parts_b"),
        )
        .orderBy("name_a", "name_b")
    )


PART_NAME_LINKAGE_SQL = """
WITH names AS (
    SELECT p_name, COUNT(*) AS n_parts FROM part GROUP BY p_name
), blocked AS (
    SELECT p_name, n_parts, string_split(p_name, ' ')[1] AS block FROM names
)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS lev_dist,
       a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
FROM blocked a JOIN blocked b
  ON a.block = b.block AND a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= 3
ORDER BY name_a, name_b
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
# PPJoin: the prefix-filtered EXACT similarity join (operators/
# dedup.py::prefix_filtered_jaccard) — same output as the naive
# shared-shingle join at τ=0.7, so the oracle is the naive DuckDB SQL
# with the threshold swapped in. Registered as its own entry to keep
# the two plans (naive: every shingle joins; PPJoin: only rarest-
# prefix shingles join) separately timed and separately verified.
# ---------------------------------------------------------------------------

def ppjoin_jaccard_pairs(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.dedup import prefix_filtered_jaccard

    docs = load_table(spark, sf, "documents")
    return prefix_filtered_jaccard(docs, threshold=0.7).orderBy("id_a", "id_b")


# Literal twin of plans/analytics.py::NGRAM_JACCARD_SQL at τ=0.7
# (kept inline — importing it here would be import-order-sensitive).
PPJOIN_JACCARD_SQL = r"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(
           CASE WHEN len(toks) >= 3
                THEN list_transform(range(1, len(toks) - 1),
                                    i -> array_to_string(toks[i:i+2], ' '))
                ELSE [array_to_string(toks, ' ')] END) AS shset
  FROM (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '[^\w'']+'),
                       x -> x != '') AS toks
    FROM documents
  )
),
e AS (SELECT doc_id, len(shset) AS n_sh, unnest(shset) AS shingle FROM sh),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter,
         any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb
  FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       ROUND(CAST(inter AS DOUBLE) / (na + nb - inter), 6) AS jaccard
FROM p
WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.7
ORDER BY id_a, id_b
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
# Rolling 7-day distinct users: windows cannot COUNT(DISTINCT) over a
# range frame, so the scalable formulation replicates each day's
# (day, user) PARTIALS (already deduplicated per day) into the 7
# window anchors they serve via an exploded offset — a plain shuffled
# EQUI-join, never a nested-loop range join — then distinct-counts
# per anchor. Fan-out is exactly 7× the daily-partials relation,
# which is already tiny next to raw events.
# ---------------------------------------------------------------------------

def rolling_7d_distinct_users(spark: SparkSession, sf: str) -> DataFrame:
    from .analytics import load_events

    e = load_events(spark, sf).select(
        F.expr("ts_us DIV 86400000000").alias("day_idx"), "user_id"
    ).distinct()
    days = e.select("day_idx").distinct()
    anchored = e.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day_idx"), F.col("day_idx") + 6)
        ).alias("anchor"),
    )
    return (
        days.join(anchored, days.day_idx == anchored.anchor)
        .groupBy("day_idx")
        .agg(F.countDistinct("user_id").alias("users_7d"))
        .orderBy("day_idx")
    )


ROLLING_7D_SQL = """
WITH e AS (
    SELECT DISTINCT epoch_us(ts) // 86400000000 AS day_idx, user_id
    FROM events
), days AS (SELECT DISTINCT day_idx FROM e)
SELECT d.day_idx AS day_idx,
       CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS users_7d
FROM days d JOIN e u
  ON u.day_idx <= d.day_idx AND u.day_idx > d.day_idx - 7
GROUP BY d.day_idx
ORDER BY day_idx
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


EXT4_QUERIES = {
    "q2_min_cost_supplier": (q2_min_cost_supplier, Q2_MIN_COST_SQL),
    "q11_important_parts": (q11_important_parts, Q11_IMPORTANT_PARTS_SQL),
    "q15_top_supplier": (q15_top_supplier, Q15_TOP_SUPPLIER_SQL),
    "q17_small_qty_revenue": (q17_small_qty_revenue, Q17_SMALL_QTY_SQL),
    "q18_large_volume_customers": (q18_large_volume_customers, Q18_LARGE_VOLUME_SQL),
    "q20_excess_shippers": (q20_excess_shippers, Q20_EXCESS_SHIPPERS_SQL),
    "segment_balance_extremes": (segment_balance_extremes, SEGMENT_BALANCE_EXTREMES_SQL),
    "brand_basket_lift": (brand_basket_lift, BRAND_BASKET_SQL),
    "part_name_linkage": (part_name_linkage, PART_NAME_LINKAGE_SQL),
    "urgent_revenue_pruned": (urgent_revenue_pruned, URGENT_REVENUE_PRUNED_SQL),
    "ppjoin_jaccard_pairs": (ppjoin_jaccard_pairs, PPJOIN_JACCARD_SQL),
    "orders_version_diff": (orders_version_diff, ORDERS_VERSION_DIFF_SQL),
    "nation_revenue_share_shift": (
        nation_revenue_share_shift,
        NATION_SHARE_SHIFT_SQL,
    ),
    "rolling_7d_distinct_users": (rolling_7d_distinct_users, ROLLING_7D_SQL),
    "null_semantics_probe": (null_semantics_probe, NULL_SEMANTICS_SQL),
}
