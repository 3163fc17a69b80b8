"""Fifth registry batch (round 7): the remaining classic TPC-H
decision-support shapes this slimmed star schema can express —
forecast revenue (Q6), bi-directional nation trade volume (Q7),
regional market share (Q8), nation profit (Q9, adapted cost basis),
late-shipment priority accounting (Q12, adapted mode classes),
customer order-count distribution (Q13), promo revenue share (Q14),
supplier-count by part attributes with exclusion lists (Q16), and
disjunctive-predicate revenue (Q19) — plus an asymmetric CONTAINMENT
near-dup join for the curation family (the quote/boilerplate-inclusion
case symmetric Jaccard misses).

Same contract rules as plans/analytics.py: identical column aliases in
the DataFrame plan and the DuckDB oracle SQL, exact decimal sums for
anything summed (per-row double products are IEEE-identical on both
engines before the decimal cast), division to double exactly once,
deterministic total-order sort keys, and NO broadcast hints on any
SF-scaled relation (nation/region dims only — the repo broadcast
policy, PLANS.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .columns import dec_sum


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
            F.round(dec_sum(_REV(), 6).cast("double"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("supp_nation", "cust_nation", "ship_year")
    )


Q7_SQL = """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS INT) AS ship_year,
       ROUND(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(30,6))) AS DOUBLE), 2) AS revenue,
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
# Asymmetric CONTAINMENT near-dup join: C(A→B) = |A∩B| / |A| ≥ τ over
# word-trigram shingle sets, emitted for the direction where the
# SMALLER set is (near-)contained in the larger. This is the
# quote/boilerplate-inclusion case symmetric Jaccard misses: a 50-line
# doc fully quoted inside a 5,000-line doc has J ≈ 0.01 but C = 1.
# Candidates come from the shared-shingle equi-join (the same
# bucket-local discipline as ngram_jaccard_exact — at web scale the
# prefix-filter variant applies unchanged because containment obeys
# the same pigeonhole bound on the smaller side's prefix).
# ---------------------------------------------------------------------------

def containment_dedup_pairs(
    spark: SparkSession, sf: str, threshold: float = 0.9
) -> DataFrame:
    from ..operators.dedup import with_hashed_shingles

    docs = load_table(spark, sf, "documents")
    # same one-signing-pass + count-based-intersection plan as
    # ngram_jaccard_exact (the COUNT over the shared-shingle join IS
    # |A∩B| because shingles are distinct per doc) — but with NO
    # length-ratio filter: containment deliberately pairs very
    # different sizes, which is exactly what Jaccard's τ·|A| ≤ |B|
    # prune throws away.
    sh0 = (
        with_hashed_shingles(
            docs.repartition(spark.sparkContext.defaultParallelism),
            "text", 3, out="sh_raw",
        )
        .select("doc_id", F.array_distinct("sh_raw").alias("sh"))
        .withColumn("n_sh", F.size("sh"))
        .localCheckpoint()
    )
    e = sh0.select("doc_id", "n_sh", F.explode("sh").alias("shingle"))
    a = e.select(
        F.col("doc_id").alias("id_a"), F.col("n_sh").alias("na"), "shingle"
    )
    b = e.select(
        F.col("doc_id").alias("id_b"), F.col("n_sh").alias("nb"), "shingle"
    )
    pairs = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
        )
        .withColumn(
            "containment", F.col("inter") / F.least(F.col("na"), F.col("nb"))
        )
        .filter(F.col("containment") >= threshold)
    )
    return pairs.select(
        "id_a", "id_b",
        F.round("containment", 6).alias("containment"),
        (F.col("na") <= F.col("nb")).alias("a_is_smaller"),
    ).orderBy("id_a", "id_b")


CONTAINMENT_SQL = r"""
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
       ROUND(CAST(inter AS DOUBLE) / LEAST(na, nb), 6) AS containment,
       na <= nb AS a_is_smaller
FROM p
WHERE CAST(inter AS DOUBLE) / LEAST(na, nb) >= 0.9
ORDER BY id_a, id_b
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
# √-temperature sampling mix (the multilingual-corpus reweighting of
# mBERT/XLM-R, temperature α = 0.5): per-language mass c_i (total
# chars — an exact integer) is flattened to w_i = √c_i and normalized,
# up-weighting tail languages relative to proportional sampling.
# Bit-exact cross-engine BY CONSTRUCTION: √ is IEEE-correctly-rounded
# in both engines (unlike pow/exp, which is why α is 0.5 and not the
# usual 0.7 — same flattening idea, deterministic arithmetic), each
# √c_i is cast to DECIMAL(30,12) and EXACT-summed for the denominator
# (a 5-double float sum would ride partition order), and the final
# division is one IEEE op on identical inputs.
# ---------------------------------------------------------------------------

def sqrt_temperature_mix(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    per_lang = docs.groupBy("lang").agg(
        F.sum("n_chars").alias("lang_chars"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    w = per_lang.withColumn("w", F.sqrt(F.col("lang_chars").cast("double")))
    denom = w.agg(
        F.sum(F.col("w").cast("decimal(30,12)")).alias("_d")
    )
    return (
        w.crossJoin(F.broadcast(denom))  # 1-row side
        .select(
            "lang", "lang_chars", "n_docs",
            F.round(F.col("w") / F.col("_d").cast("double"), 6).alias(
                "sample_weight"
            ),
        )
        .orderBy("lang")
    )


SQRT_TEMPERATURE_SQL = """
WITH per_lang AS (
  SELECT lang, SUM(n_chars)::BIGINT AS lang_chars, COUNT(*) AS n_docs,
         sqrt(CAST(SUM(n_chars) AS DOUBLE)) AS w
  FROM documents GROUP BY lang
),
d AS (SELECT SUM(CAST(w AS DECIMAL(30,12))) AS _d FROM per_lang)
SELECT lang, lang_chars, n_docs,
       ROUND(w / CAST(_d AS DOUBLE), 6) AS sample_weight
FROM per_lang, d
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# Johnson–Lindenstrauss random projection, 64 → 16 dims: y_j =
# (Σ_i x_i·s_ij)/√16 with a DETERMINISTIC ±1 matrix derived from
# md5(i||'_'||j) (Achlioptas 2003 sign matrices need only 4-wise
# independence, which a cryptographic digest over-delivers; md5 is
# the one hash both engines compute identically, the same trick as
# the repo's md5-uniform weighted sampling). Everything is bit-exact:
# the per-component fold runs in fixed index order (Spark F.aggregate
# ≡ DuckDB list_reduce, both sequential), products and adds are IEEE
# doubles in identical order, and the final /4 is an exact binary
# scaling. No Python, no shuffle — one narrow map over the vectors;
# at 100 TB this is embarrassingly parallel and the 1,024-entry sign
# matrix is a plan-time constant.
# ---------------------------------------------------------------------------

_JL_IN, _JL_OUT = 64, 16


def _jl_signs(j: int) -> list[float]:
    """Column j of the ±1 matrix, derived ONCE at plan-build time from
    md5('i_j') (hashlib md5 ≡ the engines' md5 — the ORACLE recomputes
    these in-engine, cross-checking this derivation). Baking the 1,024
    constants into the plan removes 1,280 runtime digest evaluations
    per row (measured 6.1 s → sub-second at sf0.1)."""
    import hashlib

    return [
        1.0 if hashlib.md5(f"{i}_{j}".encode()).hexdigest()[0] < "8" else -1.0
        for i in range(_JL_IN)
    ]


def jl_project_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    x = F.col("embedding")

    def comp(j: int) -> F.Column:
        signs = F.array(*[F.lit(s) for s in _jl_signs(j)])
        return (
            F.aggregate(
                F.sequence(F.lit(0), F.lit(_JL_IN - 1)),
                F.lit(0.0),
                lambda acc, i: acc
                + F.element_at(x, i + 1).cast("double")
                * F.element_at(signs, i + 1),
            )
            / F.lit(4.0)  # √16 — exact binary scaling
        )

    # two projections so each component is EVALUATED ONCE: the norm
    # reads the materialized y columns instead of re-expanding 16 more
    # fold trees (a single-select formulation re-evaluated every comp
    # inside the norm — measured 2.1 s; a fully unrolled 1,280-term
    # chain was worse still, 6.9 s, blowing the codegen budget).
    norm = F.lit(0.0)
    for j in range(_JL_OUT):
        norm = norm + F.col(f"y{j}") * F.col(f"y{j}")
    return (
        emb.select(
            "vec_id", *[comp(j).alias(f"y{j}") for j in range(_JL_OUT)]
        )
        .select("vec_id", "y0", "y1", "y2", "y3", norm.alias("proj_sq_norm"))
        .sortWithinPartitions("vec_id")
    )


def _jl_sql_comp(j: int) -> str:
    return (
        "list_reduce(list_transform(range(0, 64), i -> "
        "CAST(embedding[i + 1] AS DOUBLE) * "
        f"(CASE WHEN substring(md5(CAST(i AS VARCHAR) || '_' || '{j}'), 1, 1)"
        " < '8' THEN 1.0 ELSE -1.0 END)), (a, b) -> a + b) / 4.0"
    )


JL_PROJECT_SQL = (
    "SELECT vec_id, "
    + ", ".join(f"{_jl_sql_comp(j)} AS y{j}" for j in range(4))
    + ", list_reduce(list_transform(["
    + ", ".join(_jl_sql_comp(j) for j in range(_JL_OUT))
    + "], y -> y * y), (a, b) -> a + b) AS proj_sq_norm"
    + " FROM embeddings ORDER BY vec_id"
)


# ---------------------------------------------------------------------------
# Scale path of the containment join: smaller-side prefix filtering
# probing the full inverted index (operators/dedup.py::
# prefix_filtered_containment — candidates Σ prefix_df·df instead of
# the naive Σ df², recall exact by pigeonhole). Output is identical
# to containment_dedup_pairs, so it shares the SAME DuckDB oracle:
# the driver's hash compare proves the lossless reduction on real
# data every round (the PPJoin-vs-naive pattern).
# ---------------------------------------------------------------------------

def prefix_containment_pairs(
    spark: SparkSession, sf: str, threshold: float = 0.9
) -> DataFrame:
    from ..operators.dedup import prefix_filtered_containment

    docs = load_table(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return prefix_filtered_containment(docs, threshold=threshold).orderBy(
        "id_a", "id_b"
    )


PREFIX_CONTAINMENT_SQL = CONTAINMENT_SQL


# ---------------------------------------------------------------------------
# JL distortion gate: the projection above is only useful if it
# preserves pairwise geometry, so this check computes the
# squared-distance ratio proj²/orig² for every pair among the first
# 16 vectors (120 pairs — a bounded sample independent of corpus
# size) and pins: the exact pair count, ratio extremes inside a
# generous JL band for k=16, and the mean ratio near 1 (the JL
# expectation E[‖Py‖²/‖y‖²] = 1). All distances are fixed-order
# in-row folds (bit-exact cross-engine, like the projection); the
# mean is an exact decimal sum of ratios over the pair count.
# ---------------------------------------------------------------------------

def jl_distortion_check(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings").filter(F.col("vec_id") < 16)

    def proj_cols(side: str):
        x = F.col(f"{side}_emb")

        def comp(j: int) -> F.Column:
            signs = F.array(*[F.lit(s) for s in _jl_signs(j)])
            return (
                F.aggregate(
                    F.sequence(F.lit(0), F.lit(_JL_IN - 1)),
                    F.lit(0.0),
                    lambda acc, i: acc
                    + F.element_at(x, i + 1).cast("double")
                    * F.element_at(signs, i + 1),
                )
                / F.lit(4.0)
            )
        return F.array(*[comp(j) for j in range(_JL_OUT)])

    a = emb.select(F.col("vec_id").alias("ida"), F.col("embedding").alias("a_emb"))
    b = emb.select(F.col("vec_id").alias("idb"), F.col("embedding").alias("b_emb"))
    pairs = (
        a.join(b, F.col("ida") < F.col("idb"))
        .withColumn("pa", proj_cols("a"))
        .withColumn("pb", proj_cols("b"))
        .withColumn(
            "d_orig",
            F.aggregate(
                F.sequence(F.lit(0), F.lit(_JL_IN - 1)),
                F.lit(0.0),
                lambda acc, i: acc
                + (
                    F.element_at(F.col("a_emb"), i + 1).cast("double")
                    - F.element_at(F.col("b_emb"), i + 1).cast("double")
                )
                * (
                    F.element_at(F.col("a_emb"), i + 1).cast("double")
                    - F.element_at(F.col("b_emb"), i + 1).cast("double")
                ),
            ),
        )
        .withColumn(
            "d_proj",
            F.aggregate(
                F.sequence(F.lit(0), F.lit(_JL_OUT - 1)),
                F.lit(0.0),
                lambda acc, j: acc
                + (
                    F.element_at(F.col("pa"), j + 1)
                    - F.element_at(F.col("pb"), j + 1)
                )
                * (
                    F.element_at(F.col("pa"), j + 1)
                    - F.element_at(F.col("pb"), j + 1)
                ),
            ),
        )
        .withColumn("ratio", F.col("d_proj") / F.col("d_orig"))
    )
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.min("ratio"), 6).alias("min_ratio"),
        F.round(F.max("ratio"), 6).alias("max_ratio"),
        (
            (F.sum(F.col("ratio").cast("decimal(30,12)")).cast("double")
             / F.count(F.lit(1)))
            .between(0.7, 1.3)
        ).alias("mean_ratio_ok"),
        (F.min("ratio") > 0.1).alias("lower_ok"),
        (F.max("ratio") < 3.0).alias("upper_ok"),
    )


_JL_SQL_PROJ = (
    "["
    + ", ".join(
        "list_reduce(list_transform(range(0, 64), i -> "
        "CAST(e[i + 1] AS DOUBLE) * (CASE WHEN "
        f"substring(md5(CAST(i AS VARCHAR) || '_' || '{j}'), 1, 1) < '8' "
        "THEN 1.0 ELSE -1.0 END)), (x, y) -> x + y) / 4.0"
        for j in range(_JL_OUT)
    )
    + "]"
)

JL_DISTORTION_SQL = f"""
WITH v AS (
  SELECT vec_id, embedding AS e, {_JL_SQL_PROJ.replace('e[', 'embedding[')} AS p
  FROM embeddings WHERE vec_id < 16
),
pairs AS (
  SELECT a.vec_id AS ida, b.vec_id AS idb,
         list_reduce(list_transform(range(0, 64), i ->
           (CAST(a.e[i + 1] AS DOUBLE) - CAST(b.e[i + 1] AS DOUBLE))
           * (CAST(a.e[i + 1] AS DOUBLE) - CAST(b.e[i + 1] AS DOUBLE))),
           (x, y) -> x + y) AS d_orig,
         list_reduce(list_transform(range(0, 16), j ->
           (a.p[j + 1] - b.p[j + 1]) * (a.p[j + 1] - b.p[j + 1])),
           (x, y) -> x + y) AS d_proj
  FROM v a JOIN v b ON a.vec_id < b.vec_id
),
r AS (SELECT d_proj / d_orig AS ratio FROM pairs)
SELECT COUNT(*) AS n_pairs,
       ROUND(MIN(ratio), 6) AS min_ratio,
       ROUND(MAX(ratio), 6) AS max_ratio,
       CAST(SUM(CAST(ratio AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*)
         BETWEEN 0.7 AND 1.3 AS mean_ratio_ok,
       MIN(ratio) > 0.1 AS lower_ok,
       MAX(ratio) < 3.0 AS upper_ok
FROM r
"""


# ---------------------------------------------------------------------------
# Windowed EXACT rolling median (7-event window per user). The window
# is deliberately ODD and emitted only once FULL (row_number ≥ 7):
# the median of 7 values is the 4th order statistic — an ELEMENT of
# the input, bit-identical cross-engine — whereas even/ragged windows
# interpolate, and the two engines' interpolation arithmetic is not
# bit-compatible. One user-keyed window pass, no joins.
# ---------------------------------------------------------------------------

def rolling_median_values(spark: SparkSession, sf: str) -> DataFrame:
    from .analytics import load_events

    e = load_events(spark, sf).select("user_id", "event_id", "ts_us", "value")
    e.createOrReplaceTempView("_rmv_events")
    return spark.sql("""
        SELECT user_id, event_id,
               ROUND(med7, 6) AS med7
        FROM (
          SELECT user_id, event_id,
                 percentile(CAST(value AS DOUBLE), 0.5) OVER (
                   PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS med7,
                 ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY ts_us, event_id) AS rn
          FROM _rmv_events
        )
        WHERE rn >= 7
        ORDER BY user_id, event_id
    """)


ROLLING_MEDIAN_SQL = """
SELECT user_id, event_id, ROUND(med7, 6) AS med7
FROM (
  SELECT user_id, event_id,
         median(CAST(value AS DOUBLE)) OVER w AS med7,
         ROW_NUMBER() OVER w AS rn
  FROM (SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events)
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
WHERE rn >= 7
ORDER BY user_id, event_id
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
# Distribution drift (PSI) between the event stream's two time halves
# — the training-data monitoring primitive ("did this source's value
# distribution move?"). Binning is fixed-width over the observed
# [min, max] (identical IEEE arithmetic from identical scalar inputs
# on both engines — deciles would interpolate engine-specifically);
# Laplace-smoothed shares guard empty bins; each PSI term
# (p−q)·ln(p/q) rounds to 6 decimals BEFORE the exact decimal sum —
# the charlm log discipline (curation.py:378-392) that absorbs any
# last-ulp libm ln() divergence. One scan + one 1-row broadcast of
# the global bounds; at 100 TB this is a single pass per monitored
# column.
# ---------------------------------------------------------------------------

def value_drift_psi(spark: SparkSession, sf: str) -> DataFrame:
    from .analytics import load_events

    e = load_events(spark, sf).select("ts_sec", F.col("value").cast("double"))
    bounds = e.agg(
        F.min("ts_sec").alias("t0"),
        F.max("ts_sec").alias("t1"),
        F.min("value").alias("v0"),
        F.max("value").alias("v1"),
    )
    binned = (
        e.crossJoin(F.broadcast(bounds))  # 1-row side
        .select(
            # greatest(width, 1e-300) guards the constant-column case
            # (v1 == v0 — a stuck sensor is exactly what a drift
            # monitor sees): 0/0 would NaN-bin on Spark and CRASH the
            # DuckDB cast; with the floor every value lands in bin 0
            # identically on both engines.
            F.least(
                F.floor(
                    (F.col("value") - F.col("v0"))
                    / F.greatest(
                        (F.col("v1") - F.col("v0")) / F.lit(10.0),
                        F.lit(1e-300),
                    )
                ).cast("int"),
                F.lit(9),
            ).alias("bin_id"),
            (F.col("ts_sec") * 2 < F.col("t0") + F.col("t1")).alias("early"),
        )
    )
    counts = binned.groupBy("bin_id").agg(
        F.sum(F.when(F.col("early"), 1).otherwise(0)).alias("n_early"),
        F.sum(F.when(F.col("early"), 0).otherwise(1)).alias("n_late"),
    )
    totals = counts.agg(
        F.sum("n_early").alias("te"), F.sum("n_late").alias("tl")
    )
    p = (F.col("n_early") + 1) / (F.col("te") + 10)
    q = (F.col("n_late") + 1) / (F.col("tl") + 10)
    per_bin = (
        counts.crossJoin(F.broadcast(totals))  # 1-row side
        .select(
            "bin_id", "n_early", "n_late",
            F.round((p - q) * F.log(p / q), 6).alias("psi_term"),
        )
    )
    total = per_bin.agg(
        F.lit(-1).alias("bin_id"),
        F.sum("n_early").alias("n_early"),
        F.sum("n_late").alias("n_late"),
        F.round(
            F.sum(F.col("psi_term").cast("decimal(30,6)")).cast("double"), 6
        ).alias("psi_term"),
    )
    return per_bin.unionByName(total).orderBy("bin_id")


VALUE_DRIFT_PSI_SQL = """
WITH e AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
         CAST(value AS DOUBLE) AS value
  FROM events
),
b AS (SELECT MIN(ts_sec) AS t0, MAX(ts_sec) AS t1,
             MIN(value) AS v0, MAX(value) AS v1 FROM e),
binned AS (
  SELECT LEAST(CAST(FLOOR((value - v0)
                          / GREATEST((v1 - v0) / 10.0, 1e-300)) AS INT), 9)
           AS bin_id,
         ts_sec * 2 < t0 + t1 AS early
  FROM e, b
),
counts AS (
  SELECT bin_id,
         SUM(CASE WHEN early THEN 1 ELSE 0 END)::BIGINT AS n_early,
         SUM(CASE WHEN early THEN 0 ELSE 1 END)::BIGINT AS n_late
  FROM binned GROUP BY bin_id
),
t AS (SELECT SUM(n_early) AS te, SUM(n_late) AS tl FROM counts),
per_bin AS (
  SELECT bin_id, n_early, n_late,
         ROUND((CAST(n_early + 1 AS DOUBLE) / (te + 10)
                - CAST(n_late + 1 AS DOUBLE) / (tl + 10))
               * ln((CAST(n_early + 1 AS DOUBLE) / (te + 10))
                    / (CAST(n_late + 1 AS DOUBLE) / (tl + 10))), 6)
           AS psi_term
  FROM counts, t
)
SELECT * FROM (
  SELECT bin_id, n_early, n_late, psi_term FROM per_bin
  UNION ALL
  SELECT -1, SUM(n_early)::BIGINT, SUM(n_late)::BIGINT,
         ROUND(CAST(SUM(CAST(psi_term AS DECIMAL(30,6))) AS DOUBLE), 6)
  FROM per_bin
)
ORDER BY bin_id
"""


# ---------------------------------------------------------------------------
# Grouped heavy hitters: exact top-5 tokens PER LANGUAGE (the
# per-stratum complement of the global approx_top_k sketch entry
# `token_heavy_hitters`). One explode + one (lang, token) count +
# one WindowGroupLimit top-k cut under the deterministic
# (count desc, token) order — per-group top-k never materializes a
# global sort, and the grouped count is map-side combinable.
# ---------------------------------------------------------------------------

def token_top_by_lang(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.text import bpe_ish_tokens

    docs = load_table(spark, sf, "documents")
    counts = (
        docs.select("lang", F.explode(bpe_ish_tokens(F.col("text"))).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("token"))
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("lang", F.col("rnk").cast("int").alias("rnk"), "token", "n")
        .orderBy("lang", "rnk")
    )


TOKEN_TOP_BY_LANG_SQL = r"""
WITH t AS (
  SELECT lang,
         unnest(list_filter(string_split_regex(lower(text), '[^\w'']+'),
                            x -> x != '')) AS token
  FROM documents
),
c AS (SELECT lang, token, COUNT(*) AS n FROM t GROUP BY lang, token),
r AS (
  SELECT lang, token, n,
         CAST(ROW_NUMBER() OVER (PARTITION BY lang
                                 ORDER BY n DESC, token ASC) AS INT) AS rnk
  FROM c
)
SELECT lang, rnk, token, n FROM r WHERE rnk <= 5
ORDER BY lang, rnk
"""


EXT5_QUERIES = {
    "q7_nation_trade_volume": (q7_nation_trade_volume, Q7_SQL),
    "value_drift_psi": (value_drift_psi, VALUE_DRIFT_PSI_SQL),
    "token_top_by_lang": (token_top_by_lang, TOKEN_TOP_BY_LANG_SQL),
    "q4_late_orders": (q4_late_orders, Q4_PRIORITY_SQL),
    "q10_returned_items": (q10_returned_items, Q10_SQL),
    "q8_market_share": (q8_market_share, Q8_SQL),
    "q13_custdist": (q13_custdist, Q13_SQL),
    "q14_promo_revenue": (q14_promo_revenue, Q14_SQL),
    "q16_supplier_counts": (q16_supplier_counts, Q16_SQL),
    "q19_disjunctive_revenue": (q19_disjunctive_revenue, Q19_SQL),
    "q6_forecast_revenue": (q6_forecast_revenue, Q6_SQL),
    "q9_nation_profit": (q9_nation_profit, Q9_SQL),
    "q12_priority_shipments": (q12_priority_shipments, Q12_SQL),
    "containment_dedup_pairs": (containment_dedup_pairs, CONTAINMENT_SQL),
    "prefix_containment_pairs": (prefix_containment_pairs, PREFIX_CONTAINMENT_SQL),
    "sqrt_temperature_mix": (sqrt_temperature_mix, SQRT_TEMPERATURE_SQL),
    "jl_project_embeddings": (jl_project_embeddings, JL_PROJECT_SQL),
    "jl_distortion_check": (jl_distortion_check, JL_DISTORTION_SQL),
    "rolling_median_values": (rolling_median_values, ROLLING_MEDIAN_SQL),
    "cascade_delete_audit": (cascade_delete_audit, CASCADE_DELETE_SQL),
}
