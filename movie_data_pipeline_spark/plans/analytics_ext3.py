"""Third registry batch: reshaping and governance operators —
pivot / unpivot, GROUPING SETS, deterministic hash-based dataset
splits, referential-integrity audit, and token-budget packing.

Same contract rules as plans/analytics.py: identical column aliases in
the DataFrame plan and the DuckDB oracle SQL, exact decimal sums under
any aggregation of doubles, total-order sort keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .columns import dec_sum

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
# Deterministic train/val/test split: md5 of the stable id, first two
# hex chars thresholded at 'cc' (~79.7%) and 'e6' (~89.8%). Pure
# narrow map — no shuffle, no RNG state, identical assignment on any
# cluster/partitioning/engine, docs can be re-split incrementally.
# This (not .sample) is how a 100 TB corpus gets split reproducibly.
# ---------------------------------------------------------------------------

def doc_split_assignment(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    bucket = F.substring(
        F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8")), 1, 2
    )
    split = (
        F.when(bucket < "cc", "train")
        .when(bucket < "e6", "val")
        .otherwise("test")
    )
    return (
        d.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum(F.col("n_chars").cast("decimal(30,4)")).cast("double")
                / F.count("n_chars"),
                2,
            ).alias("avg_chars"),
        )
        .orderBy("split")
    )


DOC_SPLIT_SQL = """
WITH assigned AS (
    SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
                ELSE 'test' END AS split,
           n_chars
    FROM documents
)
SELECT split,
       COUNT(*) AS n_docs,
       ROUND(CAST(SUM(CAST(n_chars AS DECIMAL(30,4))) AS DOUBLE) / COUNT(n_chars), 2)
           AS avg_chars
FROM assigned
GROUP BY split
ORDER BY split
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
# Token-budget packing (rows-only: the greedy packer is imperative
# per-shard logic, not SQL-expressible).
# ---------------------------------------------------------------------------

def doc_packing(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.packing import pack_documents

    d = load_table(spark, sf, "documents")
    return pack_documents(d, budget=512).orderBy("pack_id")


# ---------------------------------------------------------------------------
# Duplicate clusters (rows-only: iterative connected components is not
# SQL-expressible) — near-dup pairs → transitive groups → the actual
# keep/drop dedup decision per doc.
# ---------------------------------------------------------------------------

def dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.dedup import duplicate_clusters, minhash_lsh_duplicates

    d = load_table(spark, sf, "documents")
    pairs = minhash_lsh_duplicates(d, threshold=0.7)
    return duplicate_clusters(pairs).orderBy("cluster_id", "doc_id")


EXT3_QUERIES = {
    "pivot_priority_by_year": (pivot_priority_by_year, PIVOT_PRIORITY_SQL),
    "unpivot_part_metrics": (unpivot_part_metrics, UNPIVOT_PART_SQL),
    "grouping_sets_revenue": (grouping_sets_revenue, GROUPING_SETS_SQL),
    "doc_split_assignment": (doc_split_assignment, DOC_SPLIT_SQL),
    "fk_integrity_audit": (fk_integrity_audit, FK_AUDIT_SQL),
    "doc_packing": (doc_packing, None),
    "dedup_clusters": (dedup_clusters, None),
}


# ---------------------------------------------------------------------------
# Fixed-size token chunking — the pre-tokenization windowing step of
# an LLM training pipeline. The registry entry `chunk_docs` serves the
# all-native plan (r11 VERDICT item 2: the Arrow UDTF measured 1.68 s
# vs 0.55 s native at sf0.1 for a byte-equivalent result); the UDTF
# lateral-join surface stays below as `chunk_docs_udtf` for unit
# coverage, and earns its keep on the job natives can't do —
# sentence-boundary + overlap chunking (plans/analytics_ext17.py).
# ---------------------------------------------------------------------------

def chunk_docs_udtf(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions import chunking

    chunking.register(spark)
    load_table(spark, sf, "documents").createOrReplaceTempView("chunk_docs_src")
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_idx, c.chunk
        FROM chunk_docs_src d, LATERAL chunk_tokens(trim(d.text), 50) c
        ORDER BY d.doc_id, c.chunk_idx
        """
    )


CHUNK_DOCS_SQL = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
), nums AS (SELECT CAST(range AS INT) AS gs FROM range(0, 100000))
SELECT doc_id, gs AS chunk_idx,
       array_to_string(t[gs*50+1 : (gs+1)*50], ' ') AS chunk
FROM toks JOIN nums ON gs * 50 < len(t)
ORDER BY doc_id, chunk_idx
"""


def chunk_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-stride chunking, all-native: split → sequence →
    transform(slice) → posexplode, zero Python boundary. This is THE
    `chunk_docs` registry entry since round 12: the r11 clean bench
    measured the Arrow UDTF twin at 1.68 s vs 0.55 s for this plan —
    the per-batch Arrow string conversion dominates a generator that
    trivial, and the real fix is not a faster serializer but no
    serializer: whole-stage-codegen array ops. Edge contract (r11
    ADVICE): for empty/whitespace-only text, split(trim, '\\s+')
    yields [''] and this plan emits ONE empty-string chunk — matching
    CHUNK_DOCS_SQL's regexp_split_to_array exactly (pinned by a unit
    fixture); the UDTF twin's Python str.split() instead yields zero
    rows and additionally splits on Unicode whitespace, which is why
    the UDTF is the unit-covered extension surface, not the entry."""
    return chunk_tokens_native(load_table(spark, sf, "documents"), 50)


def chunk_tokens_native(docs: DataFrame, n: int) -> DataFrame:
    """The plan behind chunk_docs, factored over any (doc_id, text)
    frame so the empty/whitespace edge contract is unit-testable
    against the oracle on an injected fixture (tests/test_ext17.py)."""
    t = F.split(F.trim(F.col("text")), r"\s+")
    return (
        docs.select(
            "doc_id",
            F.posexplode(
                F.transform(
                    # one slot per started chunk: gs in [0, (len-1)/n]
                    F.sequence(
                        F.lit(0),
                        F.floor((F.size(t) - 1) / n).cast("int"),
                    ),
                    lambda gs: F.concat_ws(
                        " ", F.slice(t, gs * n + 1, n)
                    ),
                )
            ).alias("chunk_idx", "chunk"),
        )
        .sortWithinPartitions("doc_id", "chunk_idx")
    )


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

EXT3_QUERIES.update(
    {
        "chunk_docs": (chunk_docs, CHUNK_DOCS_SQL),
        "profile_customer": (profile_customer, PROFILE_CUSTOMER_SQL),
        "orders_expectations": (orders_expectations, ORDERS_EXPECTATIONS_SQL),
    }
)


# ---------------------------------------------------------------------------
# Event analytics: sequential conversion funnel + weekly cohort
# retention — the two canonical product-analytics shapes over an
# event stream. Each stage of the funnel is ORDER-dependent (a click
# only counts after that user's first view), which is what separates
# a funnel from three filters.
# ---------------------------------------------------------------------------

def conversion_funnel(spark: SparkSession, sf: str) -> DataFrame:
    from .analytics import load_events

    e = load_events(spark, sf).select("user_id", "event_type", "ts_us")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t1"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts_us") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t2"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts_us") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t3"))
    )

    def stage(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(name).alias("stage"), "n_users"
        )

    return (
        stage(v, "1_view")
        .unionAll(stage(c, "2_click"))
        .unionAll(stage(p, "3_purchase"))
        .orderBy("stage")
    )


CONVERSION_FUNNEL_SQL = """
WITH v AS (
    SELECT user_id, MIN(epoch_us(ts)) AS t1 FROM events
    WHERE event_type = 'view' GROUP BY user_id
), c AS (
    SELECT e.user_id, MIN(epoch_us(e.ts)) AS t2
    FROM events e JOIN v ON e.user_id = v.user_id
    WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t1
    GROUP BY e.user_id
), p AS (
    SELECT e.user_id, MIN(epoch_us(e.ts)) AS t3
    FROM events e JOIN c ON e.user_id = c.user_id
    WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t2
    GROUP BY e.user_id
)
SELECT * FROM (
    SELECT '1_view' AS stage, COUNT(*) AS n_users FROM v
    UNION ALL SELECT '2_click', COUNT(*) FROM c
    UNION ALL SELECT '3_purchase', COUNT(*) FROM p
) ORDER BY stage
"""


def cohort_retention(spark: SparkSession, sf: str) -> DataFrame:
    from .analytics import load_events

    e = load_events(spark, sf).select(
        "user_id",
        F.date_trunc("week", F.timestamp_micros(F.col("ts_us"))).alias(
            "activity_week"
        ),
    )
    cohorts = e.groupBy("user_id").agg(
        F.min("activity_week").alias("cohort_week")
    )
    return (
        e.dropDuplicates(["user_id", "activity_week"])
        .join(cohorts, "user_id")
        .select(
            F.col("cohort_week").cast("date").alias("cohort_week"),
            (
                F.datediff(F.col("activity_week"), F.col("cohort_week")) / 7
            )
            .cast("int")
            .alias("offset_weeks"),
            "user_id",
        )
        .groupBy("cohort_week", "offset_weeks")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort_week", "offset_weeks")
    )


COHORT_RETENTION_SQL = """
WITH act AS (
    SELECT DISTINCT user_id, date_trunc('week', ts) AS activity_week FROM events
), cohorts AS (
    SELECT user_id, MIN(activity_week) AS cohort_week FROM act GROUP BY user_id
)
SELECT CAST(c.cohort_week AS DATE) AS cohort_week,
       CAST(datediff('day', c.cohort_week, a.activity_week) / 7 AS INT)
           AS offset_weeks,
       COUNT(DISTINCT a.user_id) AS n_users
FROM act a JOIN cohorts c ON a.user_id = c.user_id
GROUP BY 1, 2
ORDER BY cohort_week, offset_weeks
"""

EXT3_QUERIES.update(
    {
        "conversion_funnel": (conversion_funnel, CONVERSION_FUNNEL_SQL),
        "cohort_retention": (cohort_retention, COHORT_RETENTION_SQL),
    }
)


# ---------------------------------------------------------------------------
# Approximate quantiles (rows-only: the sketch has no DuckDB twin) —
# percentile_approx's KLL-ish sketch vs the exact percentile, side by
# side. At 100 TB the exact form needs a full sort per group; the
# sketch is one pass, fixed memory, mergeable across partitions.
# ---------------------------------------------------------------------------

def approx_quantiles_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch-only (the 100 TB path: one pass, mergeable state, no
    sort). Rows-only in the driver because sketch values depend on
    merge order; the oracled accuracy gate is
    ``quantile_sketch_check`` (plans/verification.py), which runs the
    exact percentile next to the sketch and pins |Δ| ≤ 1%."""
    li = load_table(spark, sf, "lineitem")
    qs = [0.25, 0.5, 0.75, 0.99]
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile_approx(
                "l_extendedprice", qs, 10000
            ).alias("approx_price_quantiles"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


EXT3_QUERIES.update(
    {"approx_quantiles_lineitem": (approx_quantiles_lineitem, None)}
)


# ---------------------------------------------------------------------------
# SCD Type-2 dimension build: an event stream of state observations →
# compressed validity intervals (valid_from, valid_to; NULL = current).
# Two window passes over one user-keyed shuffle: change detection via
# lag, interval close via lead. The warehouse op that turns an append
# log into a point-in-time-joinable dimension (pairs with the as-of
# join, `purchase_attribution`).
# ---------------------------------------------------------------------------

def scd2_user_state(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    from .analytics import load_events

    e = load_events(spark, sf).select(
        "user_id", "event_type", "ts_us", "event_id"
    )
    order = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    changes = (
        e.withColumn("prev_state", F.lag("event_type").over(order))
        .filter(
            F.col("prev_state").isNull()
            | (F.col("event_type") != F.col("prev_state"))
        )
    )
    return (
        changes.withColumn(
            "valid_to_us", F.lead("ts_us").over(order)
        )
        .select(
            "user_id",
            F.col("event_type").alias("state"),
            F.col("ts_us").alias("valid_from_us"),
            "valid_to_us",
        )
        .sortWithinPartitions("user_id", "valid_from_us")
    )


SCD2_USER_STATE_SQL = """
WITH obs AS (
    SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
           LAG(event_type) OVER w AS prev_state
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
), changes AS (
    SELECT * FROM obs
    WHERE prev_state IS NULL OR event_type != prev_state
)
SELECT user_id, event_type AS state, ts_us AS valid_from_us,
       LEAD(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
           AS valid_to_us
FROM changes
ORDER BY user_id, valid_from_us
"""

EXT3_QUERIES.update({"scd2_user_state": (scd2_user_state, SCD2_USER_STATE_SQL)})


# ---------------------------------------------------------------------------
# BM25 ranked retrieval — the query-side complement of tfidf_top_terms.
# Scores rounded BEFORE ranking and ties broken on doc_id so both
# engines make the same top-k cut (raw float ULP noise can't flip it).
# ---------------------------------------------------------------------------

_BM25_TERMS = ["spark", "join", "window"]


def bm25_top_docs_q(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.search import bm25_top_docs

    d = load_table(spark, sf, "documents")
    return bm25_top_docs(d, _BM25_TERMS, k=10)


BM25_SQL = r"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '[^\w'']+'),
                       x -> x != '') AS t
    FROM documents
), lengths AS (
    SELECT doc_id, len(t) AS dl FROM toks
), stats AS (
    SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM lengths
), postings AS (
    SELECT doc_id, term, COUNT(*) AS tf
    FROM (SELECT doc_id, unnest(t) AS term FROM toks)
    WHERE term IN ('spark', 'join', 'window')
    GROUP BY doc_id, term
), dfs AS (
    SELECT term, COUNT(DISTINCT doc_id) AS df FROM postings GROUP BY term
)
SELECT doc_id,
       ROUND(SUM(idf * (tf * 2.2)
                 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 3) AS bm25
FROM (
    SELECT p.doc_id, p.tf, l.dl, s.n_docs, s.avgdl,
           ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) AS idf
    FROM postings p
    JOIN dfs d USING (term)
    JOIN lengths l USING (doc_id)
    CROSS JOIN stats s
)
GROUP BY doc_id
ORDER BY bm25 DESC, doc_id ASC
LIMIT 10
"""

EXT3_QUERIES.update({"bm25_top_docs": (bm25_top_docs_q, BM25_SQL)})


# ---------------------------------------------------------------------------
# Deterministic weighted downsampling — training-mix curation (e.g.
# "cap non-English at half weight"). Same md5-bucket discipline as
# doc_split_assignment: keep a doc iff its hash bucket falls under the
# group's target fraction. No RNG, no shuffle for the sampling itself
# (a narrow filter), stable under re-runs and partitioning — the only
# sampling primitive that is reproducible AND incremental at 100 TB.
# ---------------------------------------------------------------------------

_LANG_KEEP = {"en": 1.0, "de": 0.5, "fr": 0.5, "es": 0.5, "zh": 0.25}


def corpus_rebalance(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    # bucket ∈ [0, 256): first two md5 hex chars of the stable id
    bucket = F.conv(
        F.substring(
            F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8")), 1, 2
        ),
        16,
        10,
    ).cast("int")
    keep_frac = F.coalesce(
        *[
            F.when(F.col("lang") == lang, F.lit(frac))
            for lang, frac in _LANG_KEEP.items()
        ],
        F.lit(0.0),
    )
    kept = d.filter(bucket < keep_frac * 256)
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum(F.col("n_chars").cast("decimal(30,4)")).cast("double")
                / F.count("n_chars"),
                2,
            ).alias("avg_chars"),
        )
        .orderBy("lang")
    )


CORPUS_REBALANCE_SQL = """
WITH hashed AS (
    SELECT lang, n_chars,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)) AS INT)
               AS bucket
    FROM documents
), kept AS (
    SELECT * FROM hashed
    WHERE bucket < 256 * CASE lang
        WHEN 'en' THEN 1.0 WHEN 'de' THEN 0.5 WHEN 'fr' THEN 0.5
        WHEN 'es' THEN 0.5 WHEN 'zh' THEN 0.25 ELSE 0.0 END
)
SELECT lang,
       COUNT(*) AS n_docs,
       ROUND(CAST(SUM(CAST(n_chars AS DECIMAL(30,4))) AS DOUBLE) / COUNT(n_chars), 2)
           AS avg_chars
FROM kept
GROUP BY lang
ORDER BY lang
"""

EXT3_QUERIES.update({"corpus_rebalance": (corpus_rebalance, CORPUS_REBALANCE_SQL)})


# ---------------------------------------------------------------------------
# Per-label embedding centroids as long-form (label, dim, mean) — the
# array-analytics shape behind IVF/k-means: posexplode the vector,
# one groupBy over (label, dim). Long form keeps the oracle exact
# (no array-of-float compare) and the plan a single shuffle.
# ---------------------------------------------------------------------------

def embedding_dim_means(spark: SparkSession, sf: str) -> DataFrame:
    e = load_table(spark, sf, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("dim0", "v"))
        .select("label", (F.col("dim0") + 1).alias("dim"), "v")
        .groupBy("label", "dim")
        .agg(
            # Exact decimal sum (order-independent) then round; `+ 0.0`
            # collapses IEEE -0.0 to 0.0 — a mean of negatives that
            # rounds to zero keeps its sign on one engine and not the
            # other (round-1 sf0.001 failure).
            (
                F.round(
                    F.sum(F.col("v").cast("decimal(30,12)")).cast("double")
                    / F.count(F.col("v")),
                    4,
                )
                + F.lit(0.0)
            ).alias("mean_v"),
            F.count(F.lit(1)).alias("n_vectors"),
        )
        .orderBy("label", "dim")
    )


EMBEDDING_DIM_MEANS_SQL = """
WITH nums AS (SELECT CAST(range AS INT) AS dim FROM range(1, 100000)),
exploded AS (
    -- FLOAT before DOUBLE mirrors load_table's array<float>
    -- normalization (guards an array<double> corpus drift)
    SELECT e.label, n.dim, CAST(CAST(e.embedding[n.dim] AS FLOAT) AS DOUBLE) AS v
    FROM embeddings e JOIN nums n ON n.dim <= len(e.embedding)
)
SELECT label, dim,
       ROUND(CAST(SUM(CAST(v AS DECIMAL(30,12))) AS DOUBLE) / COUNT(v), 4) + 0.0
           AS mean_v,
       COUNT(*) AS n_vectors
FROM exploded
GROUP BY label, dim
ORDER BY label, dim
"""

EXT3_QUERIES.update({"embedding_dim_means": (embedding_dim_means, EMBEDDING_DIM_MEANS_SQL)})


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

EXT3_QUERIES.update({"salted_quantity_stats": (salted_quantity_stats, SALTED_QUANTITY_SQL)})


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

EXT3_QUERIES.update(
    {"sole_return_suppliers": (sole_return_suppliers, SOLE_RETURN_SQL)}
)


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

EXT3_QUERIES.update(
    {"q22_waiting_wealth": (q22_waiting_wealth, Q22_WAITING_WEALTH_SQL)}
)
