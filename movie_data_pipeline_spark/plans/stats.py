"""Numeric statistics: exact-decimal correlation, histograms, exact
quantiles and percentile grids, outlier fences (IQR, MAD,
winsorizing), chi-square dependence, skew reports, bootstrap
intervals, drift tests (PSI, KS), concentration (Gini, Pareto,
weighted median), the Benford audit, PCA over the embeddings, and
model evaluation at data scale (calibration bins, precision/recall
sweep, ROC-AUC, the sigmoid scorer).

``F.corr`` (and DuckDB's ``corr``) accumulate doubles in partition
order, so their low bits are not reproducible across engines.
Moments here are assembled from exact DECIMAL sums instead: per-row
double products are IEEE-identical in both engines, the decimal sums
are order-independent, and the final closed-form division/sqrt runs on
bit-identical inputs. Exact order statistics come from the parallel
rank operators (operators/ranks.py), never a single-partition window.

Every entry is a (builder, SQL twin) pair registered in
plans/analytics.py and follows the determinism rules stated there.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.ranks import constant_partition_key
from ..sources.catalog import load_events, load_table
from .columns import SIGMOID_SCORE_SQL, dec_sum, sigmoid_score


# ---------------------------------------------------------------------------
# Exact percentiles (sort-based, linear interpolation in both engines)
# ---------------------------------------------------------------------------

def price_quantiles_by_segment(spark: SparkSession, sf: str) -> DataFrame:
    customer = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    q = F.expr("percentile(o_totalprice, array(0.25D, 0.5D, 0.75D))")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(q.alias("q"), F.count(F.lit(1)).alias("order_count"))
        .select(
            "c_mktsegment",
            F.round(F.element_at("q", 1), 4).alias("p25"),
            F.round(F.element_at("q", 2), 4).alias("p50"),
            F.round(F.element_at("q", 3), 4).alias("p75"),
            "order_count",
        )
    )


PRICE_QUANTILES_SQL = """
SELECT c_mktsegment,
       ROUND(quantile_cont(o_totalprice, 0.25), 4) AS p25,
       ROUND(quantile_cont(o_totalprice, 0.50), 4) AS p50,
       ROUND(quantile_cont(o_totalprice, 0.75), 4) AS p75,
       COUNT(*) AS order_count
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c_mktsegment
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


def price_discount_corr(spark: SparkSession, sf: str) -> DataFrame:
    """Pearson correlation of l_extendedprice vs l_discount per
    returnflag, from exact decimal moments (see module docstring)."""
    li = load_table(spark, sf, "lineitem")
    x, y = F.col("l_extendedprice"), F.col("l_discount")
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        dec_sum(x, 8).alias("sx"),
        dec_sum(y, 8).alias("sy"),
        F.sum((x * y).cast("decimal(38,8)")).alias("sxy"),
        F.sum((x * x).cast("decimal(38,8)")).alias("sxx"),
        F.sum((y * y).cast("decimal(38,8)")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = (
        F.col("sxy").cast("double"),
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
    )
    corr = (n * sxy - sx * sy) / F.sqrt(
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )
    return agg.select(
        "l_returnflag",
        F.col("n").alias("n_rows"),
        (F.round(corr, 6) + 0.0).alias("price_discount_corr"),
    ).orderBy("l_returnflag")


PRICE_DISCOUNT_CORR_SQL = """
WITH m AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         SUM(CAST(l_extendedprice AS DECIMAL(30,8))) AS sx,
         SUM(CAST(l_discount AS DECIMAL(30,8))) AS sy,
         SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,8))) AS sxy,
         SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,8))) AS sxx,
         SUM(CAST(l_discount * l_discount AS DECIMAL(38,8))) AS syy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag,
       n AS n_rows,
       ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
       + 0.0 AS price_discount_corr
FROM m ORDER BY l_returnflag
"""


def price_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Equi-width histogram of l_extendedprice (width 5000): bin id,
    row count, and exact-decimal bin revenue. Integer bin assignment
    (both engines floor the same IEEE division) keeps the group keys
    deterministic; empty bins are simply absent (gap-filling a
    histogram is events_gapfill_locf's pattern)."""
    li = load_table(spark, sf, "lineitem")
    return (
        li.groupBy(
            F.floor(F.col("l_extendedprice") / 5000).alias("price_bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(dec_sum(F.col("l_extendedprice"), 4).cast("double"), 2).alias(
                "bin_revenue"
            ),
        )
        .orderBy("price_bin")
    )


PRICE_HISTOGRAM_SQL = """
SELECT CAST(floor(l_extendedprice / 5000) AS BIGINT) AS price_bin,
       COUNT(*) AS n_rows,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,4))) AS DOUBLE), 2)
         AS bin_revenue
FROM lineitem
GROUP BY 1 ORDER BY 1
"""


def embedding_pca_project(spark: SparkSession, sf: str) -> DataFrame:
    """Rows-only: every vector's top-8 principal-component projection
    (the pre-ANN compaction pass). The model fits ONCE per corpus from
    exact distributed moments and is memoized (``operators/pca.py``);
    projection is a per-batch matmul, no shuffle. Float moment sums
    ride partition order in their last bits, so per-value hashing is
    not meaningful here — ``pca_check`` is the oracled gate."""
    from ..operators.pca import fit_pca, pca_project

    emb = load_table(spark, sf, "embeddings")
    mean, comps = fit_pca(emb, dim=64, k=8, cache_key=f"pca:{sf}")
    return (
        pca_project(emb, mean, comps)
        .select("vec_id", "projected")
        .sortWithinPartitions("vec_id")
    )


def pca_check(spark: SparkSession, sf: str) -> DataFrame:
    """Oracled gate for the PCA family, all measures computed IN-PLAN
    from the projections (packing_check pattern — invariants, not
    sketch internals):

    - n_vectors: exact, DuckDB recomputes.
    - centered_ok: every projected dimension has |mean| ≤ 1e-6 —
      projection of centered data is mean-zero in exact arithmetic,
      so a wiring bug (missing centering, wrong axis) fails loudly.
    - ordered_ok: projected variance is non-increasing across
      components (eigenvalue-descending order reached the plan).
    - explained_ok: top-8/64 components explain ≥ 13% of total
      variance — above the 12.5% isotropic floor, with margin below
      the measured 16.0%/20.5%/20.4% at sf0.1/0.01/0.001 (this
      synthetic corpus is near-isotropic, the PCA worst case)."""
    from ..operators.pca import fit_pca, pca_project

    emb = load_table(spark, sf, "embeddings")
    mean, comps = fit_pca(emb, dim=64, k=8, cache_key=f"pca:{sf}")
    proj = pca_project(emb, mean, comps)
    m = [float(x) for x in mean]
    stats = proj.select(
        F.count(F.lit(1)).alias("n_vectors"),
        *[F.variance(F.col("projected")[i]).alias(f"v{i}") for i in range(8)],
        *[F.avg(F.col("projected")[i]).alias(f"m{i}") for i in range(8)],
        F.avg(
            F.aggregate(
                F.zip_with(
                    F.col("embedding").cast("array<double>"),
                    F.array(*[F.lit(x) for x in m]),
                    lambda x, mu: (x - mu) * (x - mu),
                ),
                F.lit(0.0),
                lambda acc, d: acc + d,
            )
        ).alias("total_var"),
    )
    top_var = sum(F.col(f"v{i}") for i in range(8))
    return stats.select(
        F.col("n_vectors").cast("long").alias("n_vectors"),
        (F.greatest(*[F.abs(F.col(f"m{i}")) for i in range(8)]) <= 1e-6).alias(
            "centered_ok"
        ),
        (
            sum(
                (F.col(f"v{i}") + 1e-12 >= F.col(f"v{i+1}")).cast("int")
                for i in range(7)
            )
            == 7
        ).alias("ordered_ok"),
        (top_var / F.col("total_var") >= 0.13).alias("explained_ok"),
    )


PCA_CHECK_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
       TRUE AS centered_ok, TRUE AS ordered_ok, TRUE AS explained_ok
FROM embeddings
"""


# ---------------------------------------------------------------------------
# Tukey-fence (IQR) outlier detection per group — the robust-statistics
# screen a curation pipeline runs before trusting a numeric column.
# Exact quartiles per event type (5 groups → the percentile sort is
# per-group and bounded; for a 100 TB column you'd swap in
# percentile_approx with the quantile_sketch_check tolerance gate).
# The q1/q3 interpolation is bit-identical cross-engine (verified:
# Spark `percentile` ≡ DuckDB `quantile_cont` exactly on this corpus),
# so the 1.5·IQR fences and the strict </> cuts agree; outlier
# extremes are raw doubles from identical inputs — no rounding needed.
# ---------------------------------------------------------------------------

def value_outliers_iqr(spark: SparkSession, sf: str) -> DataFrame:
    e = load_events(spark, sf).select("event_type", "value")
    q = e.groupBy("event_type").agg(
        F.expr("percentile(value, array(0.25D, 0.75D))").alias("q"),
        F.count(F.lit(1)).alias("n_events"),
    )
    fences = q.select(
        "event_type",
        "n_events",
        (F.col("q")[0] - 1.5 * (F.col("q")[1] - F.col("q")[0])).alias("lo"),
        (F.col("q")[1] + 1.5 * (F.col("q")[1] - F.col("q")[0])).alias("hi"),
    )
    flagged = (
        e.join(F.broadcast(fences), "event_type")
        .filter((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi")))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_outliers"),
            F.min("value").alias("min_outlier"),
            F.max("value").alias("max_outlier"),
        )
    )
    return (
        fences.join(flagged, "event_type", "left")
        .select(
            "event_type",
            "n_events",
            F.coalesce(F.col("n_outliers"), F.lit(0)).alias("n_outliers"),
            "min_outlier",
            "max_outlier",
        )
        .orderBy("event_type")
    )


VALUE_OUTLIERS_SQL = """
WITH q AS (
    SELECT event_type,
           quantile_cont(value, 0.25) AS q1,
           quantile_cont(value, 0.75) AS q3,
           COUNT(*) AS n_events
    FROM events GROUP BY event_type
), fences AS (
    SELECT event_type, n_events,
           q1 - 1.5 * (q3 - q1) AS lo,
           q3 + 1.5 * (q3 - q1) AS hi
    FROM q
), flagged AS (
    SELECT e.event_type,
           COUNT(*) AS n_outliers,
           MIN(value) AS min_outlier,
           MAX(value) AS max_outlier
    FROM events e JOIN fences f ON e.event_type = f.event_type
    WHERE value < lo OR value > hi
    GROUP BY e.event_type
)
SELECT f.event_type, f.n_events,
       COALESCE(n_outliers, 0) AS n_outliers,
       min_outlier, max_outlier
FROM fences f LEFT JOIN flagged USING (event_type)
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Categorical dependence: chi-squared independence test, mutual
# information, and Cramér's V between order priority and status — the
# feature-relevance screen over a contingency table. Everything
# derives from exact integer cell/marginal counts; per-cell terms are
# computed in ONE fixed double-operation order, rounded, then
# decimal-summed (the charlm discipline) so the totals are
# order-independent and cross-engine identical. One groupBy for the
# cells; marginals are dim-sized broadcasts.
# ---------------------------------------------------------------------------

def priority_status_dependence(spark: SparkSession, sf: str) -> DataFrame:
    o = load_table(spark, sf, "orders")
    cells = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_xy")
    )
    px = o.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n_x"))
    py = o.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n_y"))
    n = o.agg(F.count(F.lit(1)).alias("n_rows"))
    t = (
        cells.join(F.broadcast(px), "o_orderpriority")
        .join(F.broadcast(py), "o_orderstatus")
        .crossJoin(F.broadcast(n))  # 1-row side
    )
    expected = F.col("n_x") * F.col("n_y") / F.col("n_rows")
    chi_term = F.round(
        (F.col("n_xy") - expected) * (F.col("n_xy") - expected) / expected, 9
    )
    mi_term = F.round(
        F.col("n_xy")
        / F.col("n_rows")
        * F.log2(
            F.col("n_xy") * F.col("n_rows") / (F.col("n_x") * F.col("n_y"))
        ),
        9,
    )
    agg = t.agg(
        F.max("n_rows").alias("n_rows"),
        F.count(F.lit(1)).alias("n_cells"),
        F.countDistinct("o_orderpriority").alias("n_x_levels"),
        F.countDistinct("o_orderstatus").alias("n_y_levels"),
        F.sum(chi_term.cast("decimal(30,9)")).alias("chi2_dec"),
        F.sum(mi_term.cast("decimal(30,9)")).alias("mi_dec"),
    )
    return agg.select(
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_cells").cast("long").alias("n_cells"),
        ((F.col("n_x_levels") - 1) * (F.col("n_y_levels") - 1))
        .cast("long")
        .alias("dof"),
        F.round(F.col("chi2_dec").cast("double"), 4).alias("chi2"),
        F.round(F.col("mi_dec").cast("double"), 6).alias("mi_bits"),
        F.round(
            F.sqrt(
                F.col("chi2_dec").cast("double")
                / (
                    F.col("n_rows")
                    * F.least(F.col("n_x_levels") - 1, F.col("n_y_levels") - 1)
                )
            ),
            6,
        ).alias("cramers_v"),
    )


PRIORITY_STATUS_DEP_SQL = """
WITH cells AS (
    SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n_xy
    FROM orders GROUP BY 1, 2
), px AS (SELECT o_orderpriority, COUNT(*) AS n_x FROM orders GROUP BY 1),
py AS (SELECT o_orderstatus, COUNT(*) AS n_y FROM orders GROUP BY 1),
n AS (SELECT COUNT(*) AS n_rows FROM orders),
t AS (
    SELECT n_xy, n_x, n_y, n_rows,
           ROUND((n_xy - n_x * n_y / CAST(n_rows AS DOUBLE))
                 * (n_xy - n_x * n_y / CAST(n_rows AS DOUBLE))
                 / (n_x * n_y / CAST(n_rows AS DOUBLE)), 9) AS chi_term,
           ROUND(n_xy / CAST(n_rows AS DOUBLE)
                 * log2(n_xy * CAST(n_rows AS DOUBLE) / (n_x * n_y)), 9)
               AS mi_term,
           o_orderpriority, o_orderstatus
    FROM cells JOIN px USING (o_orderpriority)
               JOIN py USING (o_orderstatus)
               CROSS JOIN n
)
SELECT CAST(MAX(n_rows) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST((COUNT(DISTINCT o_orderpriority) - 1)
            * (COUNT(DISTINCT o_orderstatus) - 1) AS BIGINT) AS dof,
       ROUND(CAST(SUM(CAST(chi_term AS DECIMAL(30,9))) AS DOUBLE), 4) AS chi2,
       ROUND(CAST(SUM(CAST(mi_term AS DECIMAL(30,9))) AS DOUBLE), 6) AS mi_bits,
       ROUND(sqrt(CAST(SUM(CAST(chi_term AS DECIMAL(30,9))) AS DOUBLE)
                  / (MAX(n_rows) * LEAST(COUNT(DISTINCT o_orderpriority) - 1,
                                         COUNT(DISTINCT o_orderstatus) - 1))), 6)
           AS cramers_v
FROM t
"""


# ---------------------------------------------------------------------------
# Join-key skew diagnosis — the operational report that tells you
# BEFORE a 100 TB join whether a key needs salting (operators/skew.py)
# or AQE skew splitting: per-key row counts reduced to max / mean /
# p99 and the hot-key share. One aggregation over the key histogram;
# the histogram itself is the only shuffle.
# ---------------------------------------------------------------------------

def suppkey_skew_report(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    hist = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("key_rows"))
    return hist.agg(
        F.sum("key_rows").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.max("key_rows").cast("long").alias("max_key_rows"),
        F.round(
            F.max("key_rows") * F.count(F.lit(1)) / F.sum("key_rows"), 4
        ).alias("skew_ratio"),
        F.expr("percentile(key_rows, 0.99D)").alias("p99_key_rows"),
        F.round(F.max("key_rows") / F.sum("key_rows"), 6).alias(
            "hot_key_share"
        ),
    )


SUPPKEY_SKEW_SQL = """
WITH hist AS (
    SELECT l_suppkey, COUNT(*) AS key_rows FROM lineitem GROUP BY l_suppkey
)
SELECT CAST(SUM(key_rows) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(MAX(key_rows) AS BIGINT) AS max_key_rows,
       ROUND(CAST(MAX(key_rows) AS DOUBLE) * COUNT(*) / SUM(key_rows), 4)
           AS skew_ratio,
       quantile_cont(key_rows, 0.99) AS p99_key_rows,
       ROUND(CAST(MAX(key_rows) AS DOUBLE) / SUM(key_rows), 6)
           AS hot_key_share
FROM hist
"""


# ---------------------------------------------------------------------------
# Winsorized aggregates: clip to the per-group [p01, p99] band before
# averaging — the outlier treatment that KEEPS rows (vs the IQR screen
# above, which flags them). Quantiles interpolate bit-identically
# cross-engine (see value_outliers_iqr); clipped doubles cast to
# DECIMAL(30,6) round deterministically (a double can never land
# exactly on a half-way 6-decimal tie — 5e-7 has no finite binary
# form), so the decimal mean is cross-engine exact.
# ---------------------------------------------------------------------------

def winsorized_price_stats(spark: SparkSession, sf: str) -> DataFrame:
    # r15 (guide §1.2/§2.3): the percentile side and the clip side each
    # re-scanned the projected fact. One scan now compresses to the
    # value-histogram relation (flag, price, cnt) — staged once; both
    # consumers are integer-cheap re-aggregations of it. Exactness:
    # Spark's percentile() takes a frequency argument and interpolates
    # over the sorted (value, count) pairs exactly as over repeated
    # rows, and Σ cast(wp AS DECIMAL)·cnt ≡ the per-row decimal sum
    # (exact integer multiples of exact decimals), so the oracle
    # comparison is unchanged. The staged payload is value-bounded
    # (distinct (flag, price) pairs), never corpus-sized.
    li = load_table(spark, sf, "lineitem").select("l_returnflag", "l_extendedprice")
    pc = (
        li.groupBy("l_returnflag", "l_extendedprice")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint()
    )
    q = pc.groupBy("l_returnflag").agg(
        F.expr(
            "percentile(l_extendedprice, array(0.01D, 0.99D), cnt)"
        ).alias("q")
    )
    clipped = (
        pc.join(F.broadcast(q), "l_returnflag")
        .select(
            "l_returnflag",
            F.greatest(
                F.col("q")[0], F.least(F.col("q")[1], F.col("l_extendedprice"))
            ).alias("wp"),
            "cnt",
        )
    )
    return (
        clipped.groupBy("l_returnflag")
        .agg(
            F.sum("cnt").alias("n_rows"),
            F.round(
                F.sum(F.col("wp").cast("decimal(30,6)") * F.col("cnt"))
                .cast("double")
                / F.sum("cnt"),
                4,
            ).alias("winsor_mean"),
            F.round(F.min("wp"), 4).alias("winsor_min"),
            F.round(F.max("wp"), 4).alias("winsor_max"),
        )
        .orderBy("l_returnflag")
    )


WINSORIZED_PRICE_SQL = """
WITH q AS (
    SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.01) AS p01,
           quantile_cont(l_extendedprice, 0.99) AS p99
    FROM lineitem GROUP BY l_returnflag
), clipped AS (
    SELECT l.l_returnflag,
           GREATEST(p01, LEAST(p99, l_extendedprice)) AS wp
    FROM lineitem l JOIN q ON l.l_returnflag = q.l_returnflag
)
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       ROUND(CAST(SUM(CAST(wp AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*), 4)
           AS winsor_mean,
       ROUND(MIN(wp), 4) AS winsor_min,
       ROUND(MAX(wp), 4) AS winsor_max
FROM clipped
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# Block-bootstrap confidence interval for the per-type mean event
# value — uncertainty quantification with the house no-RNG rule: each
# row lands in one of 10 pseudo-replicates by md5 bucket (so
# replicate membership is reproducible and partition-invariant), each
# replicate's mean is decimal-exact, and the CI half-width is the
# replicate-spread estimate t·s/√R in one fixed operation order. One
# shuffle to (type, replicate), then a 10-row-per-type reduction.
# ---------------------------------------------------------------------------

def value_bootstrap_ci(spark: SparkSession, sf: str) -> DataFrame:
    e = load_events(spark, sf).select("event_type", "event_id", "value")
    rep = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.encode(F.col("event_id").cast("string"), "UTF-8")), 1, 8
            ),
            16,
            10,
        ).cast("long"),
        F.lit(10),
    )
    per_rep = (
        e.withColumn("rep", rep)
        .groupBy("event_type", "rep")
        .agg(
            (
                dec_sum(F.col("value"), 6).cast("double") / F.count(F.lit(1))
            ).alias("rep_mean")
        )
    )
    agg = per_rep.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_reps"),
        F.sum(F.col("rep_mean").cast("decimal(30,9)")).alias("sm"),
        F.sum((F.col("rep_mean") * F.col("rep_mean")).cast("decimal(30,9)")).alias(
            "smm"
        ),
    )
    n, sm, smm = (
        F.col("n_reps"),
        F.col("sm").cast("double"),
        F.col("smm").cast("double"),
    )
    mean = sm / n
    var = (smm - sm * sm / n) / (n - 1)
    half = 2.262 * F.sqrt(var / n)  # t(9, 0.975)
    return agg.select(
        "event_type",
        n.cast("int").alias("n_reps"),
        (F.floor(mean * 1e6) / 1e6).alias("mean_value"),
        (F.floor(half * 1e6) / 1e6).alias("ci_half_width"),
    ).orderBy("event_type")


VALUE_BOOTSTRAP_SQL = """
WITH e AS (
    SELECT event_type, value,
           CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))
                AS BIGINT) % 10 AS rep
    FROM events
), per_rep AS (
    SELECT event_type, rep,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*)
               AS rep_mean
    FROM e GROUP BY event_type, rep
), agg AS (
    SELECT event_type, COUNT(*) AS n_reps,
           SUM(CAST(rep_mean AS DECIMAL(30,9))) AS sm,
           SUM(CAST(rep_mean * rep_mean AS DECIMAL(30,9))) AS smm
    FROM per_rep GROUP BY event_type
)
SELECT event_type, CAST(n_reps AS INT) AS n_reps,
       FLOOR(CAST(sm AS DOUBLE) / n_reps * 1e6) / 1e6 AS mean_value,
       FLOOR(2.262 * sqrt((CAST(smm AS DOUBLE)
                           - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE) / n_reps)
                          / (n_reps - 1) / n_reps) * 1e6) / 1e6
           AS ci_half_width
FROM agg
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Model scoring: logistic score of every embedding under a FIXED
# coefficient vector (the inference pattern — the model broadcasts in
# the plan as a literal array, the dot product runs JVM-side through
# higher-order functions, no Python in the loop). Scores bucket into
# deciles for a calibration-style profile. Deterministic: the weight
# vector is a fixed function of the dimension index.
# ---------------------------------------------------------------------------

def embedding_model_scores(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    return (
        emb.select(F.floor(sigmoid_score() * 10).cast("int").alias("score_decile"))
        .groupBy("score_decile")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("score_decile")
    )


EMBEDDING_SCORES_SQL = """
WITH w AS (
    SELECT list_transform(range(0, 64),
                          j -> CAST((-1.0) ** j / (j + 1.0) AS DOUBLE)) AS wv
), scored AS (
    -- FLOAT before DOUBLE mirrors load_table's array<float> reading
    SELECT list_dot_product(CAST(CAST(embedding AS FLOAT[]) AS DOUBLE[]),
                            wv) AS dot
    FROM embeddings CROSS JOIN w
)
SELECT CAST(FLOOR(10.0 / (1.0 + exp(-dot))) AS INT) AS score_decile,
       CAST(COUNT(*) AS BIGINT) AS n_vectors
FROM scored
GROUP BY score_decile
ORDER BY score_decile
"""


# ---------------------------------------------------------------------------
# Operational-latency distribution: order-to-ship lag percentiles per
# priority — the SLA view over a fact-fact join. Lags are exact
# integer day counts; the percentile interpolation is the verified
# bit-identical kind.
# ---------------------------------------------------------------------------

def fulfillment_latency_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    lag = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            "o_orderpriority",
            F.datediff(
                F.col("l_shipdate").cast("date"),
                F.col("o_orderdate").cast("date"),
            ).alias("lag_days"),
        )
    )
    return (
        lag.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.expr(
                "percentile(lag_days, array(0.5D, 0.9D, 0.99D))"
            ).alias("q"),
            F.max("lag_days").alias("max_lag"),
        )
        .select(
            "o_orderpriority",
            "n_lines",
            F.col("q")[0].alias("p50_lag"),
            F.col("q")[1].alias("p90_lag"),
            F.col("q")[2].alias("p99_lag"),
            "max_lag",
        )
        .orderBy("o_orderpriority")
    )


FULFILLMENT_LATENCY_SQL = """
WITH lag AS (
    SELECT o_orderpriority,
           datediff('day', CAST(o_orderdate AS DATE),
                    CAST(l_shipdate AS DATE)) AS lag_days
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       quantile_cont(lag_days, 0.5) AS p50_lag,
       quantile_cont(lag_days, 0.9) AS p90_lag,
       quantile_cont(lag_days, 0.99) AS p99_lag,
       MAX(lag_days) AS max_lag
FROM lag
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Quantile discretization (equal-frequency binning): assign each row
# its price decile — the ML feature-prep transform. Binning follows a
# TOTAL order (price, orderkey, linenumber) so assignment is
# deterministic under ties; per-decile profile is decimal-exact.
# Scale posture: NO global single-partition window — the row number
# comes from operators/ranks.py::parallel_row_number (bucket-parallel
# windows + a ≤256-row prefix join) and the SQL-standard NTILE
# placement is recovered exactly from (i, n) by ntile_expr's integer
# arithmetic, so the plain-NTILE DuckDB oracle stays byte-identical.
# (This was the registry's last fact-table global sort — the
# `WindowExec: No Partition Defined` warning in earlier bench tails.)
# ---------------------------------------------------------------------------

def price_decile_profile(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.ranks import ntile_expr, parallel_row_number

    li = load_table(spark, sf, "lineitem")
    ranked = parallel_row_number(
        li, "l_extendedprice", ["l_orderkey", "l_linenumber"], out_col="i"
    )
    n = li.agg(F.count(F.lit(1)).alias("n_total"))  # 1-row broadcast
    return (
        ranked.crossJoin(F.broadcast(n))
        .withColumn("decile", ntile_expr("i", "n_total", 10))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.min("l_extendedprice"), 2).alias("lo_price"),
            F.round(F.max("l_extendedprice"), 2).alias("hi_price"),
            F.round(
                dec_sum(F.col("l_extendedprice"), 6).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("mean_price"),
        )
        .select(F.col("decile").cast("int").alias("decile"), "n_rows",
                "lo_price", "hi_price", "mean_price")
        .orderBy("decile")
    )


PRICE_DECILE_SQL = """
WITH binned AS (
    SELECT l_extendedprice,
           NTILE(10) OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber)
               AS decile
    FROM lineitem
)
SELECT CAST(decile AS INT) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       ROUND(MIN(l_extendedprice), 2) AS lo_price,
       ROUND(MAX(l_extendedprice), 2) AS hi_price,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE)
             / COUNT(*), 4) AS mean_price
FROM binned
GROUP BY decile
ORDER BY decile
"""


# ---------------------------------------------------------------------------
# Robust outlier detection: median / MAD (median absolute deviation)
# per event_type — the heavy-tail-safe complement of the IQR and
# z-score families (one wild value moves a mean/stddev fence, not a
# MAD fence). Cross-engine exactness: both medians are LOWER medians
# — the k = ⌊(n+1)/2⌋-th ORDER STATISTIC, an element of the data, so
# no interpolation (the engines' percentile interpolation is not
# bit-compatible — the rolling_median_values lesson); |x−med|,
# 3·mad, and the comparison are identical IEEE ops on identical
# doubles. Scale shape: two sort-within-type window passes plus
# per-type median tables AQE is free to broadcast (one row per
# distinct event_type — not bounded by construction, so no hint) — the per-type sort is the
# honest cost of an exact order statistic at scale (approximate
# alternatives live in approx_quantiles_lineitem / the KLL gate).
# ---------------------------------------------------------------------------


def value_mad_outliers(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_events(spark, sf).select("event_type", "event_id", "value")
    by_val = Window.partitionBy("event_type").orderBy("value", "event_id")
    n_w = Window.partitionBy("event_type")
    k = F.floor((F.count(F.lit(1)).over(n_w) + 1) / 2)
    med = (
        ev.withColumn("rn", F.row_number().over(by_val))
        .withColumn("k", k)
        .filter(F.col("rn") == F.col("k"))
        .select("event_type", F.col("value").alias("med"))
    )
    dev = ev.join(med, "event_type").withColumn(
        "d", F.abs(F.col("value") - F.col("med"))
    )
    by_dev = Window.partitionBy("event_type").orderBy("d", "event_id")
    mad = (
        dev.withColumn("rn", F.row_number().over(by_dev))
        .withColumn("k", k)
        .filter(F.col("rn") == F.col("k"))
        .select("event_type", F.col("d").alias("mad"))
    )
    return (
        dev.join(mad, "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.first("med").alias("med"),
            F.first("mad").alias("mad"),
            F.sum(
                (F.col("d") > F.lit(3.0) * F.col("mad")).cast("int")
            ).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


VALUE_MAD_SQL = """
WITH ev AS (
  SELECT event_type, event_id, value FROM events
),
ranked AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rn,
         CAST(FLOOR((COUNT(*) OVER (PARTITION BY event_type) + 1) / 2)
              AS BIGINT) AS k
  FROM ev
),
med AS (SELECT event_type, value AS med FROM ranked WHERE rn = k),
dev AS (
  SELECT e.event_type, e.event_id, e.value, m.med,
         ABS(e.value - m.med) AS d
  FROM ev e JOIN med m USING (event_type)
),
dranked AS (
  SELECT event_type, d,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY d, event_id) AS rn,
         CAST(FLOOR((COUNT(*) OVER (PARTITION BY event_type) + 1) / 2)
              AS BIGINT) AS k
  FROM dev
),
mad AS (SELECT event_type, d AS mad FROM dranked WHERE rn = k)
SELECT v.event_type, COUNT(*) AS n,
       ANY_VALUE(v.med) AS med, ANY_VALUE(a.mad) AS mad,
       CAST(SUM(CASE WHEN v.d > 3.0 * a.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM dev v JOIN mad a USING (event_type)
GROUP BY v.event_type ORDER BY v.event_type
"""


# ---------------------------------------------------------------------------
# Model-evaluation ops over the scored embeddings — the metrics a
# training pipeline computes at data scale (score a 100 TB eval set,
# aggregate; no driver-side sklearn). Both reuse the fixed sigmoid
# scorer columns.py::sigmoid_score (bit-exactness
# precedent: fixed-order fold + identical double literals) against
# the synthetic binary target label >= 5.
#
# Exactness: per-row scores round to 6 dp before the exact decimal
# sum (charlm discipline); counts are integers; every ratio divides
# once and rounds to 6. The PR sweep crossJoins a 9-row literal
# threshold frame (bounded by construction — broadcast is free
# either way, AQE handles it).
# ---------------------------------------------------------------------------


def score_calibration_bins(spark: SparkSession, sf: str) -> DataFrame:
    """Reliability diagram input: per score decile, the mean
    predicted probability vs the observed positive rate — a
    calibrated model tracks the diagonal. One scan, one 10-group
    aggregate."""
    emb = load_table(spark, sf, "embeddings")
    s = emb.select(
        F.floor(sigmoid_score() * 10).cast("int").alias("bin"),
        F.round(sigmoid_score(), 6).alias("score"),
        (F.col("label") >= 5).cast("int").alias("pos"),
    )
    return (
        s.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                dec_sum(F.col("score"), 6).cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_score"),
            F.round(F.sum("pos") / F.count(F.lit(1)), 6).alias("pos_rate"),
        )
        .orderBy("bin")
    )


SCORE_CALIBRATION_SQL = f"""
WITH s AS (
  SELECT CAST(FLOOR({SIGMOID_SCORE_SQL} * 10) AS INT) AS bin,
         ROUND({SIGMOID_SCORE_SQL}, 6) AS score,
         CASE WHEN label >= 5 THEN 1 ELSE 0 END AS pos
  FROM embeddings
)
SELECT bin, COUNT(*) AS n,
       ROUND(CAST(SUM(CAST(score AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*), 6)
         AS mean_score,
       ROUND(CAST(SUM(pos) AS DOUBLE) / COUNT(*), 6) AS pos_rate
FROM s GROUP BY bin ORDER BY bin
"""


def score_pr_curve(spark: SparkSession, sf: str) -> DataFrame:
    """Precision/recall at nine thresholds (0.1 … 0.9) in one
    conditional aggregation — the threshold frame is a 9-row literal,
    so the sweep costs one scan regardless of corpus size."""
    emb = load_table(spark, sf, "embeddings")
    s = emb.select(
        sigmoid_score().alias("score"),
        (F.col("label") >= 5).cast("int").alias("pos"),
    )
    thresholds = spark.createDataFrame(
        [(i, float(repr(i / 10))) for i in range(1, 10)], ["ti", "t"]
    )
    agg = (
        # hint the 9-row literal frame (bounded by construction):
        # unhinted, AQE broadcast the CORPUS side at test SF — the
        # reversed build side a 100 TB eval set cannot survive
        s.crossJoin(F.broadcast(thresholds))
        .groupBy("ti", "t")
        .agg(
            F.sum(
                ((F.col("score") >= F.col("t")) & (F.col("pos") == 1)).cast("long")
            ).alias("tp"),
            F.sum(
                ((F.col("score") >= F.col("t")) & (F.col("pos") == 0)).cast("long")
            ).alias("fp"),
            F.sum(
                ((F.col("score") < F.col("t")) & (F.col("pos") == 1)).cast("long")
            ).alias("fn"),
        )
    )
    return agg.select(
        F.col("ti").cast("int").alias("ti"),
        F.round("t", 1).alias("threshold"),
        "tp",
        "fp",
        "fn",
        F.when(
            F.col("tp") + F.col("fp") > 0,
            F.round(F.col("tp") / (F.col("tp") + F.col("fp")), 6),
        ).alias("precision"),
        F.when(
            F.col("tp") + F.col("fn") > 0,
            F.round(F.col("tp") / (F.col("tp") + F.col("fn")), 6),
        ).alias("recall"),
    ).orderBy("ti")


SCORE_PR_SQL = f"""
WITH s AS (
  SELECT {SIGMOID_SCORE_SQL} AS score,
         CASE WHEN label >= 5 THEN 1 ELSE 0 END AS pos
  FROM embeddings
),
t AS (SELECT CAST(i AS INT) AS ti, i / 10.0 AS t
      FROM UNNEST(range(1, 10)) AS u(i)),
agg AS (
  SELECT ti, t,
         SUM(CASE WHEN score >= t AND pos = 1 THEN 1 ELSE 0 END) AS tp,
         SUM(CASE WHEN score >= t AND pos = 0 THEN 1 ELSE 0 END) AS fp,
         SUM(CASE WHEN score <  t AND pos = 1 THEN 1 ELSE 0 END) AS fn
  FROM s, t GROUP BY ti, t
)
SELECT ti, ROUND(t, 1) AS threshold,
       CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       CAST(fn AS BIGINT) AS fn,
       CASE WHEN tp + fp > 0
            THEN ROUND(CAST(tp AS DOUBLE) / (tp + fp), 6) END AS precision,
       CASE WHEN tp + fn > 0
            THEN ROUND(CAST(tp AS DOUBLE) / (tp + fn), 6) END AS recall
FROM agg ORDER BY ti
"""


def score_auc(spark: SparkSession, sf: str) -> DataFrame:
    """Exact ROC-AUC as the Mann–Whitney U rank statistic:
    AUC = (Σ midrank(positives) − n₊(n₊+1)/2) / (n₊·n₋), with
    midranks (RANK + (ties−1)/2) handling equal scores exactly — the
    textbook identity, no curve integration, no thresholds. Midranks
    are exact .0/.5 doubles, so the decimal sum is lossless and the
    single division rounds once.

    The global rank is computed WITHOUT a single-partition window
    (the value_drift_ks decomposition): fixed-width score buckets
    from a 1-row bounds broadcast, parallel in-bucket RANK windows,
    and a ≤256-row cross-bucket prefix table. Equal scores land in
    the same bucket (the bucket is a function of the score), so ties
    never span buckets and global RANK = bucket prefix + in-bucket
    RANK exactly; the tie count is a parallel per-score window. The
    DuckDB twin ranks with a plain global window — the hash match
    proves the decomposition."""
    emb = load_table(spark, sf, "embeddings")
    s = emb.select(
        sigmoid_score().alias("score"),
        (F.col("label") >= 5).cast("int").alias("pos"),
    )
    bounds = s.agg(F.min("score").alias("s0"), F.max("score").alias("s1"))
    b = (
        s.crossJoin(F.broadcast(bounds))  # 1-row side
        .select(
            "score", "pos",
            F.least(
                F.floor(
                    (F.col("score") - F.col("s0"))
                    / F.greatest(
                        (F.col("s1") - F.col("s0")) / F.lit(256.0),
                        F.lit(1e-300),
                    )
                ).cast("int"),
                F.lit(255),
            ).alias("bucket"),
        )
    )
    in_bucket = Window.partitionBy("bucket").orderBy("score")
    prefix_w = (
        Window.partitionBy(constant_partition_key("bucket"))
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = (
        b.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("bn"))
        .select(
            "bucket",
            F.coalesce(F.sum("bn").over(prefix_w), F.lit(0)).alias("pfx"),
        )
    )
    ranked = (
        b.withColumn("r_in", F.rank().over(in_bucket))
        .withColumn(
            "ties", F.count(F.lit(1)).over(Window.partitionBy("score"))
        )
        .join(F.broadcast(prefix), "bucket")
        .select(
            "pos",
            (
                F.col("pfx") + F.col("r_in") + (F.col("ties") - 1) / 2.0
            ).alias("midrank"),
        )
    )
    return ranked.agg(
        F.sum("pos").alias("n_pos"),
        F.sum(1 - F.col("pos")).alias("n_neg"),
        F.round(
            (
                dec_sum(F.when(F.col("pos") == 1, F.col("midrank")), 6).cast(
                    "double"
                )
                - (F.sum("pos") * (F.sum("pos") + 1)) / 2.0
            )
            / (F.sum("pos") * F.sum(1 - F.col("pos"))),
            6,
        ).alias("auc"),
    )


SCORE_AUC_SQL = f"""
WITH s AS (
  SELECT {SIGMOID_SCORE_SQL} AS score,
         CASE WHEN label >= 5 THEN 1 ELSE 0 END AS pos
  FROM embeddings
),
r AS (
  SELECT pos,
         RANK() OVER (ORDER BY score)
         + (COUNT(*) OVER (PARTITION BY score) - 1) / 2.0 AS midrank
  FROM s
)
SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
       CAST(SUM(1 - pos) AS BIGINT) AS n_neg,
       ROUND((CAST(SUM(CASE WHEN pos = 1
                            THEN CAST(midrank AS DECIMAL(30,6)) END)
                   AS DOUBLE)
              - (SUM(pos) * (SUM(pos) + 1)) / 2.0)
             / (SUM(pos) * SUM(1 - pos)), 6) AS auc
FROM r
"""


# ---------------------------------------------------------------------------
# Exact two-sample Kolmogorov–Smirnov drift statistic between the
# event stream's time halves — the distribution-free complement of
# value_drift_psi (PSI needs binning; KS is exact on the raw
# values): D = max over distinct values of |ECDF_early − ECDF_late|.
#
# Scale-correct exact ECDF (no single-partition global window): a
# 1-row bounds broadcast assigns each distinct value a fixed-width
# BUCKET; cumulative counts run in parallel windows WITHIN each
# bucket, and the cross-bucket prefix comes from a ≤256-row bucket
# total table (bounded by construction → broadcast). The oracle
# computes the same ECDFs with a plain cumulative window — identical
# values, so the hash compare proves the parallel decomposition.
# Precondition (holds for the event corpus): both halves non-empty.
# ---------------------------------------------------------------------------


def value_drift_ks(spark: SparkSession, sf: str) -> DataFrame:
    e = load_events(spark, sf).select("ts_sec", F.col("value").cast("double"))
    bounds = e.agg(
        F.min("ts_sec").alias("t0"), F.max("ts_sec").alias("t1"),
        F.min("value").alias("v0"), F.max("value").alias("v1"),
    )
    g = (
        e.crossJoin(F.broadcast(bounds))  # 1-row side
        .select(
            "value",
            # same constant-column guard as value_drift_psi
            F.least(
                F.floor(
                    (F.col("value") - F.col("v0"))
                    / F.greatest(
                        (F.col("v1") - F.col("v0")) / F.lit(256.0),
                        F.lit(1e-300),
                    )
                ).cast("int"),
                F.lit(255),
            ).alias("bucket"),
            (F.col("ts_sec") * 2 < F.col("t0") + F.col("t1")).alias("early"),
        )
        .groupBy("bucket", "value")
        .agg(
            F.sum(F.when(F.col("early"), 1).otherwise(0)).alias("ne"),
            F.sum(F.when(F.col("early"), 0).otherwise(1)).alias("nl"),
        )
    )
    in_bucket = Window.partitionBy("bucket").orderBy("value")
    g = g.select(
        "bucket", "value",
        F.sum("ne").over(in_bucket).alias("ce_in"),
        F.sum("nl").over(in_bucket).alias("cl_in"),
    )
    # ≤256-row prefix table: totals per bucket, cumulated over the
    # bucket ids (a window over a bounded relation), EXCLUSIVE prefix
    btot = (
        g.groupBy("bucket")
        .agg(F.max("ce_in").alias("be"), F.max("cl_in").alias("bl"))
    )
    over_buckets = (
        Window.partitionBy(constant_partition_key("bucket"))
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = btot.select(
        "bucket",
        F.coalesce(F.sum("be").over(over_buckets), F.lit(0)).alias("pe"),
        F.coalesce(F.sum("bl").over(over_buckets), F.lit(0)).alias("pl"),
    )
    cum = g.join(F.broadcast(prefix), "bucket").select(
        (F.col("ce_in") + F.col("pe")).alias("ce"),
        (F.col("cl_in") + F.col("pl")).alias("cl"),
    )
    tot = cum.agg(F.max("ce").alias("te"), F.max("cl").alias("tl"))
    return (
        cum.crossJoin(F.broadcast(tot))  # 1-row side
        .agg(
            F.max("te").alias("n_early"),
            F.max("tl").alias("n_late"),
            F.round(
                F.max(
                    F.abs(
                        F.col("ce") / F.col("te") - F.col("cl") / F.col("tl")
                    )
                ),
                6,
            ).alias("ks_stat"),
        )
    )


VALUE_DRIFT_KS_SQL = """
WITH e AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
         CAST(value AS DOUBLE) AS value
  FROM events
),
b AS (SELECT MIN(ts_sec) AS t0, MAX(ts_sec) AS t1 FROM e),
g AS (
  SELECT value,
         SUM(CASE WHEN e.ts_sec * 2 < b.t0 + b.t1 THEN 1 ELSE 0 END) AS ne,
         SUM(CASE WHEN e.ts_sec * 2 < b.t0 + b.t1 THEN 0 ELSE 1 END) AS nl
  FROM e, b GROUP BY value
),
c AS (
  SELECT SUM(ne) OVER (ORDER BY value) AS ce,
         SUM(nl) OVER (ORDER BY value) AS cl
  FROM g
),
t AS (SELECT MAX(ce) AS te, MAX(cl) AS tl FROM c)
SELECT CAST(MAX(t.te) AS BIGINT) AS n_early,
       CAST(MAX(t.tl) AS BIGINT) AS n_late,
       ROUND(MAX(ABS(CAST(c.ce AS DOUBLE) / t.te
                     - CAST(c.cl AS DOUBLE) / t.tl)), 6) AS ks_stat
FROM c, t
"""


# ---------------------------------------------------------------------------
# Gini coefficient of customer spend concentration: with customers'
# total spends x₍₁₎ ≤ … ≤ x₍ₙ₎ (ties broken by custkey so the order
# is total), G = 2·Σᵢ i·x₍ᵢ₎ / (n·Σx) − (n+1)/n — the exact
# rank-sum identity, no curve integration.
#
# The global row_number avoids a single-partition window via the
# score_auc bucket decomposition: 256 fixed-width spend buckets from
# a 1-row bounds broadcast, parallel in-bucket ROW_NUMBER windows,
# and a ≤256-row broadcast prefix table (the bucket is a function of
# the spend alone, and (spend, custkey) never orders across buckets
# out of bucket order). The DuckDB twin uses a plain global window —
# the hash match proves the decomposition.
#
# Exactness: per-customer spend is a DECIMAL(30,2) sum of
# two-decimal prices (lossless); i·x is an int×decimal product
# summed as DECIMAL(38,2) (lossless: i ≤ n, far under the precision
# cap); the Gini arithmetic is the same fixed sequence of IEEE
# double ops on both engines, rounded once.
# ---------------------------------------------------------------------------


def spend_gini_frame(orders: DataFrame) -> DataFrame:
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(30,2)")).alias("spend")
    )
    bounds = spend.agg(
        F.min("spend").cast("double").alias("s0"),
        F.max("spend").cast("double").alias("s1"),
    )
    b = spend.crossJoin(F.broadcast(bounds)).select(  # 1-row side
        "o_custkey",
        "spend",
        F.least(
            F.floor(
                (F.col("spend").cast("double") - F.col("s0"))
                / F.greatest(
                    (F.col("s1") - F.col("s0")) / F.lit(256.0),
                    F.lit(1e-300),
                )
            ).cast("int"),
            F.lit(255),
        ).alias("bucket"),
    )
    in_bucket = Window.partitionBy("bucket").orderBy("spend", "o_custkey")
    prefix_w = (
        Window.partitionBy(constant_partition_key("bucket"))
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = (
        b.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("bn"))
        .select(
            "bucket",
            F.coalesce(F.sum("bn").over(prefix_w), F.lit(0)).alias("pfx"),
        )
    )
    ranked = (
        b.withColumn("r_in", F.row_number().over(in_bucket))
        .join(F.broadcast(prefix), "bucket")
        .select(
            "spend", (F.col("pfx") + F.col("r_in")).alias("i")
        )
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("spend").cast("double"), 2).alias("total_spend"),
        F.round(
            2.0
            * F.sum(
                (F.col("i").cast("decimal(18,0)") * F.col("spend")).cast(
                    "decimal(38,2)"
                )
            ).cast("double")
            / (
                F.count(F.lit(1)).cast("double")
                * F.sum("spend").cast("double")
            )
            - (F.count(F.lit(1)) + 1.0) / F.count(F.lit(1)),
            6,
        ).alias("gini"),
    )


def customer_spend_gini(spark: SparkSession, sf: str) -> DataFrame:
    return spend_gini_frame(load_table(spark, sf, "orders"))


GINI_SQL = """
WITH spend AS (
    SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS spend
    FROM orders GROUP BY o_custkey
), ranked AS (
    SELECT spend,
           ROW_NUMBER() OVER (ORDER BY spend, o_custkey) AS i
    FROM spend
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
       ROUND(CAST(SUM(spend) AS DOUBLE), 2) AS total_spend,
       ROUND(2.0 * CAST(SUM(CAST(CAST(i AS DECIMAL(18,0)) * spend
                                 AS DECIMAL(38,2))) AS DOUBLE)
             / (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(spend) AS DOUBLE))
             - (COUNT(*) + 1.0) / COUNT(*), 6) AS gini
FROM ranked
"""


# ---------------------------------------------------------------------------
# Benford first-significant-digit audit of order totals — the
# fabricated-data screen (Nigrini '12): real multiplicative amounts
# follow P(d) = log10(1 + 1/d); uniform or hand-picked ones don't.
#
# The digit is extracted WITHOUT runtime logarithms: totals have two
# decimals, so cents = CAST(ROUND(x·100) AS BIGINT) is exact, and
# the first character of the integer's decimal string is the first
# significant digit (integer→string is exact on both engines —
# no float formatting, no log10 that could land on a power of 10
# and floor differently per engine). Expected shares are Python
# log10 literals embedded identically in BOTH plans.
#
# Scale: one scan → 9-row aggregate; the totals join is a 1-row
# broadcast.
# ---------------------------------------------------------------------------

_BENFORD = {d: math.log10(1.0 + 1.0 / d) for d in range(1, 10)}


def benford_frame(orders: DataFrame) -> DataFrame:
    digit = F.substring(
        F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
        1,
        1,
    ).cast("int")
    per = (
        orders.filter(F.col("o_totalprice") > 0)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = per.agg(F.sum("n").alias("total"))
    expected = F.lit(0.0)
    for d, p in _BENFORD.items():
        expected = F.when(F.col("digit") == d, F.lit(p)).otherwise(expected)
    return (
        per.crossJoin(F.broadcast(tot))  # 1-row side
        .select(
            "digit",
            F.col("n").cast("long").alias("n"),
            F.round(F.col("n") / F.col("total"), 6).alias("share"),
            F.round(expected, 6).alias("benford"),
            F.round(
                F.round(F.col("n") / F.col("total"), 6) - F.round(expected, 6),
                6,
            ).alias("excess"),
        )
        .orderBy("digit")
    )


def benford_order_totals(spark: SparkSession, sf: str) -> DataFrame:
    return benford_frame(load_table(spark, sf, "orders"))


# DuckDB parses bare decimal literals as DECIMAL — cast each arm so
# the arithmetic stays in doubles like the Spark side
_BENFORD_CASE = "CASE digit " + " ".join(
    f"WHEN {d} THEN CAST({p!r} AS DOUBLE)" for d, p in _BENFORD.items()
) + " ELSE CAST(0.0 AS DOUBLE) END"


BENFORD_SQL = f"""
WITH per AS (
    SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                            AS VARCHAR), 1, 1) AS INT) AS digit,
           COUNT(*) AS n
    FROM orders WHERE o_totalprice > 0
    GROUP BY 1
), tot AS (
    SELECT SUM(n) AS total FROM per
)
SELECT digit, CAST(n AS BIGINT) AS n,
       ROUND(CAST(n AS DOUBLE) / total, 6) AS share,
       ROUND({_BENFORD_CASE}, 6) AS benford,
       ROUND(ROUND(CAST(n AS DOUBLE) / total, 6)
             - ROUND({_BENFORD_CASE}, 6), 6) AS excess
FROM per CROSS JOIN tot
ORDER BY digit
"""


# ---------------------------------------------------------------------------
# Exact p95 per event type: the k-th order statistic with
# k = ⌈0.95·n⌉ = (19n + 19) DIV 20 — an ELEMENT of the data (the
# odd-window median discipline: order statistics are engine-exact,
# interpolated quantiles are not). The global per-type rank comes
# from the parallel_row_number bucket decomposition; the plain-window
# DuckDB twin proves it per round.
# ---------------------------------------------------------------------------


def value_p95_by_type(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.ranks import parallel_row_number

    e = load_events(spark, sf).select("event_type", "value", "event_id")
    ranked = parallel_row_number(
        e, "value", ["event_id"], part_cols=["event_type"], out_col="i"
    )
    n = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return (
        ranked.join(n, "event_type")
        .filter(F.col("i") == F.expr("(19 * n + 19) DIV 20"))
        .select(
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.round(F.col("value"), 6).alias("p95"),
        )
        .orderBy("event_type")
    )


P95_SQL = """
WITH ranked AS (
    SELECT event_type, value,
           ROW_NUMBER() OVER (PARTITION BY event_type
                              ORDER BY value, event_id) AS i,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM events
)
SELECT event_type, CAST(n AS BIGINT) AS n, ROUND(value, 6) AS p95
FROM ranked WHERE i = (19 * n + 19) // 20
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Revenue Pareto point: the smallest k such that the top-k customers
# (by spend, ties broken by custkey) cover ≥ 80% of total revenue.
# Customers rank DESCENDING via the parallel prefix-sum ordered on
# the NEGATED spend (the bucket function must be monotone in the
# order key); the cumulative spend is exact decimal, so the ≥-80%
# crossing row is engine-exact: it is the FIRST row where
# 100·cum ≥ 80·total — pure decimal/integer comparisons, no float
# share ever computed before the final rounded output columns.
# ---------------------------------------------------------------------------


def revenue_pareto_8020(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.ranks import parallel_prefix_sum

    spend = (
        load_table(spark, sf, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(30,2)")).alias("spend")
        )
        .withColumn("neg", -F.col("spend").cast("double"))
    )
    cum = parallel_prefix_sum(
        spend, "spend", "neg", ["o_custkey"], scale=2, out_col="cum"
    )
    totals = spend.agg(
        F.sum("spend").alias("total"),
        F.count(F.lit(1)).alias("n_customers"),
    )
    crossed = (
        cum.crossJoin(F.broadcast(totals))  # 1-row side
        .filter(F.col("cum") * 100 >= F.col("total") * 80)
        .agg(
            F.min(
                F.struct(
                    (-F.col("spend")).alias("neg"), "o_custkey", "cum",
                    "total", "n_customers",
                )
            ).alias("s")
        )
    )
    # the first crossing row is the MIN in descending-spend order —
    # recovered via a struct-min so no second global sort is needed
    k = (
        cum.crossJoin(F.broadcast(totals))
        .filter(F.col("cum") * 100 < F.col("total") * 80)
        .agg(F.count(F.lit(1)).alias("below"))
    )
    return (
        k.crossJoin(F.broadcast(crossed))
        .select(
            (F.col("below") + 1).cast("long").alias("k_customers"),
            F.col("s.n_customers").cast("long").alias("n_customers"),
            F.round(
                F.col("s.cum").cast("double") / F.col("s.total").cast("double"),
                6,
            ).alias("share_at_k"),
            F.round(
                (F.col("below") + 1) / F.col("s.n_customers"), 6
            ).alias("k_fraction"),
        )
    )


PARETO_SQL = """
WITH spend AS (
    SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS spend
    FROM orders GROUP BY o_custkey
), cum AS (
    SELECT o_custkey, spend,
           SUM(spend) OVER (ORDER BY spend DESC, o_custkey
                            ROWS UNBOUNDED PRECEDING) AS cum
    FROM spend
), totals AS (
    SELECT SUM(spend) AS total, COUNT(*) AS n_customers FROM spend
), crossing AS (
    SELECT cum FROM cum CROSS JOIN totals
    WHERE cum * 100 >= total * 80
    ORDER BY spend DESC, o_custkey LIMIT 1
), below AS (
    SELECT COUNT(*) AS below FROM cum CROSS JOIN totals
    WHERE cum * 100 < total * 80
)
SELECT CAST(below + 1 AS BIGINT) AS k_customers,
       CAST(n_customers AS BIGINT) AS n_customers,
       ROUND(CAST(crossing.cum AS DOUBLE) / CAST(total AS DOUBLE), 6)
           AS share_at_k,
       ROUND(CAST(below + 1 AS DOUBLE) / n_customers, 6) AS k_fraction
FROM below CROSS JOIN crossing CROSS JOIN totals
"""


# ---------------------------------------------------------------------------
# Quantity-weighted median line price: the smallest price p (ties on
# the synthetic row order) such that the cumulative quantity through
# p reaches half the total — the first row where 2·cum ≥ W. Both the
# cumulative and total weights are exact decimal sums of integer
# quantities, so the crossing row is engine-exact. The prefix sum
# runs on the parallel bucket decomposition; the oracle is a plain
# cumulative window.
# ---------------------------------------------------------------------------


def weighted_median_price(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.ranks import parallel_prefix_sum

    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_extendedprice").alias("price"),
        F.col("l_quantity").alias("qty"),
    )
    cum = parallel_prefix_sum(
        li, "qty", "price", ["l_orderkey", "l_linenumber"],
        scale=2, out_col="cum",
    )
    w = li.agg(F.sum(F.col("qty").cast("decimal(30,2)")).alias("wtot"))
    return (
        cum.crossJoin(F.broadcast(w))  # 1-row side
        .filter(F.col("cum") * 2 >= F.col("wtot"))
        .agg(
            F.min(
                F.struct("price", "l_orderkey", "l_linenumber", "wtot")
            ).alias("s")
        )
        .select(
            F.round(F.col("s.price"), 2).alias("weighted_median_price"),
            F.round(F.col("s.wtot").cast("double"), 2).alias("total_qty"),
        )
    )


WEIGHTED_MEDIAN_SQL = """
WITH li AS (
    SELECT l_orderkey, l_linenumber, l_extendedprice AS price,
           l_quantity AS qty
    FROM lineitem
), cum AS (
    SELECT price, l_orderkey, l_linenumber,
           SUM(CAST(qty AS DECIMAL(30,2)))
               OVER (ORDER BY price, l_orderkey, l_linenumber
                     ROWS UNBOUNDED PRECEDING) AS cum
    FROM li
), w AS (
    SELECT SUM(CAST(qty AS DECIMAL(30,2))) AS wtot FROM li
), crossing AS (
    SELECT price FROM cum CROSS JOIN w
    WHERE cum * 2 >= wtot
    ORDER BY price, l_orderkey, l_linenumber LIMIT 1
)
SELECT ROUND(crossing.price, 2) AS weighted_median_price,
       ROUND(CAST(w.wtot AS DOUBLE), 2) AS total_qty
FROM crossing CROSS JOIN w
"""


# ---------------------------------------------------------------------------
# Exact interpolated quartiles. With n rows sorted ascending, the
# p/4 quantile sits at h = (n−1)·p/4: lo = 1 + (n−1)·p DIV 4 (1-based),
# hi = lo+1 when the fractional part f = ((n−1)·p) % 4 quarters is
# non-zero. value = (x_lo·(4−f) + x_hi·f) / 4 — the numerator is an
# exact DECIMAL combination, and /4 is performed in DOUBLE (exact:
# power of two) — so both engines produce the identical bit pattern
# with no rounding discipline needed beyond the final display round.
# The rank pass is bucket-parallel; ties need no tiebreak because
# only (i, value) pairs are read and the sorted multiset is unique.
# ---------------------------------------------------------------------------


def price_quartiles_exact(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.ranks import parallel_row_number

    li = load_table(spark, sf, "lineitem").select("l_extendedprice")
    ranked = parallel_row_number(
        li, "l_extendedprice", [], out_col="i"
    ).localCheckpoint()  # feeds the lo-join AND the hi-join
    n = li.agg(F.count(F.lit(1)).alias("n"))
    pos = (
        spark.range(1, 4)
        .select(F.col("id").alias("p"))
        .crossJoin(F.broadcast(n))  # 1-row side
        .select(
            "p",
            (F.lit(1) + F.expr("((n - 1) * p) DIV 4")).alias("lo"),
            F.expr("((n - 1) * p) % 4").alias("f"),
        )
        .select(
            "p", "lo", "f",
            F.when(F.col("f") > 0, F.col("lo") + 1)
            .otherwise(F.col("lo"))
            .alias("hi"),
        )
    )
    xlo = ranked.join(F.broadcast(pos), ranked.i == pos.lo).select(
        "p", "f", F.col("l_extendedprice").alias("xlo")
    )
    xhi = ranked.join(
        F.broadcast(pos.select("p", "hi")), ranked.i == F.col("hi")
    ).select("p", F.col("l_extendedprice").alias("xhi"))
    return (
        xlo.join(F.broadcast(xhi), "p")  # 3 rows by construction
        .select(
            F.col("p").cast("int").alias("quartile"),
            F.round(
                (
                    F.col("xlo").cast("decimal(30,2)") * (4 - F.col("f"))
                    + F.col("xhi").cast("decimal(30,2)") * F.col("f")
                ).cast("double")
                / 4.0,
                4,
            ).alias("value"),
        )
        .orderBy("quartile")
    )


PRICE_QUARTILES_SQL = """
WITH ranked AS (
    SELECT l_extendedprice,
           ROW_NUMBER() OVER (ORDER BY l_extendedprice) AS i
    FROM lineitem
), n AS (SELECT COUNT(*) AS n FROM lineitem),
pos AS (
    SELECT r.p AS p,
           1 + ((n.n - 1) * r.p) // 4 AS lo,
           ((n.n - 1) * r.p) % 4 AS f,
           CASE WHEN ((n.n - 1) * r.p) % 4 > 0
                THEN 2 + ((n.n - 1) * r.p) // 4
                ELSE 1 + ((n.n - 1) * r.p) // 4 END AS hi
    FROM range(1, 4) r(p) CROSS JOIN n
), xlo AS (
    SELECT pos.p, pos.f, ranked.l_extendedprice AS xlo
    FROM ranked JOIN pos ON ranked.i = pos.lo
), xhi AS (
    SELECT pos.p, ranked.l_extendedprice AS xhi
    FROM ranked JOIN pos ON ranked.i = pos.hi
)
SELECT CAST(xlo.p AS INT) AS quartile,
       ROUND(CAST(CAST(xlo AS DECIMAL(30,2)) * (4 - f)
                  + CAST(xhi AS DECIMAL(30,2)) * f AS DOUBLE) / 4.0,
             4) AS value
FROM xlo JOIN xhi ON xlo.p = xhi.p
ORDER BY quartile
"""


# ---------------------------------------------------------------------------
# Multi-quantile grid from ONE grouped rank pass: p10/p50/p90 per
# event type as exact ceil(p·n)-th order statistics — three
# percentiles priced at one rank (the two-pass MAD pattern shows the
# chained variant; this is the flat one). Elements, never
# interpolation, so cross-engine exactness is free; positions are
# pure integer ceilings. For tiny groups the positions can coincide —
# each conditional max then picks the same element, identically on
# both engines.
# ---------------------------------------------------------------------------


def value_percentile_grid_by_type(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.ranks import parallel_row_number

    e = load_events(spark, sf).select("event_type", "event_id", "value")
    r = parallel_row_number(
        e, "value", ["event_id"], part_cols=["event_type"], out_col="i"
    )
    nn = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    picked = (
        r.join(F.broadcast(nn), "event_type")  # one row per type
        .filter(
            (F.col("i") == F.expr("(n + 9) DIV 10"))
            | (F.col("i") == F.expr("(n + 1) DIV 2"))
            | (F.col("i") == F.expr("(9 * n + 9) DIV 10"))
        )
    )
    return (
        picked.groupBy("event_type")
        .agg(
            F.max(
                F.when(F.col("i") == F.expr("(n + 9) DIV 10"), F.col("value"))
            ).alias("p10"),
            F.max(
                F.when(F.col("i") == F.expr("(n + 1) DIV 2"), F.col("value"))
            ).alias("p50"),
            F.max(
                F.when(
                    F.col("i") == F.expr("(9 * n + 9) DIV 10"), F.col("value")
                )
            ).alias("p90"),
        )
        .orderBy("event_type")
    )


PERCENTILE_GRID_SQL = """
WITH r AS (
    SELECT event_type, value,
           ROW_NUMBER() OVER (PARTITION BY event_type
                              ORDER BY value, event_id) AS i,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM events
)
SELECT event_type,
       MAX(CASE WHEN i = (n + 9) // 10 THEN value END) AS p10,
       MAX(CASE WHEN i = (n + 1) // 2 THEN value END) AS p50,
       MAX(CASE WHEN i = (9 * n + 9) // 10 THEN value END) AS p90
FROM r
WHERE i = (n + 9) // 10 OR i = (n + 1) // 2 OR i = (9 * n + 9) // 10
GROUP BY event_type
ORDER BY event_type
"""
