"""Numeric statistics families: exact-decimal Pearson correlation and
equi-width histograms.

``F.corr`` (and DuckDB's ``corr``) accumulate doubles in partition
order, so their low bits are not reproducible cross-engine — the same
class of flake the module-wide DECIMAL-sum discipline exists to kill
(plans/analytics.py determinism rules). Correlation here is assembled
from five exact DECIMAL sums (Σx, Σy, Σxy, Σx², Σy²): per-row double
products are IEEE-identical in both engines, the decimal sums are
order-independent, and the final closed-form division/sqrt runs on
bit-identical inputs. One aggregation pass, no window, no shuffle
beyond the single partial/final agg — the same shape at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .columns import dec_sum, sigmoid_score


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


def hll_events_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable distinct-count sketches (Apache DataSketches HLL via
    the Spark 3.5+ ``hll_sketch_agg``/``hll_union_agg`` builtins): one
    fixed-size sketch per event day, then the per-day sketches MERGE
    into an all-days estimate without rescanning raw events — the
    pre-aggregation contract that answers "distinct users over any
    date range" at 100 TB from a sketch table millions of times
    smaller than the event log (one pass, fixed memory per group,
    associative merge — the same scale posture as percentile_approx).

    Oracle pattern = ``quantile_sketch_check``: sketch internals are
    not SQL-derivable, so each row emits the EXACT distinct count
    (DuckDB recomputes it independently) plus a tolerance predicate
    pinning the estimate within 5% of exact — comfortably above
    HLL's ~0.4% standard error at lgK=12 yet tight enough to catch
    any merge/registration bug. The exact COUNT(DISTINCT) side is
    verification-scoped; the sketch side is the production path."""
    from .analytics import load_events

    e = load_events(spark, sf).select(
        "user_id", F.expr("ts_us DIV 86400000000").alias("day_idx")
    )

    def check(df: DataFrame, scope) -> DataFrame:
        return df.select(
            scope.alias("scope"),
            F.col("n_exact").cast("long").alias("n_exact"),
            (
                F.abs(F.hll_sketch_estimate("sk") - F.col("n_exact"))
                <= 0.05 * F.col("n_exact")
            ).alias("within_5pct"),
        )

    daily = e.groupBy("day_idx").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").alias("n_exact"),
    )
    # merge path: union the per-day sketches (NOT the raw events);
    # both sides of the crossJoin are single rows
    total = daily.agg(F.hll_union_agg("sk").alias("sk")).crossJoin(
        e.agg(F.countDistinct("user_id").alias("n_exact"))
    )
    return (
        check(daily, F.col("day_idx").cast("string"))
        .unionByName(check(total, F.lit("ALL")))
        .orderBy("scope")
    )


HLL_EVENTS_SQL = """
WITH e AS (
  SELECT user_id, epoch_us(ts) // 86400000000 AS day_idx FROM events
),
d AS (
  SELECT CAST(day_idx AS VARCHAR) AS scope,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
         TRUE AS within_5pct
  FROM e GROUP BY day_idx
),
a AS (
  SELECT 'ALL' AS scope, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
         TRUE AS within_5pct
  FROM e
)
SELECT * FROM d UNION ALL SELECT * FROM a ORDER BY scope
"""


def token_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """Heavy-hitter terms via the ``approx_top_k`` sketch (Spark 4):
    one pass, mergeable partial state, memory bounded by
    maxItemsTracked instead of vocabulary size — the sketch answer to
    "top terms" that never materializes a full term dictionary per
    partition. The sketch returns its top-25, re-ranked and cut to 20
    under the deterministic (count desc, term) order.

    Oracle note: on THIS corpus the sketch is provably exact — the
    document vocabulary (31 distinct tokens, checked at all shipped
    SFs) is far below the 10k tracked items, so every count is a true
    count and DuckDB's exact top-20 must hash-match (the rank-20
    boundary count is unique at every SF, so the cut is stable). On a
    corpus with vocabulary above maxItemsTracked the counts become
    estimates and this entry would demote to rows-only — that
    precondition is the same checked-corpus discipline as
    frame_samples' ASCII assumption."""
    from ..functions.text import bpe_ish_tokens

    docs = load_table(spark, sf, "documents")
    sk = docs.select(
        F.explode(bpe_ish_tokens(F.col("text"))).alias("w")
    ).agg(F.expr("approx_top_k(w, 25)").alias("tk"))
    return (
        sk.select(F.explode("tk").alias("s"))
        .select(
            F.col("s.item").alias("term"),
            F.col("s.count").cast("long").alias("n"),
        )
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(20)
    )


TOKEN_HEAVY_HITTERS_SQL = r"""
WITH t AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '[^\w'']+'),
                x -> x != '')) AS term
  FROM documents
),
c AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS n FROM t GROUP BY term)
SELECT term, n FROM c ORDER BY n DESC, term LIMIT 20
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
    from .analytics import load_events

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
# Zipf rank-frequency fit over the token distribution: least-squares
# slope of ln(freq) on ln(rank) — the corpus-health statistic (natural
# text sits near −1; synthetic or deduplicated text drifts). Ranks are
# integers with a deterministic tie-break, per-term ln products are
# rounded once then decimal-summed, and the closed-form slope divides
# two such sums — the same fixed-operation-order discipline as the
# Pearson correlation above.
# ---------------------------------------------------------------------------

def token_zipf_fit(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.ranks import parallel_row_number

    docs = load_table(spark, sf, "documents")
    freqs = (
        docs.select(
            F.explode(F.split(F.lower(F.col("text")), r"[^\w']+")).alias("tok")
        )
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # rank = row_number over (freq DESC, tok ASC), vocabulary-sized but
    # computed with the bucket-parallel operator anyway — ORDER BY
    # -freq is the ASC image of the DESC sort, so the plain-window
    # DuckDB oracle is unchanged
    ranked = parallel_row_number(
        freqs.withColumn("_negfreq", (-F.col("freq")).cast("long")),
        "_negfreq",
        ["tok"],
        out_col="rnk",
    ).drop("_negfreq")
    t = ranked.select(
        F.round(F.log(F.col("rnk").cast("double")), 9).alias("x"),
        F.round(F.log(F.col("freq").cast("double")), 9).alias("y"),
    ).select(
        "x",
        "y",
        F.round(F.col("x") * F.col("y"), 9).alias("xy"),
        F.round(F.col("x") * F.col("x"), 9).alias("xx"),
    )
    agg = t.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(30,9)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(30,9)")).alias("sy"),
        F.sum(F.col("xy").cast("decimal(30,9)")).alias("sxy"),
        F.sum(F.col("xx").cast("decimal(30,9)")).alias("sxx"),
    )
    n, sx, sy, sxy, sxx = (
        F.col("n"),
        F.col("sx").cast("double"),
        F.col("sy").cast("double"),
        F.col("sxy").cast("double"),
        F.col("sxx").cast("double"),
    )
    return agg.select(
        n.cast("long").alias("n_tokens_distinct"),
        F.round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6).alias(
            "zipf_slope"
        ),
    )


TOKEN_ZIPF_SQL = r"""
WITH freqs AS (
    SELECT t AS tok, COUNT(*) AS freq FROM (
        SELECT unnest(list_filter(string_split_regex(lower(text), '[^\w'']+'),
                                  x -> x != '')) AS t
        FROM documents
    ) GROUP BY t
), ranked AS (
    SELECT freq, ROW_NUMBER() OVER (ORDER BY freq DESC, tok ASC) AS rnk
    FROM freqs
), t AS (
    SELECT ROUND(ln(CAST(rnk AS DOUBLE)), 9) AS x,
           ROUND(ln(CAST(freq AS DOUBLE)), 9) AS y
    FROM ranked
), t2 AS (
    SELECT x, y, ROUND(x * y, 9) AS xy, ROUND(x * x, 9) AS xx FROM t
), agg AS (
    SELECT COUNT(*) AS n,
           SUM(CAST(x AS DECIMAL(30,9))) AS sx,
           SUM(CAST(y AS DECIMAL(30,9))) AS sy,
           SUM(CAST(xy AS DECIMAL(30,9))) AS sxy,
           SUM(CAST(xx AS DECIMAL(30,9))) AS sxx
    FROM t2
)
SELECT CAST(n AS BIGINT) AS n_tokens_distinct,
       ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
             6) AS zipf_slope
FROM agg
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
    from .analytics import load_events

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
# Per-user linear trend of event value over time: the closed-form
# least-squares slope from five exact decimal moments per user — the
# price_discount_corr discipline applied per group (one aggregation
# pass over a user-keyed shuffle; no window, no iteration). Time is
# scaled to days so slope magnitudes are readable; users need ≥ 3
# observations and nonzero time variance for a defined slope.
# ---------------------------------------------------------------------------

def user_value_trend(spark: SparkSession, sf: str) -> DataFrame:
    from .analytics import load_events

    # t is an exact INTEGER day index (shifted by a constant to keep
    # squares small): integer moments sum exactly at scale 0, and the
    # one double product (t·v) stays far inside the range where
    # decimal casts are bit-identical cross-engine. A continuous
    # (fractional-day double) t at decimal scale 12 pushed t²·10¹²
    # past 2⁵³, where the engines' double→decimal conversions diverge.
    e = load_events(spark, sf).select(
        "user_id",
        (F.expr("ts_us DIV 86400000000") - 9000).alias("t"),
        "value",
    )
    agg = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("t").cast("decimal(38,0)")).alias("st"),
        F.sum(F.col("value").cast("decimal(30,6)")).alias("sv"),
        F.sum((F.col("t") * F.col("value")).cast("decimal(30,6)")).alias("stv"),
        F.sum((F.col("t") * F.col("t")).cast("decimal(38,0)")).alias("stt"),
    )
    n, st, sv, stv, stt = (
        F.col("n"),
        F.col("st").cast("double"),
        F.col("sv").cast("double"),
        F.col("stv").cast("double"),
        F.col("stt").cast("double"),
    )
    return (
        agg.filter(F.col("n") >= 3)
        .select(
            "user_id",
            n.cast("long").alias("n_events"),
            # floor-truncate, not ROUND: a raw double quotient can sit
            # on a decimal half-way tie where the engines' ROUND rules
            # diverge (hit once in 150k users at sf0.1); floor of the
            # same double has no tie cases
            (
                F.floor(
                    (n * stv - st * sv) / (n * stt - st * st) * 1e6
                )
                / 1e6
                + 0.0
            ).alias("trend_slope"),
        )
        .orderBy("user_id")
    )


USER_VALUE_TREND_SQL = """
WITH e AS (
    SELECT user_id, epoch_us(ts) // 86400000000 - 9000 AS t, value FROM events
), agg AS (
    SELECT user_id, COUNT(*) AS n,
           SUM(CAST(t AS DECIMAL(38,0))) AS st,
           SUM(CAST(value AS DECIMAL(30,6))) AS sv,
           SUM(CAST(t * value AS DECIMAL(30,6))) AS stv,
           SUM(CAST(t * t AS DECIMAL(38,0))) AS stt
    FROM e GROUP BY user_id
)
SELECT user_id, CAST(n AS BIGINT) AS n_events,
       FLOOR((n * CAST(stv AS DOUBLE) - CAST(st AS DOUBLE) * CAST(sv AS DOUBLE))
             / (n * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
             * 1e6) / 1e6 + 0.0 AS trend_slope
FROM agg
WHERE n >= 3
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# Pointwise mutual information over token co-occurrence — the
# association statistic behind collocation mining and embedding prep.
# Document-level co-occurrence on the distinct (doc, token) relation:
# pair space is vocabulary-bounded (≤ C(|V|,2)) however large the
# corpus, and PMI = log2(n12·N / (n1·n2)) evaluates exact integer
# products (< 2^53 ⇒ exact doubles) in one fixed operation order.
# ---------------------------------------------------------------------------

def token_pmi_pairs(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    dt = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), r"[^\w']+")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .distinct()
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    singles = dt.groupBy("tok").agg(F.count(F.lit(1)).alias("n_tok"))
    a, b = dt.alias("a"), dt.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.tok") < F.col("b.tok")),
        )
        .groupBy(F.col("a.tok").alias("tok_a"), F.col("b.tok").alias("tok_b"))
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= 5)
    )
    sa = singles.select(F.col("tok").alias("tok_a"), F.col("n_tok").alias("n_a"))
    sb = singles.select(F.col("tok").alias("tok_b"), F.col("n_tok").alias("n_b"))
    return (
        pairs.join(F.broadcast(sa), "tok_a")
        .join(F.broadcast(sb), "tok_b")
        .crossJoin(F.broadcast(n_docs))  # 1-row side
        .select(
            "tok_a",
            "tok_b",
            "n_both",
            F.round(
                F.log2(
                    F.col("n_both") * F.col("n_docs")
                    / (F.col("n_a") * F.col("n_b"))
                ),
                6,
            ).alias("pmi"),
        )
        .sortWithinPartitions("tok_a", "tok_b")
    )


TOKEN_PMI_SQL = r"""
WITH dt AS (
    SELECT DISTINCT doc_id, t AS tok FROM (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '[^\w'']+'),
                                  x -> x != '')) AS t
        FROM documents
    )
), n AS (SELECT COUNT(*) AS n_docs FROM documents),
singles AS (SELECT tok, COUNT(*) AS n_tok FROM dt GROUP BY tok),
pairs AS (
    SELECT a.tok AS tok_a, b.tok AS tok_b, COUNT(*) AS n_both
    FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.tok < b.tok
    GROUP BY tok_a, tok_b
    HAVING COUNT(*) >= 5
)
SELECT tok_a, tok_b, n_both,
       ROUND(log2(CAST(n_both AS DOUBLE) * n_docs / (sa.n_tok * sb.n_tok)), 6)
           AS pmi
FROM pairs
JOIN singles sa ON sa.tok = tok_a
JOIN singles sb ON sb.tok = tok_b
CROSS JOIN n
ORDER BY tok_a, tok_b
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


STATS_QUERIES = {
    "price_discount_corr": (price_discount_corr, PRICE_DISCOUNT_CORR_SQL),
    "price_histogram": (price_histogram, PRICE_HISTOGRAM_SQL),
    "hll_events_rollup": (hll_events_rollup, HLL_EVENTS_SQL),
    "token_heavy_hitters": (token_heavy_hitters, TOKEN_HEAVY_HITTERS_SQL),
    "embedding_pca_project": (embedding_pca_project, None),
    "pca_check": (pca_check, PCA_CHECK_SQL),
    "value_outliers_iqr": (value_outliers_iqr, VALUE_OUTLIERS_SQL),
    "priority_status_dependence": (priority_status_dependence, PRIORITY_STATUS_DEP_SQL),
    "suppkey_skew_report": (suppkey_skew_report, SUPPKEY_SKEW_SQL),
    "winsorized_price_stats": (winsorized_price_stats, WINSORIZED_PRICE_SQL),
    "token_zipf_fit": (token_zipf_fit, TOKEN_ZIPF_SQL),
    "token_pmi_pairs": (token_pmi_pairs, TOKEN_PMI_SQL),
    "price_decile_profile": (price_decile_profile, PRICE_DECILE_SQL),
    "fulfillment_latency_quantiles": (
        fulfillment_latency_quantiles,
        FULFILLMENT_LATENCY_SQL,
    ),
    "user_value_trend": (user_value_trend, USER_VALUE_TREND_SQL),
    "value_bootstrap_ci": (value_bootstrap_ci, VALUE_BOOTSTRAP_SQL),
    "embedding_model_scores": (embedding_model_scores, EMBEDDING_SCORES_SQL),
}
