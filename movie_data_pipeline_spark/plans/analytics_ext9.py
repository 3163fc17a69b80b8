"""Ninth registry batch (round 8): string fuzzy matching, ranking
comparison, and regression/changepoint statistics —

- Levenshtein fuzzy self-join over part names via SymSpell deletion
  neighborhoods (operators/fuzzy.py) — candidate generation is
  recall-exact for the distance bound, the DP verify makes it
  precision-exact, and the O(n²) oracle proves both every round;
- rank-biased overlap (Webber et al., TOIS'10) between the lexical
  and vector rankings that hybrid_search_rrf fuses — the
  top-weighted list-similarity measure, with p-power weights as
  Python literals in both plans;
- per-type OLS trend of event value over time (closed-form simple
  regression on exactly-summed moments);
- per-type CUSUM changepoint over DAILY mean values — the page-one
  changepoint statistic, made parallel by aggregating to the
  calendar first (the per-type cumulative window runs over ≤#days
  rows, bounded by the calendar, not the corpus);
- day-of-week uniformity χ² per event type (epoch-day mod 7 buckets,
  so no engine/locale weekday function is in the hash path).

Same contract rules as plans/analytics.py: identical aliases both
engines, per-term rounding before exact decimal sums, divisions
performed once in a fixed order, deterministic tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .analytics import load_events
from .columns import dec_sum


# ---------------------------------------------------------------------------
# Fuzzy part-name pairs (Levenshtein ≤ 2) with per-name part counts.
# The Spark side is the SymSpell deletion-neighborhood join
# (operators/fuzzy.py — depth-2 neighborhoods, exact-recall
# candidates, DP verify); the oracle is the O(|names|²) definitional
# join, feasible because part names are a bounded vocabulary (the
# name dimension, not the part fact). The hash match proves the
# neighborhood pruning lossless every round.
# ---------------------------------------------------------------------------


def part_name_fuzzy_pairs(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.fuzzy import fuzzy_self_join

    part = load_table(spark, sf, "part")
    names = part.select(F.col("p_name").alias("name"))
    counts = part.groupBy(F.col("p_name").alias("name")).agg(
        F.count(F.lit(1)).alias("n")
    )
    pairs = fuzzy_self_join(names, max_dist=2)
    return (
        pairs.join(counts.withColumnsRenamed({"name": "name_a", "n": "n_a"}), "name_a")
        .join(counts.withColumnsRenamed({"name": "name_b", "n": "n_b"}), "name_b")
        .select(
            "name_a",
            "name_b",
            "dist",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
        )
        .orderBy("name_a", "name_b")
    )


FUZZY_PAIRS_SQL = """
WITH names AS (
    SELECT p_name AS name, COUNT(*) AS n FROM part GROUP BY p_name
)
SELECT a.name AS name_a, b.name AS name_b,
       CAST(levenshtein(a.name, b.name) AS INT) AS dist,
       CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b
FROM names a JOIN names b ON a.name < b.name
WHERE levenshtein(a.name, b.name) <= 2
ORDER BY name_a, name_b
"""


# ---------------------------------------------------------------------------
# Rank-biased overlap at depth D (Webber/Moffat/Zobel, TOIS'10,
# eq. 5 truncated): RBO@D = (1−p) Σ_{d=1..D} p^{d−1} · X_d / d,
# where X_d = |A₁..d ∩ B₁..d|. A pair present in both lists at ranks
# (r_a, r_b) contributes to every depth d ≥ max(r_a, r_b), so X_d is
# one ≤|pairs|×D bounded join against a D-row literal depth frame —
# nothing here scales with the corpus (the lists are top-k-bounded
# by construction, like the RRF fusion).
#
# Cross-engine exactness: the p^{d−1} weights are Python double
# literals embedded in BOTH plans (p**(d−1) is repeated
# multiplication neither engine is guaranteed to reproduce
# bit-identically); each depth term is one division and one multiply
# rounded to 9 before the exact decimal sum (9, not 6: terms are
# O(p^49) ≈ 0.006 and 6 digits would quantize away the tail).
# ---------------------------------------------------------------------------

_RBO_P = 0.9


def ranking_rbo(spark: SparkSession, sf: str) -> DataFrame:
    from .analytics_ext7 import _RRF_LIST, rank_lists

    lexr, vecr = rank_lists(spark, sf)
    pairs = lexr.join(vecr, "doc_id").select(
        F.greatest("r_lex", "r_vec").alias("m")
    )
    depths = spark.range(1, _RRF_LIST + 1).select(
        F.col("id").cast("int").alias("d")
    )
    weight = F.lit(0.0)
    for d in range(1, _RRF_LIST + 1):
        weight = F.when(F.col("d") == d, F.lit(_RBO_P ** (d - 1))).otherwise(
            weight
        )
    xd = (
        depths.join(F.broadcast(pairs), F.col("m") <= F.col("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    terms = xd.select(
        "d", F.round(weight * (F.col("x") / F.col("d")), 9).alias("term")
    )
    return terms.agg(
        F.lit(_RRF_LIST).cast("int").alias("depth"),
        F.round(
            (1.0 - _RBO_P) * dec_sum(F.col("term"), 9).cast("double"), 6
        ).alias("rbo"),
    )


_RBO_WEIGHT_CASE = "CASE d " + " ".join(
    f"WHEN {d} THEN CAST({(_RBO_P ** (d - 1))!r} AS DOUBLE)"
    for d in range(1, 51)
) + " ELSE CAST(0.0 AS DOUBLE) END"


def _rbo_sql() -> str:
    from .analytics_ext7 import _RRF_LIST, RANKLISTS_CTE

    return RANKLISTS_CTE + f"""
, pairs AS (
    SELECT GREATEST(r_lex, r_vec) AS m
    FROM lexr JOIN vecr ON lexr.doc_id = vecr.doc_id
), depths AS (
    SELECT unnest(range(1, {_RRF_LIST + 1})) AS d
), xd AS (
    SELECT d, COUNT(*) AS x
    FROM depths JOIN pairs ON m <= d
    GROUP BY d
), terms AS (
    SELECT ROUND(({_RBO_WEIGHT_CASE}) * (CAST(x AS DOUBLE) / d), 9) AS term
    FROM xd
)
SELECT CAST({_RRF_LIST} AS INT) AS depth,
       ROUND({1.0 - _RBO_P!r} * CAST(SUM(CAST(term AS DECIMAL(30,9)))
                                     AS DOUBLE), 6) AS rbo
FROM terms
"""


# ---------------------------------------------------------------------------
# Per-type OLS trend: value regressed on seconds-since-first-event,
# via the closed-form moments  slope = (n·Σxy − Σx·Σy) /
# (n·Σx² − (Σx)²),  intercept = (Σy − slope·Σx)/n. x is the exact
# integer ts_sec − min(ts_sec) (per type), so Σx and Σx² are
# lossless decimal sums of exact ints; Σy and Σxy use the round-
# before-decimal-sum discipline. The slope is reported per DAY
# (×86400) so the rounded output isn't quantized to zero. One scan,
# two grouped aggregations, a per-type (dimension-sized, un-hinted)
# join — no windows at all.
# ---------------------------------------------------------------------------


def value_trend_frame(ev: DataFrame) -> DataFrame:
    e = ev.select("event_type", "value", "ts_sec")
    t0 = e.groupBy("event_type").agg(F.min("ts_sec").alias("t0"))
    xy = e.join(t0, "event_type").select(
        "event_type",
        (F.col("ts_sec") - F.col("t0")).alias("x"),
        F.col("value").alias("y"),
    )
    m = xy.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).cast("double").alias("sx"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)"))
        .cast("double")
        .alias("sxx"),
        dec_sum(F.col("y"), 6).cast("double").alias("sy"),
        F.sum(F.round(F.col("x") * F.col("y"), 4).cast("decimal(38,4)"))
        .cast("double")
        .alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return m.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round(slope * 86400.0, 6).alias("slope_per_day"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
    ).orderBy("event_type")


def value_trend_ols(spark: SparkSession, sf: str) -> DataFrame:
    return value_trend_frame(load_events(spark, sf))


TREND_SQL = """
WITH e AS (
    SELECT event_type, value,
           CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
    FROM events
), t0 AS (
    SELECT event_type, MIN(ts_sec) AS t0 FROM e GROUP BY event_type
), xy AS (
    SELECT e.event_type, e.ts_sec - t0 AS x, e.value AS y
    FROM e JOIN t0 USING (event_type)
), m AS (
    SELECT event_type,
           CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
           CAST(SUM(CAST(y AS DECIMAL(30,6))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(ROUND(x * y, 4) AS DECIMAL(38,4))) AS DOUBLE)
               AS sxy
    FROM xy GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx) * 86400.0, 6)
           AS slope_per_day,
       ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
           AS intercept
FROM m ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# CUSUM changepoint per event type, over DAILY mean values: with
# daily means x̄₁..x̄_T and their grand mean μ, Sₜ = Σ_{i≤t}(x̄ᵢ − μ);
# the changepoint estimate is argmax |Sₜ| (Page '54 / Pettitt-style
# location). The corpus-sized work is one (type, day) aggregation;
# the cumulative window then runs over ≤#days rows per type —
# bounded by the calendar, which is the decomposition that keeps the
# inherently sequential statistic scalable (same argument as the
# incremental daily aggregates).
#
# Exactness: x̄ rounds to 6 after its single division; μ is a decimal
# sum of those rounded means over one division; deviations round to
# 6 and accumulate in an exact decimal cumulative window, so Sₜ and
# the argmax tie-break (|S| desc, day asc) are engine-identical.
# ---------------------------------------------------------------------------


def value_cusum_frame(ev: DataFrame) -> DataFrame:
    e = ev.select(
        "event_type", "value", F.expr("ts_sec DIV 86400").alias("day")
    )
    daily = e.groupBy("event_type", "day").agg(
        F.round(
            dec_sum(F.col("value"), 6).cast("double") / F.count(F.lit(1)), 6
        ).alias("xbar")
    )
    mu = daily.groupBy("event_type").agg(
        (dec_sum(F.col("xbar"), 6).cast("double") / F.count(F.lit(1))).alias(
            "mu"
        ),
        F.count(F.lit(1)).alias("n_days"),
    )
    cum_w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    s = (
        daily.join(mu, "event_type")
        .withColumn(
            "s",
            F.sum(
                F.round(F.col("xbar") - F.col("mu"), 6).cast("decimal(30,6)")
            ).over(cum_w),
        )
        .select("event_type", "day", "n_days", F.abs("s").alias("abs_s"))
    )
    pick = Window.partitionBy("event_type").orderBy(
        F.desc("abs_s"), F.asc("day")
    )
    return (
        s.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day").alias("cusum_day"),
            F.col("n_days").cast("long").alias("n_days"),
            F.round(F.col("abs_s").cast("double"), 6).alias("max_abs_s"),
        )
        .orderBy("event_type")
    )


def value_cusum_changepoint(spark: SparkSession, sf: str) -> DataFrame:
    return value_cusum_frame(load_events(spark, sf))


CUSUM_SQL = """
WITH e AS (
    SELECT event_type, value,
           CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
    FROM events
), daily AS (
    SELECT event_type, day,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE)
                 / COUNT(*), 6) AS xbar
    FROM e GROUP BY event_type, day
), mu AS (
    SELECT event_type,
           CAST(SUM(CAST(xbar AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*)
               AS mu,
           COUNT(*) AS n_days
    FROM daily GROUP BY event_type
), s AS (
    SELECT d.event_type, d.day, m.n_days,
           ABS(SUM(CAST(ROUND(d.xbar - m.mu, 6) AS DECIMAL(30,6)))
               OVER (PARTITION BY d.event_type ORDER BY d.day
                     ROWS UNBOUNDED PRECEDING)) AS abs_s
    FROM daily d JOIN mu m USING (event_type)
), pick AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                 ORDER BY abs_s DESC, day ASC) AS rn
    FROM s
)
SELECT event_type, day AS cusum_day, CAST(n_days AS BIGINT) AS n_days,
       ROUND(CAST(abs_s AS DOUBLE), 6) AS max_abs_s
FROM pick WHERE rn = 1 ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Day-of-week uniformity χ² per event type. The weekday bucket is
# epoch-day mod 7 (0 = Thursday) — a pure integer function, so no
# engine weekday/locale semantics can enter the hash. χ² =
# Σ_buckets (o − e)²/e with e = n/7; each term rounds to 6 before
# the exact decimal sum. One scan → ≤ 7·|types| rows.
# ---------------------------------------------------------------------------


def dow_uniformity_frame(ev: DataFrame) -> DataFrame:
    e = ev.select(
        "event_type", (F.expr("ts_sec DIV 86400") % 7).alias("dow")
    )
    per = e.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).alias("o")
    )
    tot = per.groupBy("event_type").agg(F.sum("o").alias("n"))
    terms = per.join(tot, "event_type").select(
        "event_type",
        "n",
        F.round(
            (F.col("o") - F.col("n") / 7.0)
            * (F.col("o") - F.col("n") / 7.0)
            / (F.col("n") / 7.0),
            6,
        ).alias("term"),
    )
    return (
        terms.groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n"),
            F.round(dec_sum(F.col("term"), 6).cast("double"), 6).alias("chi2"),
        )
        .orderBy("event_type")
    )


def event_dow_uniformity(spark: SparkSession, sf: str) -> DataFrame:
    return dow_uniformity_frame(load_events(spark, sf))


DOW_SQL = """
WITH e AS (
    SELECT event_type,
           (CAST(floor(epoch(ts)) AS BIGINT) // 86400) % 7 AS dow
    FROM events
), per AS (
    SELECT event_type, dow, COUNT(*) AS o FROM e GROUP BY event_type, dow
), tot AS (
    SELECT event_type, SUM(o) AS n FROM per GROUP BY event_type
), terms AS (
    SELECT per.event_type, n,
           ROUND((o - n / 7.0) * (o - n / 7.0) / (n / 7.0), 6) AS term
    FROM per JOIN tot USING (event_type)
)
SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
       ROUND(CAST(SUM(CAST(term AS DECIMAL(30,6))) AS DOUBLE), 6) AS chi2
FROM terms GROUP BY event_type ORDER BY event_type
"""


EXT9_QUERIES = {
    "part_name_fuzzy_pairs": (part_name_fuzzy_pairs, FUZZY_PAIRS_SQL),
    "ranking_rbo": (ranking_rbo, _rbo_sql()),
    "value_trend_ols": (value_trend_ols, TREND_SQL),
    "value_cusum_changepoint": (value_cusum_changepoint, CUSUM_SQL),
    "event_dow_uniformity": (event_dow_uniformity, DOW_SQL),
}
