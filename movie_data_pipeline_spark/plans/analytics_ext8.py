"""Eighth registry batch (round 8): statistics and curation staples
over the documents, events, and sales facts —

- bigram collocation mining by pointwise mutual information over the
  document corpus (Church & Hanks, CL'90);
- per-language token Shannon entropy + type-token ratio (the lexical
  -diversity signals corpus-curation pipelines threshold on);
- Benford first-significant-digit audit of order totals (the
  classic fabricated-data screen), digit extracted by exact integer
  string arithmetic so no runtime log10 can straddle a power of 10;
- per-type autocorrelation (lags 1-3) of the event value series —
  day-bounded so the lag windows parallelize, boundary pairs
  excluded by construction on BOTH engines;
- Gini coefficient of customer spend concentration via the exact
  rank formulation G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n, with the global
  row_number computed by the score_auc bucket decomposition instead
  of a single-partition window.

Same contract rules as plans/analytics.py: identical column aliases
in the DataFrame plan and the DuckDB oracle SQL, per-term rounding
BEFORE exact decimal sums, one division rounded once, deterministic
total-order sort keys, all-integer outputs wherever the metric
allows (cohort/funnel rows hash exactly with no float discipline at
all).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from ..operators.ranks import constant_partition_key
from .analytics import load_events
from .columns import dec_sum


# ---------------------------------------------------------------------------
# Bigram collocations by PMI (Church & Hanks, CL'90): over adjacent
# token pairs, PMI(a,b) = ln(c_ab·N / (c_a·c_b)) with all counts
# drawn from the SAME sample space (bigram positions: c_a = bigrams
# with first word a, c_b = bigrams with second word b, N = total
# bigrams) so the probabilities are a coherent bigram model.
#
# Cross-engine float discipline: counts are exact ints < 2⁵³, the
# numerator and denominator are each ONE IEEE multiply of exact
# doubles, the quotient is ONE division, and the single ln rounds to
# 6 — the charlm log discipline (a last-ulp ln divergence would need
# to land within 5e-7 of a rounding boundary to flip the hash; the
# rank cut uses the ROUNDED score with (w1,w2) tie-breaks, so the
# cut itself is ULP-immune).
#
# Scale posture: bigrams are materialized array-side (transform over
# the token array — no posexplode self-join), collapse immediately
# to per-pair counts (map-side combinable), and the two marginal
# joins are dimension-sized (vocab), left to AQE. The min-count
# filter applies BEFORE the marginal joins.
# ---------------------------------------------------------------------------

_PMI_MIN_COUNT = 5
_PMI_K = 30


def pmi_bigrams_frame(docs: DataFrame) -> DataFrame:
    from ..functions.text import bpe_ish_tokens

    # size(t) >= 2 guard (mirrors the _SPAN_L guard in analytics_ext6):
    # slice(t, 1, size(t) - 1) throws on a zero-token doc (negative
    # slice length) where the oracle's range() just yields no rows.
    toks = docs.select(bpe_ish_tokens(F.col("text")).alias("t")).filter(
        F.size("t") >= 2
    )
    pairs = toks.select(
        F.explode(
            F.expr(
                "transform(slice(t, 1, size(t) - 1),"
                " (x, i) -> struct(x AS w1, t[i + 1] AS w2))"
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    cab = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cab"))
    ca = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("ca"))
    cb = pairs.groupBy("w2").agg(F.count(F.lit(1)).alias("cb"))
    n = pairs.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        cab.filter(F.col("cab") >= _PMI_MIN_COUNT)
        .join(ca, "w1")
        .join(cb, "w2")
        .crossJoin(F.broadcast(n))  # 1-row side
        .select(
            "w1",
            "w2",
            F.col("cab").cast("long").alias("cab"),
            F.round(
                F.log(
                    (F.col("cab").cast("double") * F.col("n"))
                    / (F.col("ca").cast("double") * F.col("cb"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2")).limit(
        _PMI_K
    )


def token_pmi_bigrams(spark: SparkSession, sf: str) -> DataFrame:
    return pmi_bigrams_frame(load_table(spark, sf, "documents"))


PMI_SQL = rf"""
WITH toks AS (
    SELECT list_filter(string_split_regex(lower(text), '[^\w'']+'),
                       x -> x != '') AS t
    FROM documents
), pairs AS (
    SELECT s.w1 AS w1, s.w2 AS w2 FROM (
        SELECT unnest(list_transform(range(1, len(t)),
                                     i -> {{'w1': t[i], 'w2': t[i+1]}})) AS s
        FROM toks)
), cab AS (
    SELECT w1, w2, COUNT(*) AS cab FROM pairs GROUP BY w1, w2
    HAVING COUNT(*) >= {_PMI_MIN_COUNT}
), ca AS (
    SELECT w1, COUNT(*) AS ca FROM pairs GROUP BY w1
), cb AS (
    SELECT w2, COUNT(*) AS cb FROM pairs GROUP BY w2
), n AS (
    SELECT COUNT(*) AS n FROM pairs
)
SELECT w1, w2, CAST(cab AS BIGINT) AS cab,
       ROUND(ln((CAST(cab AS DOUBLE) * n) / (CAST(ca AS DOUBLE) * cb)), 6)
           AS pmi
FROM cab JOIN ca USING (w1) JOIN cb USING (w2) CROSS JOIN n
ORDER BY pmi DESC, w1 ASC, w2 ASC
LIMIT {_PMI_K}
"""


# ---------------------------------------------------------------------------
# Per-type autocorrelation of the event value series, lags 1-3,
# DAY-BOUNDED: lag pairs are formed inside (event_type, epoch-day)
# windows ordered by (ts_us, event_id), so pairs straddling a day
# boundary are excluded — by construction, identically, on both
# engines. This is the decomposition that makes the statistic
# parallel: a per-type global ordering would be one reducer per
# type (5 partitions for the whole corpus); per-(type, day) windows
# are bounded by daily volume and scale with the calendar.
#
# Float discipline: μ per type = decimal sum / count (one division);
# deviations d = value − μ are IEEE subtractions of identical
# doubles; each lag product d_t·d_{t−k} and each d_t² is rounded to
# 6 BEFORE the exact decimal sum; the final acf divides once and
# rounds once. The denominator Σd² spans ALL rows of the type (the
# standard ACF normalizer), not just paired rows.
# ---------------------------------------------------------------------------

_ACF_LAGS = (1, 2, 3)


def value_acf_frame(ev: DataFrame) -> DataFrame:
    e = ev.select(
        "event_type",
        "value",
        "ts_us",
        "event_id",
        F.expr("ts_sec DIV 86400").alias("day"),
    )
    mu = e.groupBy("event_type").agg(
        (dec_sum(F.col("value"), 6).cast("double") / F.count(F.lit(1))).alias(
            "mu"
        )
    )
    # per-type mean table: one row per distinct type — dimension-sized
    # but not bounded by construction, so no hint (AQE picks)
    d = e.join(mu, "event_type").withColumn("d", F.col("value") - F.col("mu"))
    w = Window.partitionBy("event_type", "day").orderBy("ts_us", "event_id")
    lagged = d.select(
        "event_type",
        F.round(F.col("d") * F.col("d"), 6).alias("dd"),
        *[
            F.round(F.col("d") * F.lag("d", k).over(w), 6).alias(f"p{k}")
            for k in _ACF_LAGS
        ],
    )
    agg = lagged.groupBy("event_type").agg(
        dec_sum(F.col("dd"), 6).cast("double").alias("den"),
        *[
            dec_sum(F.col(f"p{k}"), 6).cast("double").alias(f"num{k}")
            for k in _ACF_LAGS
        ],
    )
    stacked = agg.select(
        "event_type",
        F.expr(
            "stack({n}, {args}) AS (lag, num)".format(
                n=len(_ACF_LAGS),
                args=", ".join(f"{k}, num{k}" for k in _ACF_LAGS),
            )
        ),
        "den",
    )
    return stacked.select(
        "event_type",
        F.col("lag").cast("int").alias("lag"),
        F.round(F.col("num") / F.col("den"), 6).alias("acf"),
    ).orderBy("event_type", "lag")


def value_acf_by_type(spark: SparkSession, sf: str) -> DataFrame:
    return value_acf_frame(load_events(spark, sf))


_ACF_LAG_TERMS = ", ".join(
    f"ROUND(d * LAG(d, {k}) OVER w, 6) AS p{k}" for k in _ACF_LAGS
)
_ACF_NUM_SUMS = ", ".join(
    f"CAST(SUM(CAST(p{k} AS DECIMAL(30,6))) AS DOUBLE) AS num{k}"
    for k in _ACF_LAGS
)
_ACF_ARMS = " UNION ALL ".join(
    f"SELECT event_type, {k} AS lag, ROUND(num{k} / den, 6) AS acf FROM agg"
    for k in _ACF_LAGS
)

ACF_SQL = f"""
WITH e AS (
    SELECT event_type, value, epoch_us(ts) AS ts_us, event_id,
           CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
    FROM events
), mu AS (
    SELECT event_type,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*)
               AS mu
    FROM e GROUP BY event_type
), d AS (
    SELECT e.event_type, e.day, e.ts_us, e.event_id, e.value - mu AS d
    FROM e JOIN mu USING (event_type)
), lagged AS (
    SELECT event_type, ROUND(d * d, 6) AS dd, {_ACF_LAG_TERMS}
    FROM d
    WINDOW w AS (PARTITION BY event_type, day ORDER BY ts_us, event_id)
), agg AS (
    SELECT event_type,
           CAST(SUM(CAST(dd AS DECIMAL(30,6))) AS DOUBLE) AS den,
           {_ACF_NUM_SUMS}
    FROM lagged GROUP BY event_type
)
SELECT event_type, CAST(lag AS INT) AS lag, acf
FROM ({_ACF_ARMS})
ORDER BY event_type, lag
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
# Per-language lexical diversity: token Shannon entropy (nats) and
# type-token ratio — the two signals curation pipelines threshold to
# drop template/boilerplate-heavy slices. H = −Σ p·ln(p) over the
# language's token distribution; TTR = |vocab| / N.
#
# Float discipline (the charlm log pattern): p = c/N is one division
# of exact ints, each p·ln(p) term is rounded to 6 BEFORE the exact
# decimal sum, and TTR divides once and rounds once. The per-term
# ln is the only cross-engine ulp exposure — same accepted risk as
# charlm_doc_scores, hash-green across SFs for four rounds.
#
# Scale posture: explode collapses immediately to per-(lang, token)
# counts (map-side combinable); the per-lang totals join is
# dimension-sized (one row per language, not bounded by
# construction — no hint, AQE picks).
# ---------------------------------------------------------------------------


def token_entropy_frame(docs: DataFrame) -> DataFrame:
    from ..functions.text import bpe_ish_tokens

    tok = docs.select(
        "lang", F.explode(bpe_ish_tokens(F.col("text"))).alias("token")
    )
    per = tok.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("c"))
    tot = per.groupBy("lang").agg(
        F.sum("c").alias("n_tokens"), F.count(F.lit(1)).alias("n_types")
    )
    terms = per.join(tot, "lang").select(
        "lang",
        F.round(
            (F.col("c") / F.col("n_tokens"))
            * F.log(F.col("c") / F.col("n_tokens")),
            6,
        ).alias("plogp"),
    )
    return (
        terms.groupBy("lang")
        .agg((-dec_sum(F.col("plogp"), 6)).cast("double").alias("entropy"))
        .join(tot, "lang")
        .select(
            "lang",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_types").cast("long").alias("n_types"),
            F.round("entropy", 6).alias("entropy"),
            F.round(F.col("n_types") / F.col("n_tokens"), 6).alias("ttr"),
        )
        .orderBy("lang")
    )


def token_entropy_by_lang(spark: SparkSession, sf: str) -> DataFrame:
    return token_entropy_frame(load_table(spark, sf, "documents"))


ENTROPY_SQL = r"""
WITH tok AS (
    SELECT lang, unnest(list_filter(
               string_split_regex(lower(text), '[^\w'']+'),
               x -> x != '')) AS token
    FROM documents
), per AS (
    SELECT lang, token, COUNT(*) AS c FROM tok GROUP BY lang, token
), tot AS (
    SELECT lang, SUM(c) AS n_tokens, COUNT(*) AS n_types
    FROM per GROUP BY lang
), terms AS (
    SELECT per.lang,
           ROUND((c / n_tokens) * ln(c / n_tokens), 6) AS plogp
    FROM per JOIN tot USING (lang)
)
SELECT lang,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_types AS BIGINT) AS n_types,
       ROUND(CAST(-SUM(CAST(plogp AS DECIMAL(30,6))) AS DOUBLE), 6)
           AS entropy,
       ROUND(CAST(n_types AS DOUBLE) / n_tokens, 6) AS ttr
FROM terms JOIN tot USING (lang)
GROUP BY lang, n_tokens, n_types
ORDER BY lang
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


EXT8_QUERIES = {
    "token_pmi_bigrams": (token_pmi_bigrams, PMI_SQL),
    "value_acf_by_type": (value_acf_by_type, ACF_SQL),
    "customer_spend_gini": (customer_spend_gini, GINI_SQL),
    "token_entropy_by_lang": (token_entropy_by_lang, ENTROPY_SQL),
    "benford_order_totals": (benford_order_totals, BENFORD_SQL),
}
