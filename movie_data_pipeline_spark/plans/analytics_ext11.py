"""Eleventh registry batch (round 8): curation wordlists, growth
accounting, latency statistics, windowed funnels, and n-gram
novelty —

- blocklist term audit (wordlist filtering — the unglamorous but
  universal curation pass), counted array-side per document;
- cumulative unique users by day (the growth-accounting "running
  distinct", computed exactly WITHOUT a running COUNT(DISTINCT):
  first-seen day per user, then a calendar-bounded cumulative sum);
- median inter-event gap per type (exact order statistic over
  day-bounded lag gaps — composes the ACF window discipline with
  the parallel-rank order-statistic discipline);
- conversion funnel with an attribution window (click within 1h of
  first view, purchase within 24h of that click — the
  time-constrained variant of ext3's conversion_funnel);
- per-document trigram novelty (share of a doc's distinct 3-grams
  appearing in no other document — the memorization/novelty signal
  for training-data curation).

Same contract rules as plans/analytics.py: identical aliases both
engines, round-before-decimal-sum, single rounded divisions,
deterministic total orders, all-integer outputs where the metric
allows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .analytics import load_events


# ---------------------------------------------------------------------------
# Blocklist term audit: per blocklist word — how many documents
# contain it and how many total occurrences; plus the flagged-corpus
# rollup every filtering pipeline reports before dropping. Counts
# are computed ARRAY-SIDE (one narrow map; the blocklist is a plan
# literal), so nothing shuffles except the ≤|blocklist| aggregate
# rows. All-integer output.
# ---------------------------------------------------------------------------

_BLOCKLIST = ("slow", "error", "big")


def blocklist_term_hits(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions.text import bpe_ish_tokens

    docs = load_table(spark, sf, "documents")
    toks = docs.select("doc_id", bpe_ish_tokens(F.col("text")).alias("t"))
    # one scan: per-word occurrence columns, then an in-row stack —
    # not one unioned scan per blocklist word
    occ_cols = [
        F.size(F.expr(f"filter(t, x -> x = '{w}')")).alias(f"occ_{i}")
        for i, w in enumerate(_BLOCKLIST)
    ]
    stack_args = ", ".join(
        f"'{w}', occ_{i}" for i, w in enumerate(_BLOCKLIST)
    )
    u = toks.select(*occ_cols).select(
        F.expr(
            f"stack({len(_BLOCKLIST)}, {stack_args}) AS (term, occ)"
        )
    )
    return (
        u.groupBy("term")
        .agg(
            F.sum(F.when(F.col("occ") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_docs"),
            F.sum("occ").cast("long").alias("n_occurrences"),
        )
        .orderBy("term")
    )


_BLOCKLIST_SQL_ARMS = " UNION ALL ".join(
    f"SELECT doc_id, '{w}' AS term,"
    f" len(list_filter(t, x -> x = '{w}')) AS occ FROM toks"
    for w in _BLOCKLIST
)

BLOCKLIST_SQL = rf"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '[^\w'']+'),
                       x -> x != '') AS t
    FROM documents
), u AS (
    {_BLOCKLIST_SQL_ARMS}
)
SELECT term,
       CAST(SUM(CASE WHEN occ > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
       CAST(SUM(occ) AS BIGINT) AS n_occurrences
FROM u GROUP BY term ORDER BY term
"""


# ---------------------------------------------------------------------------
# Cumulative unique users by day — the growth curve. A running
# COUNT(DISTINCT) window is quadratic-ish state; the exact parallel
# formulation is: first-seen day per user (one groupBy MIN), daily
# new-user counts, then a cumulative sum over the ≤#days rows —
# calendar-bounded, the CUSUM discipline. All-integer output.
# ---------------------------------------------------------------------------


def cumulative_unique_users(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_events(spark, sf)
    first = (
        ev.select("user_id", F.expr("ts_sec DIV 86400").alias("day"))
        .groupBy("user_id")
        .agg(F.min("day").alias("day"))
    )
    daily_new = first.groupBy("day").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    # calendar-day grid (≤ a few thousand rows at any SF) — bounded,
    # deliberately single-partition (see constant_partition_key)
    from ..operators.ranks import constant_partition_key

    cum_w = (
        Window.partitionBy(constant_partition_key("day"))
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return daily_new.select(
        "day",
        F.col("new_users").cast("long").alias("new_users"),
        F.sum("new_users").over(cum_w).cast("long").alias("cum_users"),
    ).orderBy("day")


CUMULATIVE_USERS_SQL = """
WITH first AS (
    SELECT user_id,
           MIN(CAST(floor(epoch(ts)) AS BIGINT) // 86400) AS day
    FROM events GROUP BY user_id
), daily AS (
    SELECT day, COUNT(*) AS new_users FROM first GROUP BY day
)
SELECT day, CAST(new_users AS BIGINT) AS new_users,
       CAST(SUM(new_users) OVER (ORDER BY day
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_users
FROM daily ORDER BY day
"""


# ---------------------------------------------------------------------------
# Median inter-event gap per type: successive-event gaps (µs) inside
# (type, day) windows — day-bounded like the ACF lags, so the gap
# computation parallelizes and boundary gaps are excluded by
# construction identically on both engines — then the LOWER MEDIAN
# (k = (n+1) DIV 2-th order statistic, an exact integer element) per
# type via the parallel-rank decomposition. All-integer output.
# ---------------------------------------------------------------------------


def interarrival_p50_by_type(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.ranks import parallel_row_number

    e = load_events(spark, sf).select(
        "event_type",
        "ts_us",
        "event_id",
        F.expr("ts_sec DIV 86400").alias("day"),
    )
    w = Window.partitionBy("event_type", "day").orderBy("ts_us", "event_id")
    gaps = (
        e.withColumn("gap", F.col("ts_us") - F.lag("ts_us").over(w))
        .filter(F.col("gap").isNotNull())
        .select("event_type", "gap", "ts_us", "event_id")
    )
    ranked = parallel_row_number(
        gaps, "gap", ["ts_us", "event_id"], part_cols=["event_type"],
        out_col="i",
    )
    n = gaps.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return (
        ranked.join(n, "event_type")
        .filter(F.col("i") == F.expr("(n + 1) DIV 2"))
        .select(
            "event_type",
            F.col("n").cast("long").alias("n_gaps"),
            F.col("gap").cast("long").alias("p50_gap_us"),
        )
        .orderBy("event_type")
    )


INTERARRIVAL_SQL = """
WITH e AS (
    SELECT event_type, epoch_us(ts) AS ts_us, event_id,
           CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
    FROM events
), gaps AS (
    SELECT event_type, ts_us, event_id,
           ts_us - LAG(ts_us) OVER (PARTITION BY event_type, day
                                    ORDER BY ts_us, event_id) AS gap
    FROM e
), g AS (
    SELECT event_type, gap, ts_us, event_id FROM gaps WHERE gap IS NOT NULL
), ranked AS (
    SELECT event_type, gap,
           ROW_NUMBER() OVER (PARTITION BY event_type
                              ORDER BY gap, ts_us, event_id) AS i,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM g
)
SELECT event_type, CAST(n AS BIGINT) AS n_gaps,
       CAST(gap AS BIGINT) AS p50_gap_us
FROM ranked WHERE i = (n + 1) // 2
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Attribution-windowed funnel: click within 1 HOUR of the user's
# first view, purchase within 24 HOURS of that click — the
# time-constrained variant of ext3's conversion_funnel (same stage
# dataflow: filter → groupBy MIN → join the previous stage, tables
# shrinking monotonically, joins on the shuffle key user_id). The
# strict (>) lower bound and closed (≤) upper bound are the
# documented semantics, mirrored exactly. All-integer output.
# ---------------------------------------------------------------------------

_CLICK_WINDOW_US = 3_600 * 1_000_000
_PURCHASE_WINDOW_US = 86_400 * 1_000_000


def funnel_within_window(spark: SparkSession, sf: str) -> DataFrame:
    e = load_events(spark, sf).select("user_id", "event_type", "ts_us")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t1"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts_us") > F.col("t1"))
            & (F.col("ts_us") <= F.col("t1") + _CLICK_WINDOW_US)
        )
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t2"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts_us") > F.col("t2"))
            & (F.col("ts_us") <= F.col("t2") + _PURCHASE_WINDOW_US)
        )
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t3"))
    )

    def n(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("long").alias(name))

    return (
        n(v, "n_view")
        .crossJoin(F.broadcast(n(c, "n_click_1h")))  # 1-row sides
        .crossJoin(F.broadcast(n(p, "n_purchase_24h")))
    )


FUNNEL_WINDOW_SQL = f"""
WITH e AS (
    SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events
), v AS (
    SELECT user_id, MIN(ts_us) AS t1 FROM e
    WHERE event_type = 'view' GROUP BY user_id
), c AS (
    SELECT e.user_id, MIN(ts_us) AS t2 FROM e JOIN v USING (user_id)
    WHERE event_type = 'click'
      AND ts_us > t1 AND ts_us <= t1 + {_CLICK_WINDOW_US}
    GROUP BY e.user_id
), p AS (
    SELECT e.user_id, MIN(ts_us) AS t3 FROM e JOIN c USING (user_id)
    WHERE event_type = 'purchase'
      AND ts_us > t2 AND ts_us <= t2 + {_PURCHASE_WINDOW_US}
    GROUP BY e.user_id
)
SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_view,
       CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_click_1h,
       CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_purchase_24h
"""


# ---------------------------------------------------------------------------
# Per-document trigram novelty: the share of a doc's DISTINCT
# 3-grams that appear in no other document — high novelty = unique
# content worth keeping, low = boilerplate/memorized. Dataflow:
# distinct (doc, trigram) → per-trigram doc frequency → join back →
# per-doc share. The trigram rides the shuffle as one md5-derived
# 64-bit hash (engine-identical; collision odds ~n²/2⁶⁴ are
# negligible and identical for both engines since BOTH hash the
# same way — the compare stays fair). Share divides once, rounds
# once. Top-20 by (novelty, doc_id) on the ROUNDED value.
# ---------------------------------------------------------------------------

_NOVELTY_K = 20


def doc_trigram_novelty(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions.text import bpe_ish_tokens

    docs = load_table(spark, sf, "documents")
    tri = (
        docs.select("doc_id", bpe_ish_tokens(F.col("text")).alias("t"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 2),"
                    " i -> concat(t[i - 1], ' ', t[i], ' ', t[i + 1]))"
                )
            ).alias("g"),
        )
        .select(
            "doc_id",
            F.unhex(F.substring(F.md5("g"), 1, 16)).alias("gh"),
        )
        .distinct()
    )
    df_counts = tri.groupBy("gh").agg(F.count(F.lit(1)).alias("df"))
    per_doc = (
        tri.join(df_counts, "gh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias("n_unique"),
        )
    )
    return (
        per_doc.select(
            "doc_id",
            F.col("n_grams").cast("long").alias("n_grams"),
            F.col("n_unique").cast("long").alias("n_unique"),
            F.round(F.col("n_unique") / F.col("n_grams"), 6).alias(
                "novelty"
            ),
        )
        .orderBy(F.desc("novelty"), F.asc("doc_id"))
        .limit(_NOVELTY_K)
    )


NOVELTY_SQL = rf"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '[^\w'']+'),
                       x -> x != '') AS t
    FROM documents
), tri AS (
    SELECT DISTINCT doc_id,
           unnest(list_transform(range(1, len(t) - 1),
                  i -> substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]),
                              1, 16))) AS gh
    FROM toks
), dfc AS (
    SELECT gh, COUNT(*) AS df FROM tri GROUP BY gh
), per_doc AS (
    SELECT doc_id, COUNT(*) AS n_grams,
           SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS n_unique
    FROM tri JOIN dfc USING (gh)
    GROUP BY doc_id
)
SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
       CAST(n_unique AS BIGINT) AS n_unique,
       ROUND(CAST(n_unique AS DOUBLE) / n_grams, 6) AS novelty
FROM per_doc
ORDER BY novelty DESC, doc_id ASC
LIMIT {_NOVELTY_K}
"""


EXT11_QUERIES = {
    "blocklist_term_hits": (blocklist_term_hits, BLOCKLIST_SQL),
    "cumulative_unique_users": (cumulative_unique_users, CUMULATIVE_USERS_SQL),
    "interarrival_p50_by_type": (interarrival_p50_by_type, INTERARRIVAL_SQL),
    "funnel_within_window": (funnel_within_window, FUNNEL_WINDOW_SQL),
    "doc_trigram_novelty": (doc_trigram_novelty, NOVELTY_SQL),
}
