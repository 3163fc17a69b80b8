"""Event-stream and time-series plans over the ``events`` table: windows
and deltas, sessionization, funnels (with and without attribution
windows), cohort retention, SCD2 state, JSON properties, growth
accounting (cumulative and trailing-7-day active users, new vs
returning), as-of attribution, gap filling with LOCF, interval joins,
and per-type series statistics (rolling medians, EWMA,
autocorrelation, OLS trend, CUSUM, day-of-week uniformity).

Every plan reads events through ``sources.catalog.load_events`` and
uses its ``ts_us``/``ts_sec`` epoch columns, never the raw ``ts``.
Windows are keyed (per user or per type) or bounded by the calendar,
so no plan needs a single-partition window over the whole stream.

Every entry is a (builder, SQL twin) pair registered in
plans/analytics.py and follows the determinism rules stated there.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.asof import asof_join
from ..session import shuffle_parallelism
from ..sources.catalog import load_events, load_table
from .columns import dec_sum


# ---------------------------------------------------------------------------
# Windows: last-write-wins dedup (D3) and top-k per group
# ---------------------------------------------------------------------------

def last_event_per_user(spark: SparkSession, sf: str) -> DataFrame:
    events = load_events(spark, sf)
    w = Window.partitionBy("user_id").orderBy(F.desc("ts_us"), F.desc("event_id"))
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "value")
    )


LAST_EVENT_SQL = """
SELECT user_id, event_id, event_type, value
FROM (
  SELECT user_id, event_id, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Streaming-shaped (batch-equivalent) queries over events
# ---------------------------------------------------------------------------

def events_hourly(spark: SparkSession, sf: str) -> DataFrame:
    events = load_events(spark, sf)
    return (
        events.groupBy(
            (F.expr("ts_us DIV 3600000000") * 3600).alias("hour_epoch"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.round(dec_sum(F.col("value"), 6).cast("double"), 2).alias("value_sum"),
        )
    )


EVENTS_HOURLY_SQL = """
SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_epoch,
       event_type,
       COUNT(*) AS event_count,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE), 2) AS value_sum
FROM events
GROUP BY 1, 2
"""


def sessionize_events(spark: SparkSession, sf: str) -> DataFrame:
    """Gaps-and-islands sessionization (30-min inactivity gap) — the
    batch twin of streaming/events.py::sessionize (same session
    boundaries a session_window stream would emit)."""
    events = load_events(spark, sf)
    e = events.select("user_id", "event_id", F.col("ts_sec").alias("tse"))
    w = Window.partitionBy("user_id").orderBy("tse", "event_id")
    flagged = e.withColumn(
        "is_new",
        F.when(
            F.lag("tse").over(w).isNull()
            | ((F.col("tse") - F.lag("tse").over(w)) > 1800),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    sessions = flagged.withColumn(
        "session_seq",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        sessions.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("tse").alias("session_start"),
            F.max("tse").alias("session_end"),
        )
        .select(
            "user_id",
            F.col("session_seq").cast("int").alias("session_seq"),
            "n_events",
            "session_start",
            "session_end",
        )
    )


SESSIONIZE_SQL = """
WITH e AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS tse FROM events
),
flagged AS (
  SELECT user_id, event_id, tse,
         CASE WHEN LAG(tse) OVER w IS NULL
                OR tse - LAG(tse) OVER w > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY tse, event_id)
),
sessions AS (
  SELECT user_id, tse,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY tse, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM flagged
)
SELECT user_id, CAST(session_seq AS INT) AS session_seq,
       COUNT(*) AS n_events,
       MIN(tse) AS session_start,
       MAX(tse) AS session_end
FROM sessions
GROUP BY user_id, session_seq
"""


# ---------------------------------------------------------------------------
# Analytic windows: lag/lead deltas and a rows-frame moving average
# ---------------------------------------------------------------------------

def event_deltas(spark: SparkSession, sf: str) -> DataFrame:
    events = load_events(spark, sf)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return events.select(
        "user_id",
        "event_id",
        # + 0.0 collapses IEEE -0.0 (sign-of-zero determinism class)
        (F.round(F.col("value") - F.lag("value").over(w), 6) + F.lit(0.0)).alias(
            "delta"
        ),
        F.lead("event_id").over(w).alias("next_event_id"),
    )


EVENT_DELTAS_SQL = """
SELECT user_id, event_id,
       ROUND(value - LAG(value) OVER w, 6) + 0.0 AS delta,
       LEAD(event_id) OVER w AS next_event_id
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def user_moving_avg(spark: SparkSession, sf: str) -> DataFrame:
    """5-row trailing average per user (ROWS frame). Exact decimal
    sum / count keeps the value identical across engines."""
    events = load_events(spark, sf)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(-4, 0)
    )
    mavg = (
        F.sum(F.col("value").cast("decimal(30,6)")).over(w).cast("double")
        / F.count(F.lit(1)).over(w)
    )
    return events.select(
        "user_id", "event_id", F.round(mavg, 6).alias("moving_avg")
    )


USER_MOVING_AVG_SQL = """
SELECT user_id, event_id,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER w AS DOUBLE)
             / COUNT(*) OVER w, 6) AS moving_avg
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
"""


# ---------------------------------------------------------------------------
# As-of join: latest 'view' at-or-before each 'purchase', per user.
# Spark side is the merge-formulation operator (operators/asof.py);
# the oracle uses DuckDB's native ASOF LEFT JOIN.
# ---------------------------------------------------------------------------

def purchase_attribution(spark: SparkSession, sf: str) -> DataFrame:
    events = load_events(spark, sf)
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts_us").alias("pts"),
    )
    # one right row per (user, ts): max event_id wins (deterministic tie)
    views = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id", F.col("ts_us").alias("vts"))
        .agg(F.max("event_id").alias("view_event_id"))
    )
    joined = asof_join(
        purchases,
        views,
        on=["user_id"],
        left_ts="pts",
        right_ts="vts",
        value_cols=["view_event_id", "vts"],
        direction="backward",
    )
    return joined.select(
        "purchase_id",
        "user_id",
        "view_event_id",
        (F.col("pts") - F.col("vts")).alias("gap_us"),
    )


PURCHASE_ATTRIBUTION_SQL = """
WITH p AS (
  SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS pts
  FROM events WHERE event_type = 'purchase'
),
v AS (
  SELECT user_id, epoch_us(ts) AS vts, MAX(event_id) AS view_event_id
  FROM events WHERE event_type = 'view'
  GROUP BY user_id, epoch_us(ts)
)
SELECT p.purchase_id, p.user_id, v.view_event_id, p.pts - v.vts AS gap_us
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.vts <= p.pts
"""


# ---------------------------------------------------------------------------
# Sliding event-time windows (batch twin of streaming sliding_value_avg;
# Spark F.window(1h, 15min) vs explicit window-start enumeration)
# ---------------------------------------------------------------------------

def events_sliding_windows(spark: SparkSession, sf: str) -> DataFrame:
    events = load_events(spark, sf)
    ev = events.withColumn("tsm", F.timestamp_micros(F.col("ts_us")))
    return (
        ev.groupBy(F.window("tsm", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.round(dec_sum(F.col("value"), 6).cast("double"), 2).alias("value_sum"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "event_count",
            "value_sum",
        )
    )


# every event belongs to exactly 4 sliding windows (3600s length /
# 900s slide); enumerate their starts with k ∈ 0..3
EVENTS_SLIDING_SQL = """
WITH e AS (SELECT epoch_us(ts) AS tus, event_type, value FROM events),
x AS (
  SELECT ((tus // 900000000) * 900000000
          - CAST(k AS BIGINT) * 900000000) // 1000000 AS window_start,
         event_type, value
  FROM e CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) ks
)
SELECT window_start, event_type, COUNT(*) AS event_count,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE), 2) AS value_sum
FROM x
GROUP BY window_start, event_type
"""


# ---------------------------------------------------------------------------
# JSON functions: parse the events.props JSON payload (typed extract +
# aggregate). Integer sums have no FP-order concerns, but the oracle
# must CAST(SUM(..) AS BIGINT): DuckDB SUM(INT) widens to HUGEINT
# (int128) while Spark sum(int) is BIGINT, and the driver's value
# hash is type-sensitive (round-1 hash_match failure).
# ---------------------------------------------------------------------------

def json_props_stats(spark: SparkSession, sf: str) -> DataFrame:
    events = load_events(spark, sf)
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        events.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
            F.count(F.when(F.col("k") > 50, 1)).alias("k_over_50"),
        )
    )


JSON_PROPS_SQL = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS k_sum,
       MIN(CAST(json_extract_string(props, '$.k') AS INT)) AS k_min,
       MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS k_max,
       COUNT(CASE WHEN CAST(json_extract_string(props, '$.k') AS INT) > 50
                  THEN 1 END) AS k_over_50
FROM events
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Event analytics: sequential conversion funnel + weekly cohort
# retention — the two canonical product-analytics shapes over an
# event stream. Each stage of the funnel is ORDER-dependent (a click
# only counts after that user's first view), which is what separates
# a funnel from three filters.
# ---------------------------------------------------------------------------

def conversion_funnel(spark: SparkSession, sf: str) -> DataFrame:
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
# Windowed EXACT rolling median (7-event window per user). The window
# is deliberately ODD and emitted only once FULL (row_number ≥ 7):
# the median of 7 values is the 4th order statistic — an ELEMENT of
# the input, bit-identical cross-engine — whereas even/ragged windows
# interpolate, and the two engines' interpolation arithmetic is not
# bit-compatible. One user-keyed window pass, no joins.
# ---------------------------------------------------------------------------

def rolling_median_values(spark: SparkSession, sf: str) -> DataFrame:
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
# Per-user linear trend of event value over time: the closed-form
# least-squares slope from five exact decimal moments per user — the
# price_discount_corr discipline applied per group (one aggregation
# pass over a user-keyed shuffle; no window, no iteration). Time is
# scaled to days so slope magnitudes are readable; users need ≥ 3
# observations and nonzero time variance for a defined slope.
# ---------------------------------------------------------------------------

def user_value_trend(spark: SparkSession, sf: str) -> DataFrame:
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
# Time-series operators the reference workload lacks (SURVEY §2.3/§2.9:
# no as-of/range joins or calendar operations) but a time-series store
# provides natively: hypertable-style rollup with gap filling and last-
# observation-carried-forward, interval (range) joins, EWMA, incremental
# daily aggregates, transition matrices and anomaly flags. Spark-first
# scale notes:
#
# - Gap fill generates the missing buckets with ``sequence``/``explode``
#   per group — one shuffle for the rollup, one window pass for LOCF; no
#   driver-side calendar loop. Bucket count is bounded by the observed
#   per-group time range, so the explode is output-sized, not data-
#   sized.
#
# - The range join blocks on a coarse time bucket (week) instead of a
#   cartesian BroadcastNestedLoopJoin: intervals explode into the ≤6
#   buckets they overlap, the probe side carries its single bucket, and
#   the join is a plain shuffled equi-join on the bucket key followed by
#   the exact range filter. Replication factor = interval_len/bucket_len
#   + 1 (bounded), candidate set = per-bucket pairs (pruned), which is
#   the standard scalable formulation at 100 TB — never an unbounded
#   nested-loop.
# ---------------------------------------------------------------------------


_US_PER_DAY = 86_400_000_000


def events_gapfill_locf(spark: SparkSession, sf: str) -> DataFrame:
    """Daily average event value per type, gap-filled over each type's
    observed [min_day, max_day] range, with LOCF: days with no events
    appear with observed=false and the last observed daily average
    carried forward. Averages go through exact DECIMAL sums (module
    determinism rules) and `+ 0.0` normalizes IEEE negative zero."""
    ev = load_events(spark, sf).select(
        F.expr(f"ts_us DIV {_US_PER_DAY}").alias("day_idx"),
        "event_type",
        "value",
    )
    daily = ev.groupBy("event_type", "day_idx").agg(
        (
            F.round(
                dec_sum(F.col("value"), 6).cast("double") / F.count("value"), 2
            )
            + 0.0
        ).alias("day_avg")
    )
    cal = (
        daily.groupBy("event_type")
        .agg(F.min("day_idx").alias("lo"), F.max("day_idx").alias("hi"))
        .select(
            "event_type",
            F.explode(F.sequence("lo", "hi")).alias("day_idx"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        cal.join(daily, ["event_type", "day_idx"], "left")
        .select(
            "event_type",
            "day_idx",
            F.col("day_avg").isNotNull().alias("observed"),
            (F.last("day_avg", ignorenulls=True).over(w) + 0.0).alias(
                "value_locf"
            ),
        )
        .orderBy("event_type", "day_idx")
    )


EVENTS_GAPFILL_SQL = """
WITH daily AS (
  SELECT event_type,
         CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_idx,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE)
               / COUNT(value), 2) + 0.0 AS day_avg
  FROM events
  GROUP BY 1, 2
),
cal AS (
  SELECT event_type, unnest(range(lo, hi + 1)) AS day_idx
  FROM (SELECT event_type, MIN(day_idx) AS lo, MAX(day_idx) AS hi
        FROM daily GROUP BY 1)
)
SELECT c.event_type, c.day_idx,
       d.day_avg IS NOT NULL AS observed,
       last_value(d.day_avg IGNORE NULLS)
         OVER (PARTITION BY c.event_type ORDER BY c.day_idx
               ROWS UNBOUNDED PRECEDING) + 0.0 AS value_locf
FROM cal c LEFT JOIN daily d
  ON c.event_type = d.event_type AND c.day_idx = d.day_idx
ORDER BY c.event_type, c.day_idx
"""


def order_window_shipments(spark: SparkSession, sf: str) -> DataFrame:
    """Interval join: for each of the 50 highest-value orders, count
    every lineitem (corpus-wide) shipped inside the order's 30-day
    window [o_orderdate, o_orderdate + 30d). Week-bucket blocking turns
    the range predicate into an equi-join: each order interval explodes
    into the ≤6 week buckets it overlaps, each shipment carries its one
    bucket, and the exact range filter runs after the bucket join."""
    orders = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")

    top = (
        orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(50)
        .select(
            "o_orderkey",
            F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01"))
            .alias("d0"),
        )
    )
    ow = top.select(
        "o_orderkey",
        "d0",
        F.explode(
            F.sequence(
                F.expr("d0 DIV 7"), F.expr("(d0 + 29) DIV 7")
            )
        ).alias("wk"),
    )
    lw = li.select(
        F.datediff(F.col("l_shipdate").cast("date"), F.lit("1970-01-01"))
        .alias("sd")
    ).select("sd", F.expr("sd DIV 7").alias("wk"))
    return (
        ow.join(
            lw,
            (ow.wk == lw.wk)
            & (F.col("sd") >= F.col("d0"))
            & (F.col("sd") < F.col("d0") + 30),
            "left",
        )
        .groupBy("o_orderkey")
        .agg(F.count("sd").alias("n_shipments"))
        .orderBy("o_orderkey")
    )


ORDER_WINDOW_SQL = """
WITH t AS (
  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d0
  FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 50
)
SELECT t.o_orderkey, COUNT(l.l_shipdate) AS n_shipments
FROM t LEFT JOIN lineitem l
  ON CAST(l.l_shipdate AS DATE) >= t.d0
 AND CAST(l.l_shipdate AS DATE) < t.d0 + INTERVAL 30 DAY
GROUP BY 1 ORDER BY 1
"""


def purchase_window_events(spark: SparkSession, sf: str) -> DataFrame:
    """KEYED interval join with overlapping windows, via the reusable
    ``operators/ranges.py::interval_join``: every purchase opens a
    one-hour attribution window [ts, ts+1h) on its user, and each
    window counts ALL of that user's events inside it (windows from
    purchases less than an hour apart overlap, so one event can credit
    several purchases — the case the as-of join cannot express).
    10-minute bins keep interval fan-out at ≤7 rows; the join is a
    plain shuffled equi-join on (user_id, bin) plus the exact range
    filter — never a nested loop."""
    from ..operators.ranges import interval_join

    hour_us = 3_600_000_000
    e = load_events(spark, sf).select(
        "user_id", "event_id", "event_type", "ts_us"
    )
    windows = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts_us").alias("win_start"),
        (F.col("ts_us") + hour_us).alias("win_end"),
    )
    j = interval_join(
        e,
        windows,
        on=["user_id"],
        point_ts="ts_us",
        start_col="win_start",
        end_col="win_end",
        bin_width=600_000_000,
    )
    return (
        j.groupBy("user_id", "purchase_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
        )
        .sortWithinPartitions("user_id", "purchase_id")
    )


PURCHASE_WINDOW_SQL = """
WITH e AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events
),
p AS (
  SELECT user_id, event_id AS purchase_id, ts_us AS s,
         ts_us + 3600000000 AS en
  FROM e WHERE event_type = 'purchase'
)
SELECT e.user_id AS user_id, purchase_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT e.event_type) AS BIGINT) AS n_types
FROM e JOIN p ON e.user_id = p.user_id
             AND e.ts_us >= p.s AND e.ts_us < p.en
GROUP BY e.user_id, purchase_id
ORDER BY user_id, purchase_id
"""


def ewma_user_values(spark: SparkSession, sf: str) -> DataFrame:
    """Exponentially-weighted moving average of each user's event
    values (α=0.2, adjust=False: y₀=x₀, yᵢ=0.8·yᵢ₋₁+0.2·xᵢ) — the
    streaming-friendly smoother whose per-row recurrence no window
    function expresses (every output depends on the full prefix, and
    the closed-form prefix sum is O(n²) as a window).

    Escape-hatch shape (r6 verdict item 5, rebuilt for batch
    efficiency): hash-repartition on user_id + sortWithinPartitions
    (user, ts, event) + ``mapInPandas`` with the EWMA accumulator
    carried across Arrow batches inside the generator. Semantically
    identical to the earlier per-group applyInPandas — each user's
    rows are contiguous in exactly one partition and arrive in series
    order, so the recurrence crosses batch boundaries through the
    carried (user, acc) pair — but the Python-side cost drops from
    one pandas frame PER GROUP (measured ~2 ms × 1,500 users at
    sf0.1 — the dominant term) to one per ~10k-row Arrow batch.
    State is O(1) per partition and never touches the driver.

    Cross-engine determinism is by CONSTRUCTION, not tolerance: both
    engines evaluate the literally identical float recurrence
    ``acc*0.8 + x*0.2`` in the same ts-then-event_id order (DuckDB
    via list_reduce over prefix slices), so the doubles agree bitwise
    before the shared round(6)."""
    import numpy as np
    import pandas as pd

    e = load_events(spark, sf).select("user_id", "event_id", "ts_us", "value")
    npart = shuffle_parallelism(spark)

    def gen(batches):
        cur_uid = None
        acc = 0.0
        for pdf in batches:
            uids = pdf["user_id"].to_numpy()
            vals = pdf["value"].to_numpy(dtype="float64")
            out = np.empty(len(vals), dtype="float64")
            for i in range(len(vals)):
                u = uids[i]
                x = vals[i]
                if u != cur_uid:
                    cur_uid = u
                    acc = x
                else:
                    acc = acc * 0.8 + x * 0.2
                out[i] = acc
            yield pd.DataFrame(
                {
                    "user_id": uids,
                    "event_id": pdf["event_id"].to_numpy(),
                    "ewma": np.round(out, 6),
                }
            )

    return (
        e.repartition(npart, "user_id")
        .sortWithinPartitions("user_id", "ts_us", "event_id")
        .mapInPandas(gen, "user_id long, event_id long, ewma double")
        .sortWithinPartitions("user_id", "event_id")
    )


EWMA_USER_SQL = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CAST(value AS DOUBLE) AS v
  FROM events
),
g AS (
  SELECT user_id,
         list(v ORDER BY ts_us, event_id) AS vs,
         list(event_id ORDER BY ts_us, event_id) AS ids
  FROM e GROUP BY user_id
)
SELECT user_id, unnest(ids) AS event_id,
       unnest(list_transform(range(1, len(vs) + 1),
              i -> ROUND(list_reduce(list_slice(vs, 1, i),
                         (acc, x) -> acc * 0.8 + x * 0.2), 6))) AS ewma
FROM g ORDER BY user_id, event_id
"""


def incremental_daily_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental materialized-aggregate maintenance: per-(day,
    event_type) counts and exact-decimal value sums are maintained as
    STATE, and a late-arriving change batch folds in by re-aggregating
    the two partial-aggregate tables — base data is never rescanned.
    This is the algebraic-merge contract that makes daily rollups
    cheap at 100 TB: COUNT and SUM are commutative monoids, so
    combine(agg(base), agg(batch)) ≡ agg(base ∪ batch) EXACTLY — and
    the DuckDB twin states that identity by computing the right-hand
    side directly over the full table. The split point (the trailing
    5 days as the "new batch") is derived in-plan from a 1-row MAX
    aggregate (broadcast, no driver scalar).

    Decimal discipline: value sums use `dec_sum`, so the merge is
    bit-stable no matter how the rows were partitioned between state
    and batch — the property float sums would lose."""
    e = load_events(spark, sf).select(
        F.expr("ts_us DIV 86400000000").alias("day_idx"),
        "event_type",
        "value",
    )
    split = e.agg(
        (F.max("day_idx") - F.lit(5)).alias("cut")
    )
    tagged = e.crossJoin(F.broadcast(split))  # 1-row side
    base = tagged.filter(F.col("day_idx") < F.col("cut"))
    batch = tagged.filter(F.col("day_idx") >= F.col("cut"))

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("day_idx", "event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum(F.col("value"), 6).alias("sum_value"),
        )

    merged = (
        partial(base)
        .unionByName(partial(batch))
        .groupBy("day_idx", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value").alias("sum_value"),
        )
    )
    return merged.select(
        "day_idx",
        "event_type",
        "n_events",
        (F.round(F.col("sum_value").cast("double"), 4) + 0.0).alias("total_value"),
    ).orderBy("day_idx", "event_type")


INCREMENTAL_DAILY_SQL = """
SELECT epoch_us(ts) // 86400000000 AS day_idx, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE), 4)
         + 0.0 AS total_value
FROM events
GROUP BY day_idx, event_type
ORDER BY day_idx, event_type
"""


# ---------------------------------------------------------------------------
# First-order Markov transition matrix over the event stream: for each
# (state, next_state) pair, the transition count and its conditional
# probability P(next|state). One user-keyed shuffle for the lead()
# window; the per-state normalizing total comes from a second window
# over the (state, next_state) aggregate — a 25-row relation, so the
# extra window is free at any scale. Probabilities are exact-integer
# ratios divided once in double (identical cross-engine).
# ---------------------------------------------------------------------------

def event_transition_matrix(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_events(spark, sf).select("user_id", "event_type", "ts_us", "event_id")
    order = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    pairs = (
        e.withColumn("next_type", F.lead("event_type").over(order))
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    per_state = Window.partitionBy("event_type")
    return (
        pairs.withColumn(
            "p_next",
            F.round(
                F.col("n_transitions")
                / F.sum("n_transitions").over(per_state),
                6,
            ),
        )
        .orderBy("event_type", "next_type")
    )


EVENT_TRANSITION_SQL = """
WITH seq AS (
    SELECT event_type,
           LEAD(event_type) OVER (PARTITION BY user_id
                                  ORDER BY epoch_us(ts), event_id)
               AS next_type
    FROM events
), pairs AS (
    SELECT event_type, next_type, COUNT(*) AS n_transitions
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
)
SELECT event_type, next_type, n_transitions,
       ROUND(CAST(n_transitions AS DOUBLE) /
             SUM(n_transitions) OVER (PARTITION BY event_type), 6) AS p_next
FROM pairs
ORDER BY event_type, next_type
"""


# ---------------------------------------------------------------------------
# Session path mining: the most common opening event-type paths
# (first 3 events of each 30-min-gap session) — sessionization
# composed with sequence extraction, the product-analytics "top user
# journeys" query. Ordered collect inside each session uses the
# struct-sort trick (array_sort on (ts, event_id, type) structs —
# in-row, no second window); path space is bounded by |event_types|³.
# ---------------------------------------------------------------------------

def session_path_counts(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    events = load_events(spark, sf)
    e = events.select(
        "user_id", "event_id", "event_type", F.col("ts_sec").alias("tse")
    )
    w = Window.partitionBy("user_id").orderBy("tse", "event_id")
    sessions = (
        e.withColumn(
            "is_new",
            F.when(
                F.lag("tse").over(w).isNull()
                | ((F.col("tse") - F.lag("tse").over(w)) > 1800),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "session_seq",
            F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    paths = (
        sessions.groupBy("user_id", "session_seq")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("tse", "event_id", "event_type"))
            ).alias("evs")
        )
        .select(
            F.array_join(
                F.transform(
                    F.slice(F.col("evs"), 1, 3), lambda s: s["event_type"]
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(20)
    )


SESSION_PATH_SQL = """
WITH e0 AS (
    SELECT user_id, event_id, event_type,
           CAST(floor(epoch(ts)) AS BIGINT) AS tse
    FROM events
), e AS (
    SELECT user_id, event_id, event_type, tse,
           CASE WHEN LAG(tse) OVER w IS NULL
                  OR tse - LAG(tse) OVER w > 1800
                THEN 1 ELSE 0 END AS is_new
    FROM e0
    WINDOW w AS (PARTITION BY user_id ORDER BY tse, event_id)
), s AS (
    SELECT user_id, event_id, event_type, tse,
           SUM(is_new) OVER (PARTITION BY user_id ORDER BY tse, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_seq
    FROM e
), p AS (
    SELECT array_to_string(
             list_transform(
               list_sort(list(ROW(tse, event_id, event_type)))[1:3],
               x -> x[3]),
             '>') AS path
    FROM s GROUP BY user_id, session_seq
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
FROM p GROUP BY path
ORDER BY n_sessions DESC, path ASC
LIMIT 20
"""


# ---------------------------------------------------------------------------
# Batch twin of the streaming anomaly detector (streaming/events.py::
# ewma_anomaly_flags): per-user EWMA mean+variance recurrence (West
# 1979), flagging events that deviate > 3σ after a 5-observation
# warm-up. Same escape-hatch shape as ewma_user_values — one user_id
# shuffle, linear per-group scan — and the same BIT-EXACT oracle
# discipline extended to two-accumulator state: DuckDB folds the
# identical recurrence over prefix slices with a STRUCT accumulator,
# every float operation written in the same order (d·(α·d), not
# (d·α)·d — multiplication order changes the last bit), so flags and
# z-scores agree bitwise before the shared round.
# ---------------------------------------------------------------------------

def value_anomaly_flags(spark: SparkSession, sf: str) -> DataFrame:
    """Same mapInPandas-with-carried-state shape as
    ``ewma_user_values`` (see its docstring): the two-accumulator
    (mean, var, n) West-recurrence state rides across Arrow batches
    keyed by the current user, replacing the per-group applyInPandas
    whose 1,500 pandas-frame constructions dominated the wall. Every
    float operation keeps the documented order (d·(α·d), not
    (d·α)·d), so the DuckDB oracle stays hash-green bitwise."""
    import numpy as np
    import pandas as pd

    e = load_events(spark, sf).select("user_id", "event_id", "ts_us", "value")
    npart = shuffle_parallelism(spark)

    def gen(batches):
        cur_uid = None
        n, mean, var = 0, 0.0, 0.0
        for pdf in batches:
            uids = pdf["user_id"].to_numpy()
            tss = pdf["ts_us"].to_numpy()
            vals = pdf["value"].to_numpy(dtype="float64")
            out = []
            for i in range(len(vals)):
                u = uids[i]
                x = vals[i]
                if u != cur_uid:
                    cur_uid = u
                    n, mean, var = 0, 0.0, 0.0
                if n >= 5 and var > 0.0:
                    dev = abs(x - mean) / (var ** 0.5)
                    if dev > 3.0:
                        # float() is value-preserving (np.float64 IS an
                        # IEEE double); it routes round() through
                        # CPython's correctly-rounded implementation —
                        # the one the DuckDB oracle hash was pinned
                        # against — instead of np.float64.__round__.
                        out.append(
                            (
                                int(u),
                                int(tss[i]),
                                float(x),
                                round(float(mean), 6),
                                round(float(dev), 6),
                            )
                        )
                if n == 0:
                    mean, var = x, 0.0
                else:
                    d = x - mean
                    incr = 0.2 * d
                    mean = mean + incr
                    var = (1.0 - 0.2) * (var + d * incr)
                n += 1
            yield pd.DataFrame(
                out,
                columns=["user_id", "ts_us", "value", "ewma_before", "zscore"],
            )

    return (
        e.repartition(npart, "user_id")
        .sortWithinPartitions("user_id", "ts_us", "event_id")
        .mapInPandas(
            gen,
            "user_id long, ts_us long, value double, "
            "ewma_before double, zscore double",
        )
        .sortWithinPartitions("user_id", "ts_us")
    )


VALUE_ANOMALY_SQL = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CAST(value AS DOUBLE) AS v
  FROM events
),
g AS (
  SELECT user_id,
         list(v ORDER BY ts_us, event_id) AS vs,
         list(ts_us ORDER BY ts_us, event_id) AS tss
  FROM e GROUP BY user_id
),
x AS (
  SELECT user_id, CAST(i AS INT) AS i,
         vs[CAST(i AS INT)] AS value, tss[CAST(i AS INT)] AS ts_us,
         -- ⚠ field ORDER is load-bearing: DuckDB evaluates struct
         -- lambda fields sequentially with acc fields updated in
         -- place, so 'vr' must be computed BEFORE 'm' or it would
         -- see the NEW mean (verified: m-first yields the
         -- wrong-by-construction variance 103.45 vs 145.44 on a
         -- 3-value toy fold)
         CASE WHEN i >= 6 THEN
           list_reduce(
             list_transform(vs[1:CAST(i AS INT) - 1],
                            y -> {'n': 0, 'vr': CAST(0.0 AS DOUBLE), 'm': y}),
             (acc, el) -> {
               'n': acc.n + 1,
               'vr': 0.8 * (acc.vr
                            + (el.m - acc.m) * (0.2 * (el.m - acc.m))),
               'm': acc.m + 0.2 * (el.m - acc.m)
             }
           )
         END AS st
  FROM g, LATERAL (SELECT unnest(range(1, len(vs) + 1)) AS i)
)
SELECT user_id, ts_us, value,
       ROUND(st.m, 6) AS ewma_before,
       ROUND(abs(value - st.m) / sqrt(st.vr), 6) AS zscore
FROM x
WHERE i >= 6 AND st.vr > 0
  AND abs(value - st.m) / sqrt(st.vr) > 3.0
ORDER BY user_id, ts_us
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
# time-constrained variant of conversion_funnel (same stage
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
# Trailing-7-day active users per day. Incidence = distinct
# (user, day); each incidence row contributes to the 7 target days
# [day, day+6] — implemented as a range join against the DISTINCT
# day frame, which is calendar-bounded (the CUSUM argument), so the
# join output is ≤ 7·|incidence| — linear. The day frame is
# legitimately hint-broadcast: bounded by the calendar, not the
# corpus. All-integer output.
# ---------------------------------------------------------------------------


def wau_trailing_7d(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_events(spark, sf)
    du = (
        ev.select("user_id", F.expr("ts_sec DIV 86400").alias("day"))
        .distinct()
    )
    days = du.select(F.col("day").alias("d")).distinct()
    return (
        du.join(
            F.broadcast(days),  # calendar-bounded side
            (F.col("day") <= F.col("d")) & (F.col("day") >= F.col("d") - 6),
        )
        .groupBy("d")
        .agg(F.countDistinct("user_id").alias("wau"))
        .select(F.col("d").alias("day"), F.col("wau").cast("long").alias("wau"))
        .orderBy("day")
    )


WAU_SQL = """
WITH du AS (
    SELECT DISTINCT user_id,
           CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
    FROM events
), days AS (
    SELECT DISTINCT day AS d FROM du
)
SELECT d AS day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
FROM du JOIN days ON du.day <= d AND du.day >= d - 6
GROUP BY d ORDER BY day
"""


# ---------------------------------------------------------------------------
# Daily new vs returning actives: actives = distinct (user, day);
# a user's first-seen day marks them "new" on exactly that day and
# "returning" on every later active day. One MIN groupBy + one
# integer comparison — the batch twin of the streaming first-seen
# MIN fold (streaming/events.py::run_first_seen_sink). All-integer.
# ---------------------------------------------------------------------------


def daily_new_vs_returning(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_events(spark, sf)
    du = (
        ev.select("user_id", F.expr("ts_sec DIV 86400").alias("day"))
        .distinct()
    )
    first = du.groupBy("user_id").agg(F.min("day").alias("first_day"))
    return (
        du.join(first, "user_id")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_active"),
            F.sum((F.col("day") == F.col("first_day")).cast("int"))
            .cast("long")
            .alias("n_new"),
            F.sum((F.col("day") > F.col("first_day")).cast("int"))
            .cast("long")
            .alias("n_returning"),
        )
        .orderBy("day")
    )


NEW_VS_RETURNING_SQL = """
WITH du AS (
    SELECT DISTINCT user_id,
           CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
    FROM events
), first AS (
    SELECT user_id, MIN(day) AS first_day FROM du GROUP BY user_id
)
SELECT day,
       CAST(COUNT(*) AS BIGINT) AS n_active,
       CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT)
           AS n_new,
       CAST(SUM(CASE WHEN day > first_day THEN 1 ELSE 0 END) AS BIGINT)
           AS n_returning
FROM du JOIN first USING (user_id)
GROUP BY day ORDER BY day
"""


# ---------------------------------------------------------------------------
# Last-touch attribution: each purchase is attributed to the SAME
# user's latest click at-or-before it, if that click is within 7
# days. The as-of join is the repo's union-plus-one-keyed-window
# operator (operators/asof.py) — both event subsets shuffle once on
# user_id, no candidate pair ever materializes (the oracle's
# join-then-MAX formulation is the O(pairs) definitional spec the
# operator must match). Output: per purchase day, purchases vs
# attributed purchases — all integers.
# ---------------------------------------------------------------------------

_ATTR_WINDOW_US = 7 * 86400 * 1_000_000


def last_touch_attribution(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.asof import asof_join

    ev = load_events(spark, sf)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us",
        F.expr("ts_sec DIV 86400").alias("day"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts_us").alias("cts"),
        F.col("ts_us").alias("click_ts"),
    )
    joined = asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts_us",
        right_ts="cts",
        value_cols=["click_ts"],
    )
    return (
        joined.groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.sum(
                (
                    F.col("click_ts").isNotNull()
                    & (
                        F.col("ts_us") - F.col("click_ts")
                        <= F.lit(_ATTR_WINDOW_US)
                    )
                ).cast("int")
            )
            .cast("long")
            .alias("n_attributed"),
        )
        .orderBy("day")
    )


LAST_TOUCH_SQL = f"""
WITH p AS (
    SELECT event_id, user_id, epoch_us(ts) AS ts_us,
           CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
    FROM events WHERE event_type = 'purchase'
), c AS (
    SELECT user_id, epoch_us(ts) AS cts FROM events
    WHERE event_type = 'click'
), a AS (
    SELECT p.event_id, p.day, p.ts_us, MAX(c.cts) AS click_ts
    FROM p LEFT JOIN c
      ON c.user_id = p.user_id AND c.cts <= p.ts_us
    GROUP BY p.event_id, p.day, p.ts_us
)
SELECT day,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(SUM(CASE WHEN click_ts IS NOT NULL
                      AND ts_us - click_ts <= {_ATTR_WINDOW_US}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_attributed
FROM a
GROUP BY day ORDER BY day
"""


# ---------------------------------------------------------------------------
# Per-user trailing-7-day event value: the rolling feature every
# activity model consumes. Daily per-user decimal sums (exact), then
# a RANGE frame over the integer day — a KEYED window (partitioned by
# user), so it parallelizes across users at any scale; the frame sum
# adds ≤7 exact decimals, order-free. NULL stays NULL (a user-day
# whose window holds only NULL values) identically in both engines.
# ---------------------------------------------------------------------------


def user_rolling_7d_value(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_events(spark, sf).select(
        "user_id", F.expr("ts_sec DIV 86400").alias("day"), "value"
    )
    daily = ev.groupBy("user_id", "day").agg(
        dec_sum(F.col("value"), 6).alias("v")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rangeBetween(-6, 0)
    )
    return daily.select(
        "user_id",
        "day",
        F.round(F.sum("v").over(w).cast("double"), 4).alias("v7"),
    ).sortWithinPartitions("user_id", "day")


USER_ROLLING_SQL = """
WITH daily AS (
    SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
           SUM(CAST(value AS DECIMAL(30,6))) AS v
    FROM events GROUP BY user_id, day
)
SELECT user_id, day,
       ROUND(CAST(SUM(v) OVER (PARTITION BY user_id ORDER BY day
                               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
                  AS DOUBLE), 4) AS v7
FROM daily
ORDER BY user_id, day
"""


# ---------------------------------------------------------------------------
# Event-type transition matrix: per user, consecutive event pairs by
# (ts, event_id) order — one KEYED lag window (parallel across users
# at any scale), then a 25-cell count aggregate. All integers.
# ---------------------------------------------------------------------------


def event_type_transitions(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_events(spark, sf).select(
        "user_id", "ts_us", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return (
        ev.select(
            "event_type",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("prev_type", "event_type")
    )


EVENT_TRANSITIONS_SQL = """
WITH seq AS (
    SELECT event_type,
           LAG(event_type) OVER (PARTITION BY user_id
                                 ORDER BY epoch_us(ts), event_id)
               AS prev_type
    FROM events
)
SELECT prev_type, event_type, CAST(COUNT(*) AS BIGINT) AS n
FROM seq WHERE prev_type IS NOT NULL
GROUP BY prev_type, event_type
ORDER BY prev_type, event_type
"""


_NEAR_TOL_US = 2 * 3600 * 1_000_000  # ±2h


def nearest_click_gap(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.asof import asof_join

    ev = load_events(spark, sf)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us",
        F.expr("ts_sec DIV 86400").alias("day"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts_us").alias("cts"),
        F.col("ts_us").alias("click_ts"),
    )
    joined = asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts_us",
        right_ts="cts",
        value_cols=["click_ts"],
        direction="nearest",
        tolerance=_NEAR_TOL_US,
    )
    gap = F.abs(F.col("ts_us") - F.col("click_ts"))
    return (
        joined.groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.sum(F.col("click_ts").isNotNull().cast("int"))
            .cast("long")
            .alias("n_matched"),
            F.coalesce(F.sum(gap), F.lit(0)).cast("long").alias("sum_gap_us"),
        )
        .orderBy("day")
    )


NEAREST_CLICK_SQL = f"""
WITH p AS (
    SELECT event_id, user_id, epoch_us(ts) AS ts_us,
           CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
    FROM events WHERE event_type = 'purchase'
), c AS (
    SELECT user_id, epoch_us(ts) AS cts FROM events
    WHERE event_type = 'click'
), best AS (
    SELECT p.event_id, MIN(abs(p.ts_us - c.cts)) AS gap
    FROM p JOIN c ON c.user_id = p.user_id
    WHERE abs(p.ts_us - c.cts) <= {_NEAR_TOL_US}
    GROUP BY p.event_id
)
SELECT p.day,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(COUNT(b.gap) AS BIGINT) AS n_matched,
       CAST(COALESCE(SUM(b.gap), 0) AS BIGINT) AS sum_gap_us
FROM p LEFT JOIN best b ON b.event_id = p.event_id
GROUP BY p.day ORDER BY p.day
"""
