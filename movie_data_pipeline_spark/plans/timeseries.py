"""Timeseries operator families the reference lacks (SURVEY §2.3/§2.9
note no as-of/range joins or calendar operations anywhere in its
workload) but a time-series store provides natively: hypertable-style
rollup with gap filling + last-observation-carried-forward, and
interval (range) joins.

Spark-first scale notes:

- Gap fill generates the missing buckets with ``sequence``/``explode``
  per group — one shuffle for the rollup, one window pass for LOCF; no
  driver-side calendar loop. Bucket count is bounded by the observed
  per-group time range, so the explode is output-sized, not data-sized.
- The range join blocks on a coarse time bucket (week) instead of a
  cartesian BroadcastNestedLoopJoin: intervals explode into the ≤6
  buckets they overlap, the probe side carries its single bucket, and
  the join is a plain shuffled equi-join on the bucket key followed by
  the exact range filter. Replication factor = interval_len/bucket_len
  + 1 (bounded), candidate set = per-bucket pairs (pruned), which is
  the standard scalable formulation at 100 TB — never an unbounded
  nested-loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import shuffle_parallelism
from ..sources.catalog import load_table
from .analytics import load_events
from .columns import dec_sum

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

    from .analytics import load_events

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

    from .analytics import load_events

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


TIMESERIES_QUERIES = {
    "events_gapfill_locf": (events_gapfill_locf, EVENTS_GAPFILL_SQL),
    "order_window_shipments": (order_window_shipments, ORDER_WINDOW_SQL),
    "purchase_window_events": (purchase_window_events, PURCHASE_WINDOW_SQL),
    "ewma_user_values": (ewma_user_values, EWMA_USER_SQL),
    "incremental_daily_agg": (incremental_daily_agg, INCREMENTAL_DAILY_SQL),
    "event_transition_matrix": (event_transition_matrix, EVENT_TRANSITION_SQL),
    "session_path_counts": (session_path_counts, SESSION_PATH_SQL),
    "value_anomaly_flags": (value_anomaly_flags, VALUE_ANOMALY_SQL),
}
