"""Extended driver-contract queries: operator families beyond the
first registry batch in plans/analytics.py — set operations, cube,
lag/lead, frame windows, exact percentiles, as-of and non-equi joins,
scalar string functions, sliding event-time windows, and the
oracle-checkable slice of the multimodal path.

Same contract and determinism rules as plans/analytics.py (exact
decimal sums for aggregated doubles, total-order tie-breaks, identical
aliases in both plans). Registered into the main QUERIES registry at
the bottom of analytics.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators.asof import asof_join
from ..sources.catalog import load_table
from .analytics import load_events
from .columns import dec_sum


# ---------------------------------------------------------------------------
# Set operations: UNION (distinct), INTERSECT, EXCEPT + UNION ALL glue.
# The reference has none (SURVEY §2.8) — native Spark surface.
# ---------------------------------------------------------------------------

def set_ops_summary(spark: SparkSession, sf: str) -> DataFrame:
    c = load_table(spark, sf, "customer").select(F.col("c_custkey").alias("k"))
    o = load_table(spark, sf, "orders").select(F.col("o_custkey").alias("k"))

    def tagged(df: DataFrame, tag: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(tag).alias("op"), "n"
        )

    return (
        tagged(c.union(o).distinct(), "union")
        .unionByName(tagged(c.intersect(o), "intersect"))
        .unionByName(tagged(c.subtract(o), "except"))
    )


SET_OPS_SQL = """
SELECT 'union' AS op, COUNT(*) AS n FROM
  (SELECT c_custkey AS k FROM customer UNION SELECT o_custkey FROM orders)
UNION ALL
SELECT 'intersect', COUNT(*) FROM
  (SELECT c_custkey AS k FROM customer INTERSECT SELECT o_custkey FROM orders)
UNION ALL
SELECT 'except', COUNT(*) FROM
  (SELECT c_custkey AS k FROM customer EXCEPT SELECT o_custkey FROM orders)
"""


# ---------------------------------------------------------------------------
# Cube (full grouping-set lattice; rollup already covered)
# ---------------------------------------------------------------------------

def cube_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("line_count"),
        dec_sum(F.col("l_quantity"), 4).cast("double").alias("sum_qty"),
    )


CUBE_LINEITEM_SQL = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS line_count,
       CAST(SUM(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
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
# Non-equi (band/range) join against a tiny inline dimension —
# broadcast nested-loop on Spark, VALUES join in the oracle.
# ---------------------------------------------------------------------------

# p_retailprice spans [900, 900+100·sf') in the synthetic corpus
# ([900, 920) at sf0.001) — bands chosen so all three populate at
# every scale factor
_BANDS = [("budget", 0.0, 906.0), ("mid", 906.0, 913.0), ("premium", 913.0, 1e12)]


def price_band_summary(spark: SparkSession, sf: str) -> DataFrame:
    part = load_table(spark, sf, "part")
    bands = spark.createDataFrame(_BANDS, "band string, lo double, hi double")
    return (
        part.join(
            F.broadcast(bands),
            (F.col("p_retailprice") >= F.col("lo"))
            & (F.col("p_retailprice") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("part_count"),
            F.round(F.min("p_retailprice"), 2).alias("min_price"),
            F.round(F.max("p_retailprice"), 2).alias("max_price"),
        )
    )


PRICE_BAND_SQL = """
SELECT band, COUNT(*) AS part_count,
       ROUND(MIN(p_retailprice), 2) AS min_price,
       ROUND(MAX(p_retailprice), 2) AS max_price
FROM part
JOIN (VALUES ('budget', 0.0, 906.0),
             ('mid', 906.0, 913.0),
             ('premium', 913.0, 1e12)) AS b(band, lo, hi)
  ON p_retailprice >= lo AND p_retailprice < hi
GROUP BY band
"""


# ---------------------------------------------------------------------------
# Correlated-aggregate filter: orders priced far above their
# customer's average (window formulation on both sides — exact sums)
# ---------------------------------------------------------------------------

def orders_above_customer_avg(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_custkey")
    # decimal division + decimal round = exact HALF_UP — a double-side
    # ROUND can flip on .005 boundaries (sum/count lands there whenever
    # count divides the cent-sum), and the two engines' double-rounding
    # disagrees exactly there. The oracle mirrors this with integer
    # cent arithmetic.
    cavg_exact = F.round(
        dec_sum(F.col("o_totalprice"), 4).over(w) / F.count(F.lit(1)).over(w), 2
    ).cast("double")
    cavg_raw = (
        dec_sum(F.col("o_totalprice"), 4).over(w).cast("double")
        / F.count(F.lit(1)).over(w)
    )
    # materialize window values first — Spark (correctly) rejects
    # window expressions inside WHERE, so filter on projected columns
    return (
        orders.withColumn("_cavg", cavg_raw)
        .withColumn("cust_avg", cavg_exact)
        .filter(F.col("o_totalprice") > F.lit(1.5) * F.col("_cavg"))
        .select("o_orderkey", "o_custkey", "o_totalprice", "cust_avg")
    )


ORDERS_ABOVE_AVG_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice,
       -- exact half-up rounding of (cent_sum / n) via integer math
       ((s4 + 50 * n) // (100 * n)) / 100.0 AS cust_avg
FROM (
  SELECT o_orderkey, o_custkey, o_totalprice,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) OVER w * 10000
              AS HUGEINT) AS s4,
         COUNT(*) OVER w AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) OVER w AS DOUBLE)
           / COUNT(*) OVER w AS cavg
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey)
)
WHERE o_totalprice > 1.5 * cavg
"""


# ---------------------------------------------------------------------------
# Scalar string-function family over part names (F-family breadth on
# the shared corpus: case, length, regex extract, split, edit distance)
# ---------------------------------------------------------------------------

def part_name_features(spark: SparkSession, sf: str) -> DataFrame:
    part = load_table(spark, sf, "part")
    name = F.col("p_name")
    return part.select(
        "p_partkey",
        F.upper(name).alias("upper_name"),
        F.length(name).alias("name_len"),
        F.regexp_extract(name, r"^(\w+)", 1).alias("first_word"),
        F.size(F.split(name, r"\s+")).alias("n_words"),
        F.levenshtein(name, F.lower(F.col("p_type"))).alias("type_distance"),
        F.concat_ws("::", F.col("p_type"), name).alias("tagged_name"),
    )


PART_NAME_FEATURES_SQL = r"""
SELECT p_partkey,
       upper(p_name) AS upper_name,
       length(p_name) AS name_len,
       regexp_extract(p_name, '^(\w+)', 1) AS first_word,
       len(string_split_regex(p_name, '\s+')) AS n_words,
       levenshtein(p_name, lower(p_type)) AS type_distance,
       concat_ws('::', p_type, p_name) AS tagged_name
FROM part
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
# Multimodal: the oracle-checkable slice — payload byte length + sha256
# computed through the real mapInPandas plumbing (binary column, Arrow
# batches), cross-checked against DuckDB's blob functions.
# ---------------------------------------------------------------------------

def multimodal_meta(spark: SparkSession, sf: str) -> DataFrame:
    from ..multimodal.binary_ops import extract_image_features

    docs = load_table(spark, sf, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    return extract_image_features(media, fake=True).select(
        "media_id", "n_bytes", "sha256"
    )


MULTIMODAL_META_SQL = """
SELECT doc_id AS media_id,
       octet_length(encode(text)) AS n_bytes,
       sha256(text) AS sha256
FROM documents
"""


# Winnowing fingerprints are index state (one expensive UDF pass over
# the corpus, tiny output): build the parquet index once per corpus and
# answer pair queries from it. Round 1 re-fingerprinted per invocation.
# The writer's schema is kept next to the path, so a re-read runs no
# footer-reading job.
_WINNOW_INDEX_PATHS: dict[str, tuple[str, StructType]] = {}


def _winnow_index(spark: SparkSession, sf: str) -> DataFrame:
    import hashlib
    import os

    if sf not in _WINNOW_INDEX_PATHS:
        from ..operators.dedup import winnow_fingerprints

        tag = hashlib.md5(sf.encode()).hexdigest()[:10]
        path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.dirname(__file__))),
            ".index_cache",
            f"winnow_{tag}",
        )
        docs = load_table(spark, sf, "documents")
        index = winnow_fingerprints(docs).select("doc_id", "fingerprints")
        index.write.mode("overwrite").parquet(path)
        _WINNOW_INDEX_PATHS[sf] = path, index.schema
    path, schema = _WINNOW_INDEX_PATHS[sf]
    return spark.read.schema(schema).parquet(path)


def winnow_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Rows-only: winnowing (rolling-hash) fingerprint pairs — doc
    pairs sharing substrings of length ≥ k + w − 1. min_shared=12 sits
    above the p99.9 of the background shared-count distribution on
    this corpus (common phrasing shares a few fingerprints; true
    near-dups share dozens). Served from the persisted fingerprint
    index (see _winnow_index)."""
    from ..operators.dedup import winnow_pairs_from_fingerprints

    return winnow_pairs_from_fingerprints(_winnow_index(spark, sf), min_shared=12)


def frame_samples(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-stride 'frame' sampling over binary payloads (video-shaped
    path; byte-slice chunks under the fake codec). Fully oracled — the
    fake frame IS a byte slice of the UTF-8 payload, so DuckDB derives
    frame count/index from octet_length and the content hash itself
    via sha256(substring(text, …)). Precondition (checked at all
    shipped SFs): the documents corpus is pure ASCII, so DuckDB's
    character slicing equals the engine's byte slicing; a non-ASCII
    corpus drift would flag this row loudly rather than silently
    diverge."""
    from ..multimodal.binary_ops import sample_frames

    docs = load_table(spark, sf, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    return sample_frames(media, every_n_bytes=256, fake=True)\
        .sortWithinPartitions("media_id", "frame_idx")


def frame_dhash_dupes(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicate-frame detection across media via 64-bit perceptual
    difference hashes (multimodal/binary_ops.py::frame_dhash): groups
    of frames sharing a dhash, with how many media they span. Fully
    oracled — under the fake codec the hash is a pure byte function
    DuckDB recomputes bit for bit (same ASCII precondition as
    frame_samples; measured dup groups 15/11/146 at the shipped
    SFs)."""
    from ..multimodal.binary_ops import frame_dhash

    docs = load_table(spark, sf, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    return (
        frame_dhash(media, frame_bytes=256, fake=True)
        .groupBy("dhash")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.countDistinct("media_id").alias("n_media"),
        )
        .filter(F.col("n_frames") >= 2)
        .sortWithinPartitions("dhash")
    )


FRAME_DHASH_DUPES_SQL = """
WITH b AS (SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents),
w AS (SELECT doc_id, i,
             substring(text, CAST(i * 256 + 1 AS BIGINT), 256) AS frame
      FROM b, LATERAL (SELECT unnest(range(CAST(ceil(n / 256.0) AS BIGINT))) AS i)
      WHERE n > 0),
ff AS (SELECT doc_id, i, frame FROM w WHERE octet_length(encode(frame)) = 256),
dh AS (
  SELECT doc_id, i,
         string_agg(CASE WHEN unicode(substr(frame, CAST(4*j+1 AS BIGINT), 1))
                            > unicode(substr(frame, CAST(4*j+4 AS BIGINT), 1))
                    THEN '1' ELSE '0' END, '' ORDER BY j) AS dhash
  FROM ff, LATERAL (SELECT unnest(range(64)) AS j)
  GROUP BY doc_id, i
)
SELECT dhash, CAST(COUNT(*) AS BIGINT) AS n_frames,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_media
FROM dh
GROUP BY dhash
HAVING COUNT(*) >= 2
ORDER BY dhash
"""


FRAME_SAMPLES_SQL = """
WITH b AS (SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents),
w AS (SELECT doc_id, text, n,
             unnest(range(CAST(ceil(n / 256.0) AS BIGINT))) AS i
      FROM b WHERE n > 0)
SELECT doc_id AS media_id, CAST(i AS INT) AS frame_idx,
       sha256(substring(text, CAST(i * 256 + 1 AS BIGINT), 256)) AS frame_sha256
FROM w ORDER BY media_id, frame_idx
"""


def audio_windows(spark: SparkSession, sf: str) -> DataFrame:
    """Audio-shaped path: fixed-length PCM windowing (window_audio)
    over binary payloads, FULLY oracled including the energy features:
    under the fake 8-bit-PCM codec every output column is a pure
    function of the payload bytes, which DuckDB re-derives — window
    structure from octet_length, rms/peak from the per-character code
    points of the window substring (valid under the same checked
    ASCII precondition frame_samples documents). The rms comparison
    is exact, not approximate: (byte−128)² values are integers whose
    window sums stay < 2⁵³, so numpy's pairwise mean and DuckDB's
    sequential AVG produce the identical double before the shared
    sqrt/round — summation order cannot flip the hash."""
    from ..multimodal.binary_ops import window_audio

    docs = load_table(spark, sf, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    return (
        window_audio(media, window_samples=2048, fake=True)
        .select(
            "media_id",
            "window_idx",
            "n_samples",
            (F.round(F.col("rms"), 6) + 0.0).alias("rms"),
            "peak",
        )
        .sortWithinPartitions("media_id", "window_idx")
    )


AUDIO_WINDOWS_SQL = """
WITH b AS (SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents),
w AS (SELECT doc_id, text, n,
             unnest(range(CAST(ceil(n / 2048.0) AS BIGINT))) AS i
      FROM b WHERE n > 0),
s AS (SELECT doc_id, i,
             substring(text, CAST(i * 2048 + 1 AS BIGINT), 2048) AS win
      FROM w),
c AS (SELECT doc_id, i,
             unnest(list_transform(range(1, length(win) + 1),
                    j -> ascii(substring(win, CAST(j AS BIGINT), 1)) - 128)) AS v
      FROM s)
SELECT doc_id AS media_id, CAST(i AS INT) AS window_idx,
       CAST(COUNT(*) AS INT) AS n_samples,
       ROUND(sqrt(AVG(CAST(v * v AS DOUBLE))), 6) + 0.0 AS rms,
       CAST(MAX(abs(v)) AS INT) AS peak
FROM c GROUP BY doc_id, i ORDER BY media_id, window_idx
"""


# ---------------------------------------------------------------------------
# Fact-to-fact joins (TPC-H Q3/Q5 shapes): orders ⋈ lineitem is the
# big-big join where shuffle strategy matters — both sides hash-
# partition on the order key (sort-merge under AQE at scale; the
# at-rest answer is co-bucketing both tables on the key, see
# sinks.write_bucketed). Fixed-cardinality dims (nation=25, region=5)
# keep explicit broadcast hints; SF-scaled tables (customer, supplier,
# part) carry NO hint — AQE broadcasts them while they fit and flips
# to shuffle joins when they don't, which a hint would forbid forever.
# ---------------------------------------------------------------------------

def shipping_priority(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q3 shape: top-10 undelivered orders by revenue."""
    customer = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    revenue = F.col("l_extendedprice").cast("decimal(30,4)") * (
        F.lit(1).cast("decimal(30,4)") - F.col("l_discount").cast("decimal(30,4)")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .filter(
            (F.col("c_mktsegment") == "BUILDING")
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(revenue).cast("double"), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
        .select(
            "o_orderkey",
            F.unix_timestamp("o_orderdate").alias("orderdate_epoch"),
            "o_orderpriority",
            "revenue",
        )
    )


SHIPPING_PRIORITY_SQL = """
SELECT o_orderkey,
       CAST(floor(epoch(o_orderdate)) AS BIGINT) AS orderdate_epoch,
       o_orderpriority,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,4))
                 * (CAST(1 AS DECIMAL(30,4)) - CAST(l_discount AS DECIMAL(30,4))))
             AS DOUBLE), 2) AS revenue
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
  AND l.l_shipdate  > TIMESTAMP '1998-01-01'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


def supplier_volume_by_nation(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q5 shape: revenue by supplier nation — the 6-table join
    (two facts + four dims; nation/region hinted broadcast, supplier/
    customer left to AQE — they scale with SF)."""
    region = load_table(spark, sf, "region")
    nation = load_table(spark, sf, "nation")
    supplier = load_table(spark, sf, "supplier")
    orders = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    revenue = F.col("l_extendedprice").cast("decimal(30,4)") * (
        F.lit(1).cast("decimal(30,4)") - F.col("l_discount").cast("decimal(30,4)")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(revenue).cast("double"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("line_count"),
        )
    )


SUPPLIER_VOLUME_SQL = """
SELECT r_name, n_name,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,4))
                 * (CAST(1 AS DECIMAL(30,4)) - CAST(l_discount AS DECIMAL(30,4))))
             AS DOUBLE), 2) AS revenue,
       COUNT(*) AS line_count
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
GROUP BY r_name, n_name
"""


# ---------------------------------------------------------------------------
# IVF ANN (rows-only): k-means coarse quantizer + probed-list re-rank —
# the second approximate-similarity index family beside sign-LSH
# ---------------------------------------------------------------------------

def ivf_knn_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.similarity import get_ivf_centroids, ivf_knn

    emb = load_table(spark, sf, "embeddings")
    # index construction happens once per (corpus, nlist) — cached
    centroids = get_ivf_centroids(emb, sf, nlist=16)
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_knn(emb, queries, centroids, k=5, nprobe=4).select(
        "query_id", "neighbor_id", F.col("rank").cast("int").alias("rank")
    )


def pq_knn_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    """Rows-only: product-quantization ANN (Jégou et al. 2011) — the
    memory-bound index family beside sign-LSH and IVF. 64-dim float32
    vectors compress to 16 one-byte sub-codes (16×); the scan reads
    codes, ADC lookup tables score them, and only a per-query
    shortlist touches raw vectors for the exact re-rank. Measured
    recall@5 vs brute force at m=16/nbits=8/shortlist_mult=8: 1.0 at
    sf0.001, sf0.01 AND sf0.1 (the near-uniform regime where coarser
    m=8 codes drop to 0.74) — gated by `pq_recall_check`."""
    from ..operators.similarity import get_pq_codebooks, pq_encode, pq_knn

    emb = load_table(spark, sf, "embeddings")
    books = get_pq_codebooks(emb, sf, m=16, nbits=8)
    queries = emb.filter(F.col("vec_id") < 10)
    return pq_knn(pq_encode(emb, books), emb, queries, books, k=5).select(
        "query_id", "neighbor_id", F.col("rank").cast("int").alias("rank")
    )


def ivfpq_knn_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    """Rows-only: the COMPOSED IVF-PQ index (round 7) — coarse
    k-means routing to probed lists, PQ/ADC scoring inside them, the
    classic Faiss IndexIVFPQ pairing that bounds BOTH the scan (only
    probed lists) and the bytes per candidate (m codes). nprobe=10 of
    nlist=16 at the test corpus's near-uniform geometry (same probe
    breadth knn_recall_check uses for IVF-Flat); gated by
    `ivfpq_recall_check` in the driver suite."""
    from ..operators.similarity import (
        get_ivf_centroids,
        get_pq_codebooks,
        ivfpq_knn,
    )

    emb = load_table(spark, sf, "embeddings")
    centroids = get_ivf_centroids(emb, sf, nlist=16)
    books = get_pq_codebooks(emb, sf, m=16, nbits=8)
    queries = emb.filter(F.col("vec_id") < 10)
    return ivfpq_knn(
        emb, queries, centroids, books, k=5, nprobe=10
    ).select(
        "query_id", "neighbor_id", F.col("rank").cast("int").alias("rank")
    )


# ---------------------------------------------------------------------------
# Analytic-function breadth: ntile / percent_rank / dense_rank
# ---------------------------------------------------------------------------

def customer_balance_tiles(spark: SparkSession, sf: str) -> DataFrame:
    """Global ranking functions WITHOUT a global single-partition
    window (converted from the round-1 ntile/percent_rank/dense_rank
    window once operators/ranks.py existed — customer is dim-sized
    today but is a 15B-row fact at 100 TB). The full sort key
    (c_acctbal DESC, c_custkey ASC) contains the unique primary key,
    so every row is order-distinct and the three analytics collapse to
    functions of the row number i and the count n: NTILE via
    ntile_expr's exact integer placement, PERCENT_RANK = (i-1)/(n-1)
    (RANK = i when tie-free), DENSE_RANK = i (each row a distinct sort
    value). The DuckDB oracle keeps the plain NTILE/PERCENT_RANK/
    DENSE_RANK window, so every hash match re-proves the collapse."""
    from ..operators.ranks import ntile_expr, parallel_row_number

    customer = load_table(spark, sf, "customer")
    ranked = parallel_row_number(
        customer.withColumn("_negbal", -F.col("c_acctbal")),
        "_negbal",
        ["c_custkey"],
        out_col="i",
    )
    n = customer.agg(F.count(F.lit(1)).alias("n_total"))  # 1-row side
    return ranked.crossJoin(F.broadcast(n)).select(
        "c_custkey",
        "c_acctbal",
        ntile_expr("i", "n_total", 4).alias("quartile"),
        F.round(
            # n = 1 edge: PERCENT_RANK is defined as 0.0, not 0/0
            F.when(F.col("n_total") == 1, F.lit(0.0)).otherwise(
                (F.col("i") - 1).cast("double")
                / (F.col("n_total") - 1).cast("double")
            ),
            6,
        ).alias("pct_rank"),
        F.col("i").cast("int").alias("drank"),
    )


CUSTOMER_TILES_SQL = """
SELECT c_custkey, c_acctbal,
       CAST(NTILE(4) OVER w AS INT) AS quartile,
       ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
       DENSE_RANK() OVER w AS drank
FROM customer
WINDOW w AS (ORDER BY c_acctbal DESC, c_custkey ASC)
"""


# ---------------------------------------------------------------------------
# Temporal-function family: truncation, components, arithmetic
# ---------------------------------------------------------------------------

def order_date_features(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    d = F.col("o_orderdate")
    return orders.select(
        "o_orderkey",
        F.year(d).cast("int").alias("yr"),
        F.quarter(d).cast("int").alias("qtr"),
        F.month(d).cast("int").alias("mth"),
        F.dayofmonth(d).cast("int").alias("dom"),
        F.unix_timestamp(F.date_trunc("month", d)).alias("month_start_epoch"),
        F.datediff(F.lit("2000-01-01").cast("date"), d.cast("date")).cast(
            "int"
        ).alias("days_to_y2k"),
        F.unix_timestamp(F.date_add(d.cast("date"), 90).cast("timestamp")).alias(
            "due_epoch"
        ),
    )


ORDER_DATE_FEATURES_SQL = """
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INT) AS yr,
       CAST(quarter(o_orderdate) AS INT) AS qtr,
       CAST(month(o_orderdate) AS INT) AS mth,
       CAST(day(o_orderdate) AS INT) AS dom,
       CAST(floor(epoch(date_trunc('month', o_orderdate))) AS BIGINT)
         AS month_start_epoch,
       CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS INT)
         AS days_to_y2k,
       CAST(floor(epoch(CAST(CAST(o_orderdate AS DATE) + INTERVAL 90 DAY
                             AS TIMESTAMP))) AS BIGINT) AS due_epoch
FROM orders
"""


# ---------------------------------------------------------------------------
# TF-IDF: term frequency × inverse document frequency, top-3 terms per
# doc. Two linear shuffles (tf groupBy, df groupBy) + a broadcast-able
# join of the term-df table; the per-doc top-k is one keyed window.
# ln() agrees to the ulp across engines; scores round at 6 digits.
# ---------------------------------------------------------------------------

def tfidf_top_terms(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions.text import bpe_ish_tokens
    from ..operators.topk import top_k_per_group

    docs = load_table(spark, sf, "documents")
    n_docs = docs.count()  # scalar for idf; one cheap count-only scan

    terms = docs.select(
        "doc_id", F.explode(bpe_ish_tokens(F.col("text"))).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_tbl = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(df_tbl, "term").withColumn(
        "tfidf",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
        ),
    )
    return top_k_per_group(
        scored,
        ["doc_id"],
        [F.col("tfidf").desc(), F.col("term").asc()],
        3,
    ).select("doc_id", "term", "tfidf", F.col("rank").cast("int").alias("rank"))


TFIDF_SQL = r"""
WITH terms AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '[^\w'']+'),
                            x -> x != '')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, term, tfidf,
         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                 ORDER BY tfidf DESC, term ASC) AS INT) AS rank
  FROM scored
)
SELECT doc_id, term, tfidf, rank FROM ranked WHERE rank <= 3
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
# Sketches: HyperLogLog approximate distinct. Spark's HLL++ and
# DuckDB's sketch disagree on the raw estimate by construction, so the
# oracle-able output is the tolerance-predicate form: exact counts
# (independently recomputed by DuckDB) + a within-tolerance boolean
# whose expected value the oracle states as a literal. Spark's sketch
# is deterministic, so the boolean is stable — the driver hash now
# enforces sketch accuracy instead of recording a rows-only count.
# ---------------------------------------------------------------------------

def approx_distinct_summary(spark: SparkSession, sf: str) -> DataFrame:
    """approx_count_distinct (rsd=0.02) vs exact — the 100 TB path
    replaces exact countDistinct with the sketch (one pass, constant
    memory, no expand-based two-phase aggregation). Tolerance 0.05 =
    2.5× the configured rsd."""
    li = load_table(spark, sf, "lineitem")
    # one agg per distinct column, stitched with 1-row cross joins —
    # multiple exact distincts in a single aggregate would force an
    # N-way Expand (N copies of every input row through the shuffle)
    approx = li.agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
    )
    exact_orders = li.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("exact_orders")
    )
    exact_parts = li.select("l_partkey").distinct().agg(
        F.count(F.lit(1)).alias("exact_parts")
    )
    tol = 0.05
    return (
        approx.crossJoin(exact_orders)
        .crossJoin(exact_parts)
        .select(
            "exact_orders",
            "exact_parts",
            (
                F.abs(
                    F.col("approx_orders") / F.col("exact_orders") - 1.0
                )
                <= tol
            ).alias("orders_within_tol"),
            (
                F.abs(F.col("approx_parts") / F.col("exact_parts") - 1.0)
                <= tol
            ).alias("parts_within_tol"),
        )
    )


APPROX_DISTINCT_SQL = """
SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
       TRUE AS orders_within_tol,
       TRUE AS parts_within_tol
FROM lineitem
"""


EXT_QUERIES = {
    "set_ops_summary": (set_ops_summary, SET_OPS_SQL),
    "cube_lineitem": (cube_lineitem, CUBE_LINEITEM_SQL),
    "event_deltas": (event_deltas, EVENT_DELTAS_SQL),
    "user_moving_avg": (user_moving_avg, USER_MOVING_AVG_SQL),
    "price_quantiles_by_segment": (price_quantiles_by_segment, PRICE_QUANTILES_SQL),
    "purchase_attribution": (purchase_attribution, PURCHASE_ATTRIBUTION_SQL),
    "price_band_summary": (price_band_summary, PRICE_BAND_SQL),
    "orders_above_customer_avg": (orders_above_customer_avg, ORDERS_ABOVE_AVG_SQL),
    "part_name_features": (part_name_features, PART_NAME_FEATURES_SQL),
    "events_sliding_windows": (events_sliding_windows, EVENTS_SLIDING_SQL),
    "multimodal_meta": (multimodal_meta, MULTIMODAL_META_SQL),
    "json_props_stats": (json_props_stats, JSON_PROPS_SQL),
    "shipping_priority": (shipping_priority, SHIPPING_PRIORITY_SQL),
    "tfidf_top_terms": (tfidf_top_terms, TFIDF_SQL),
    "customer_balance_tiles": (customer_balance_tiles, CUSTOMER_TILES_SQL),
    "order_date_features": (order_date_features, ORDER_DATE_FEATURES_SQL),
    "supplier_volume_by_nation": (supplier_volume_by_nation, SUPPLIER_VOLUME_SQL),
    "approx_distinct_summary": (approx_distinct_summary, APPROX_DISTINCT_SQL),
    # rows-only: ivf/winnow raw outputs are approximate/rolling-hash —
    # their semantics are driver-gated via verification.py check twins
    "frame_samples": (frame_samples, FRAME_SAMPLES_SQL),
    "frame_dhash_dupes": (frame_dhash_dupes, FRAME_DHASH_DUPES_SQL),
    "audio_windows": (audio_windows, AUDIO_WINDOWS_SQL),
    "ivf_knn_embeddings": (ivf_knn_embeddings, None),
    "pq_knn_embeddings": (pq_knn_embeddings, None),
    "ivfpq_knn_embeddings": (ivfpq_knn_embeddings, None),
    "winnow_pairs": (winnow_pairs, None),
}
