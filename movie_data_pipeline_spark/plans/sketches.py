"""Mergeable-sketch plans: HyperLogLog distinct counts, approximate
quantiles and top-k, KMV distinct-set algebra, AMS frequency moments,
Bloom-filter decontamination and the count-min sketch
(operators/sketches.py, operators/decontam.py).

Each estimate entry is rows-only and sits beside an oracled check that
pins the sketch's error law against the exact answer DuckDB
recomputes; the law booleans ride as TRUE literals (the suite-gate
convention of plans/verification.py), and the checks fold into
``approx_suite_check``.

Every entry is a (builder, SQL twin) pair registered in
plans/analytics.py and follows the determinism rules stated there.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.decontam import (
    _gram_hashes,
    benchmark_decontamination,
    bloom_decontamination,
    bloom_hit_grams,
)
from ..operators.sketches import cms_estimates, cms_sketch, kmv_overlap, kmv_sketches
from ..sources.catalog import load_events, load_table


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


# ---------------------------------------------------------------------------
# KMV distinct sketches with set algebra and AMS frequency-moment
# sketches, each a rows-only estimate entry behind an oracled error-
# bound gate.
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# KMV distinct sketches with set algebra (operators/sketches.py):
# customer-audience overlap between order priorities from bottom-k
# hash sketches alone. approx_count_distinct's HLL state cannot be
# intersected; KMV's can, which is the 100 TB answer to "how many
# customers do segments A and B share" without a key-domain self-join
# per pair. Deterministic (xxhash64) — the estimates are stable
# numbers, but no SQL engine reproduces Spark's xxhash64, so the
# estimate entry is rows-only and the _check gate (oracled) pins each
# estimate against the Spark-side EXACT overlap within the theoretical
# KMV error bound.
# ---------------------------------------------------------------------------

_KMV_K = 512


# relative standard error of the KMV estimator ~ 1/sqrt(k-2)
_KMV_RSE = 1.0 / (float(_KMV_K - 2) ** 0.5)


def kmv_priority_overlap(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    sk = kmv_sketches(orders, "o_orderpriority", "o_custkey", k=_KMV_K)
    out = kmv_overlap(sk, "o_orderpriority", k=_KMV_K)
    return out.select(
        "g_a",
        "g_b",
        F.round("est_a", 2).alias("est_a"),
        F.round("est_b", 2).alias("est_b"),
        F.round("est_union", 2).alias("est_union"),
        F.round("est_intersection", 2).alias("est_intersection"),
        F.round("jaccard_est", 4).alias("jaccard_est"),
    ).orderBy("g_a", "g_b")


def kmv_overlap_check(spark: SparkSession, sf: str) -> DataFrame:
    """Gate: every sketch estimate lands within its theoretical bound
    of the exact value (exacts recomputed by the DuckDB oracle; the
    booleans must come back TRUE from both engines).

    Bounds: 4x rse for distinct/union (Bar-Yossef et al.); the
    intersection estimate compounds rho's sampling error with the
    union estimate's, so its ABSOLUTE error is gated at 6x rse of the
    exact union (Beyer et al., SIGMOD'07 give the variance scaling in
    the union, not the intersection, size).
    """
    orders = load_table(spark, sf, "orders")
    sk = kmv_sketches(orders, "o_orderpriority", "o_custkey", k=_KMV_K)
    est = kmv_overlap(sk, "o_orderpriority", k=_KMV_K)

    d = orders.select(
        F.col("o_orderpriority").alias("p"), F.col("o_custkey").alias("c")
    ).distinct()
    exact_per = d.groupBy("p").agg(F.count(F.lit(1)).alias("exact_n"))
    inter = (
        d.alias("x")
        .join(d.alias("y"), (F.col("x.c") == F.col("y.c")) & (F.col("x.p") < F.col("y.p")))
        .groupBy(F.col("x.p").alias("g_a"), F.col("y.p").alias("g_b"))
        .agg(F.count(F.lit(1)).alias("exact_inter"))
    )
    # All unordered pairs from the per-group counts, LEFT-joined with
    # the intersection counts and coalesced to 0 (r11 ADVICE): an
    # inner join on `inter` silently dropped any DISJOINT pair —
    # exactly the pair whose est_intersection most needs gating.
    exact = (
        exact_per.select(
            F.col("p").alias("g_a"), F.col("exact_n").alias("exact_a")
        )
        .join(
            exact_per.select(
                F.col("p").alias("g_b"), F.col("exact_n").alias("exact_b")
            ),
            F.col("g_a") < F.col("g_b"),
        )
        .join(inter, ["g_a", "g_b"], "left")
        .withColumn("exact_inter", F.coalesce("exact_inter", F.lit(0)))
        .withColumn(
            "exact_union",
            F.col("exact_a") + F.col("exact_b") - F.col("exact_inter"),
        )
    )
    rel_bound = F.lit(4.0 * _KMV_RSE)
    joined = est.join(exact, ["g_a", "g_b"])
    return joined.select(
        "g_a",
        "g_b",
        F.col("exact_a").cast("long").alias("exact_a"),
        F.col("exact_b").cast("long").alias("exact_b"),
        F.col("exact_union").cast("long").alias("exact_union"),
        F.col("exact_inter").cast("long").alias("exact_inter"),
        (
            (F.abs(F.col("est_a") - F.col("exact_a")) / F.col("exact_a") <= rel_bound)
            & (F.abs(F.col("est_b") - F.col("exact_b")) / F.col("exact_b") <= rel_bound)
        ).alias("distinct_in_bound"),
        (
            F.abs(F.col("est_union") - F.col("exact_union")) / F.col("exact_union")
            <= rel_bound
        ).alias("union_in_bound"),
        (
            F.abs(F.col("est_intersection") - F.col("exact_inter"))
            <= F.lit(6.0 * _KMV_RSE) * F.col("exact_union")
        ).alias("inter_in_bound"),
    ).orderBy("g_a", "g_b")


KMV_OVERLAP_CHECK_SQL = """
WITH d AS (
    SELECT DISTINCT o_orderpriority AS p, o_custkey AS c FROM orders
),
per AS (
    SELECT p, COUNT(*) AS exact_n FROM d GROUP BY p
),
inter AS (
    SELECT x.p AS g_a, y.p AS g_b, COUNT(*) AS exact_inter
    FROM d x JOIN d y ON x.c = y.c AND x.p < y.p
    GROUP BY x.p, y.p
),
pair AS (
    -- every unordered pair, disjoint ones included (coalesce 0):
    -- an inner join on `inter` would drop exactly the pair whose
    -- est_intersection most needs gating
    SELECT pa.p AS g_a, pb.p AS g_b,
           pa.exact_n AS exact_a, pb.exact_n AS exact_b,
           COALESCE(i.exact_inter, 0) AS exact_inter
    FROM per pa
    JOIN per pb ON pa.p < pb.p
    LEFT JOIN inter i ON i.g_a = pa.p AND i.g_b = pb.p
)
SELECT g_a, g_b,
       CAST(exact_a AS BIGINT) AS exact_a,
       CAST(exact_b AS BIGINT) AS exact_b,
       CAST(exact_a + exact_b - exact_inter AS BIGINT) AS exact_union,
       CAST(exact_inter AS BIGINT) AS exact_inter,
       TRUE AS distinct_in_bound,
       TRUE AS union_in_bound,
       TRUE AS inter_in_bound
FROM pair
ORDER BY g_a, g_b
"""


# ---------------------------------------------------------------------------
# AMS sign sketches (operators/sketches.py): F2 / join-size estimation
# in one aggregate pass — the planner statistics (self-join size, skew
# mass, pre-join cardinality) a 100 TB engine wants without running
# the join or a per-key groupBy. Deterministic replica-seeded
# xxhash64; the estimates are rows-only (no SQL engine reproduces the
# signs) and the _check gate pins the one observed error against the
# AMS theory bound with exacts the oracle recomputes.
# ---------------------------------------------------------------------------

_AMS_S2 = 32  # replicas averaged per group (Var[mean] <= 2*F2^2/s2)


_AMS_S1 = 5   # means medianed (tail bound)


def ams_skew_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Per-column one-pass skew diagnostics on lineitem: estimated
    self-join size (F2) and the F2/n ratio (mean collision weight) that
    decides whether a key needs salting. Rows-only; gated below."""
    from ..operators.sketches import ams_f2_estimate

    li = load_table(spark, sf, "lineitem")
    parts = []
    for col in ("l_partkey", "l_suppkey", "l_orderkey"):
        est = ams_f2_estimate(li, col, _AMS_S2, _AMS_S1).select(
            F.lit(col).alias("column_name"),
            "n_rows",
            F.round("est_f2", 1).alias("est_f2"),
            F.round(F.col("est_f2") / F.col("n_rows"), 3).alias(
                "est_mean_collisions"
            ),
        )
        parts.append(est)
    out = parts[0]
    for p in parts[1:]:
        out = out.union(p)
    return out.orderBy("column_name")


def ams_moment_check(spark: SparkSession, sf: str) -> DataFrame:
    """Gate: the F2 estimate lands within 2 sigma of the mean-of-32
    estimator (|est - F2| <= 0.5 * F2, since Var[mean] <= 2*F2^2/32)
    and the click-purchase join-size estimate within its 2 sigma
    (|est - J| <= 2*sqrt(2*F2_clicks*F2_purchases/32)). Exact F2s and
    the exact join size are recomputed by the DuckDB oracle; observed
    rel errs at build time: F2 0.080/0.030, join 0.018/0.168 at
    sf0.001/0.01 — inside bound at both."""
    from ..operators.sketches import ams_f2_estimate, ams_join_size_estimate

    li = load_table(spark, sf, "lineitem")
    ev = load_table(spark, sf, "events").select("user_id", "event_type")
    clicks = ev.filter(F.col("event_type") == "click")
    purch = ev.filter(F.col("event_type") == "purchase")

    est_f2 = ams_f2_estimate(li, "l_partkey", _AMS_S2, _AMS_S1)
    exact_f2 = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.col("c") * F.col("c")).alias("f2_partkey_exact"))
    )
    est_j = ams_join_size_estimate(
        clicks, "user_id", purch, "user_id", _AMS_S2, _AMS_S1
    ).select("est_join_rows")
    exact_j = (
        clicks.join(purch, "user_id")
        .agg(F.count(F.lit(1)).alias("join_exact"))
    )

    def _f2(df, key, name):
        return (
            df.groupBy(key)
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(F.sum(F.col("c") * F.col("c")).alias(name))
        )

    f2a = _f2(clicks, "user_id", "f2_clicks_exact")
    f2b = _f2(purch, "user_id", "f2_purchases_exact")

    # five 1-row sides — bounded crossJoins, the repo's scalar pattern
    row = (
        est_f2.crossJoin(exact_f2)
        .crossJoin(est_j)
        .crossJoin(exact_j)
        .crossJoin(f2a)
        .crossJoin(f2b)
    )
    join_bound = F.lit(2.0) * F.sqrt(
        F.lit(2.0)
        * F.col("f2_clicks_exact")
        * F.col("f2_purchases_exact")
        / F.lit(float(_AMS_S2))
    )
    return row.select(
        F.col("n_rows").cast("long").alias("n_lineitem"),
        F.col("f2_partkey_exact").cast("long").alias("f2_partkey_exact"),
        F.col("join_exact").cast("long").alias("join_clicks_purchases_exact"),
        F.col("f2_clicks_exact").cast("long").alias("f2_clicks_exact"),
        F.col("f2_purchases_exact").cast("long").alias("f2_purchases_exact"),
        (
            F.abs(F.col("est_f2") - F.col("f2_partkey_exact"))
            <= 0.5 * F.col("f2_partkey_exact")
        ).alias("f2_within_bound"),
        (F.abs(F.col("est_join_rows") - F.col("join_exact")) <= join_bound).alias(
            "join_within_bound"
        ),
    )


AMS_MOMENT_CHECK_SQL = """
WITH f2p AS (
    SELECT SUM(c * c) AS f2_partkey_exact
    FROM (SELECT COUNT(*) AS c FROM lineitem GROUP BY l_partkey)
),
jx AS (
    SELECT COUNT(*) AS join_exact
    FROM (SELECT user_id FROM events WHERE event_type = 'click') a
    JOIN (SELECT user_id FROM events WHERE event_type = 'purchase') b
      USING (user_id)
),
f2a AS (
    SELECT SUM(c * c) AS f2_clicks_exact
    FROM (SELECT COUNT(*) AS c FROM events
          WHERE event_type = 'click' GROUP BY user_id)
),
f2b AS (
    SELECT SUM(c * c) AS f2_purchases_exact
    FROM (SELECT COUNT(*) AS c FROM events
          WHERE event_type = 'purchase' GROUP BY user_id)
)
SELECT CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n_lineitem,
       CAST(f2p.f2_partkey_exact AS BIGINT) AS f2_partkey_exact,
       CAST(jx.join_exact AS BIGINT) AS join_clicks_purchases_exact,
       CAST(f2a.f2_clicks_exact AS BIGINT) AS f2_clicks_exact,
       CAST(f2b.f2_purchases_exact AS BIGINT) AS f2_purchases_exact,
       TRUE AS f2_within_bound,
       TRUE AS join_within_bound
FROM f2p, jx, f2a, f2b
"""


# ---------------------------------------------------------------------------
# Bloom-filter decontamination — the membership-probe path for reference
# sets too large to broadcast exactly (operators/decontam.py's module
# comment derives the ~5-8x shrink vs the 64-bit gram-hash set). The
# filter is a RELATION of (word_idx, word) bitmap rows, built by
# groupBy+bit_or and probed by a broadcast join — never a driver-side
# object. All pure JVM Column algebra (xxhash64 / pmod / shiftleft /
# bit_or).
#
# `bloom_decontaminate_docs` (rows-only): the operator output over the
# same pseudo-benchmark split as `decontaminate_docs` (plans/curation.py
# — doc_id % 50 == 0 stands in for an eval suite, n=8 on the short
# synthetic docs). No SQL twin: the bitmap semantics are not DuckDB-
# expressible, which is exactly why the gate below exists.
#
# `bloom_decontam_check` (oracled, 1-row digest): proves the two laws
# Bloom guarantees analytically. (a) NO FALSE NEGATIVES — every document
# the exact operator flags is Bloom-flagged (a truly shared gram sets
# all its bits by construction, so a miss is impossible; the gate
# measures it anyway because it would catch any build/probe hash-
# derivation drift). (b) the gram-level false-positive rate is within 4x
# the classic (1 - e^{-kn/m})^k bound plus a +10 absolute Poisson-tail
# slack (tiny corpora have single-digit expected fp counts, where a 4x
# multiplicative band alone would flake). DuckDB recomputes the EXACT
# side (docs + pairs, the decontaminate_docs twin's CTEs); the booleans
# ride as TRUE literals the Spark side must match — the suite-gate
# convention (plans/verification.py).
#
# Scale posture: bitmap construction shuffles k 8-byte positions per
# distinct reference gram into m/64 bitmap rows; the probe is one narrow
# corpus scan exploding k positions per gram against the broadcast
# bitmap, then a (doc_id, ng) partial-aggregated count — no corpus text
# is ever shuffled and nothing corpus-sized reaches the driver. At a
# real 100 TB run m is sized to the reference corpus (9.6 bits/gram at
# 1% fp) and the bitmap stays a few GB where the exact hash set would be
# tens.
# ---------------------------------------------------------------------------


# Registry parameters: n=8 matches decontaminate_docs on the short
# synthetic docs; m=2^17 bits / k=7 put the sf0.01 bench-gram load
# (~10^3-10^4 grams) in the classic low-fp regime while keeping the
# bitmap at <= 2048 rows.
_N = 8


_M_BITS = 1 << 17


_K = 7


def _split(spark: SparkSession, sf: str) -> tuple[DataFrame, DataFrame]:
    docs = load_table(spark, sf, "documents")
    return (
        docs.filter(F.col("doc_id") % 50 != 0),
        docs.filter(F.col("doc_id") % 50 == 0),
    )


def bloom_decontaminate_docs(spark: SparkSession, sf: str) -> DataFrame:
    train, bench = _split(spark, sf)
    return bloom_decontamination(
        train, bench, n=_N, m_bits=_M_BITS, k=_K
    ).orderBy("doc_id")


def bloom_decontam_check(spark: SparkSession, sf: str) -> DataFrame:
    train, bench = _split(spark, sf)
    exact = benchmark_decontamination(train, bench, n=_N)
    ex_agg = exact.agg(
        F.countDistinct("doc_id").cast("long").alias("n_exact_docs"),
        F.count(F.lit(1)).cast("long").alias("n_exact_pairs"),
    )
    bl_docs = bloom_decontamination(
        train, bench, n=_N, m_bits=_M_BITS, k=_K
    ).select("doc_id")
    fn = (
        exact.select("doc_id")
        .distinct()
        .join(bl_docs, "doc_id", "left_anti")
        .agg(F.count(F.lit(1)).alias("n_fn"))
    )
    # gram-level fp accounting: probes = per-doc distinct train grams,
    # members = probes truly present in the reference gram set,
    # hits = probes the bitmap cannot rule out (member + fp)
    probes = _gram_hashes(train, "doc_id", _N, "doc_id", "text")
    b_grams = (
        _gram_hashes(bench, "bench_id", _N, "doc_id", "text")
        .select("ng")
        .distinct()
    )
    hits = bloom_hit_grams(train, bench, n=_N, m_bits=_M_BITS, k=_K)
    stats = (
        probes.agg(F.count(F.lit(1)).cast("double").alias("n_probe"))
        .crossJoin(
            F.broadcast(
                probes.join(F.broadcast(b_grams), "ng").agg(
                    F.count(F.lit(1)).cast("double").alias("n_member")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                hits.agg(F.count(F.lit(1)).cast("double").alias("n_hit"))
            )
        )
        .crossJoin(
            F.broadcast(
                b_grams.agg(
                    F.count(F.lit(1)).cast("double").alias("n_bench_grams")
                )
            )
        )
    )
    fp_bound = F.pow(
        F.lit(1.0)
        - F.exp(-F.lit(float(_K)) * F.col("n_bench_grams") / F.lit(float(_M_BITS))),
        F.lit(float(_K)),
    )
    return (
        ex_agg.crossJoin(F.broadcast(fn))
        .crossJoin(F.broadcast(stats))
        .select(
            "n_exact_docs",
            "n_exact_pairs",
            (F.col("n_fn") == 0).alias("no_false_neg"),
            (
                (F.col("n_hit") - F.col("n_member"))
                <= fp_bound * (F.col("n_probe") - F.col("n_member")) * 4
                + F.lit(10.0)
            ).alias("fp_bound_ok"),
        )
    )


# DuckDB twin: the exact side only (decontaminate_docs' proven CTEs,
# n=8 -> 7-element windows in DuckDB's 1-based inclusive slicing);
# the Bloom-side booleans are TRUE literals the Spark row must match.
BLOOM_DECONTAM_CHECK_SQL = r"""
WITH g AS (
  SELECT doc_id,
         unnest(list_distinct(
           CASE WHEN len(toks) >= 8
                THEN list_transform(range(1, len(toks) - 6),
                                    i -> array_to_string(toks[i:i+7], ' '))
                ELSE [array_to_string(toks, ' ')] END)) AS ng
  FROM (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '[^\w'']+'),
                       x -> x != '') AS toks
    FROM documents
  )
),
b AS (SELECT doc_id AS bench_id, ng FROM g WHERE doc_id % 50 = 0),
tr AS (SELECT doc_id, ng FROM g WHERE doc_id % 50 != 0),
p AS (
  SELECT tr.doc_id, b.bench_id
  FROM tr JOIN b USING (ng)
  GROUP BY tr.doc_id, b.bench_id
)
SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_exact_docs,
       CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
       TRUE AS no_false_neg, TRUE AS fp_bound_ok
FROM p
"""


# ---------------------------------------------------------------------------
# Count-min sketch — the frequency member of the mergeable-sketch
# family. The sketch is a RELATION of sparse (row_idx, pos, cnt) counter
# cells bounded at width*depth, built by one map-side-combined groupBy
# and probed by a broadcast join — all JVM Column algebra, nothing
# driver-side.
#
# `cms_part_frequencies` (rows-only): per-key frequency estimates for a
# deterministic probe subset of lineitem part keys (l_partkey % 97 ==
# 0), from a width=4096 / depth=5 sketch over the whole fact table.
# Estimates are not DuckDB-expressible (the rows-only + oracled-gate
# contract, the Bloom/ANN precedent).
#
# `cms_check` (oracled, 1-row digest): the two CMS laws. (a) NO
# UNDERESTIMATE — est >= true count for every probed key, structural (a
# key's own occurrences always land in its counters). (b) the overshoot
# is collision mass: E[overshoot] <= N/width per row and the min over
# depth=5 independent rows drives the tail down geometrically (Cormode &
# Muthukrishnan 2005), so est - true <= 8*(N/width) + 20 with failure
# probability ~(1/8)^5 per key — and the xxhash64 positions are
# DETERMINISTIC given the data, so at a fixed SF the check either always
# passes or always fails: no flake, just a pinned bound. DuckDB
# recomputes the exact side (fact rows, probe count); the law booleans
# ride as TRUE literals (the suite-gate convention). Folds into
# approx_suite_check as the 19th driver-enforced family.
#
# Scale posture: the build shuffles at most width*depth counter cells
# regardless of fact cardinality (map-side combine does the heavy fold);
# the probe broadcasts those same <= 20480 cells. Partials merge by per-
# cell addition, so the streaming twin
# (streaming/sketches.py::run_streaming_cms) rides the byte-identical-
# partial replay discipline exactly like AMS.
# ---------------------------------------------------------------------------


_WIDTH = 4096


_DEPTH = 5


def _fact_and_probes(
    spark: SparkSession, sf: str
) -> tuple[DataFrame, DataFrame]:
    li = load_table(spark, sf, "lineitem").select("l_partkey")
    probes = li.filter(F.col("l_partkey") % 97 == 0).distinct()
    return li, probes


def cms_part_frequencies(spark: SparkSession, sf: str) -> DataFrame:
    li, probes = _fact_and_probes(spark, sf)
    sk = cms_sketch(li, "l_partkey", width=_WIDTH, depth=_DEPTH)
    return (
        cms_estimates(sk, probes, "l_partkey", width=_WIDTH, depth=_DEPTH)
        .select("l_partkey", F.col("est").cast("long").alias("est_cnt"))
        .orderBy("l_partkey")
    )


def cms_check(spark: SparkSession, sf: str) -> DataFrame:
    li, probes = _fact_and_probes(spark, sf)
    sk = cms_sketch(li, "l_partkey", width=_WIDTH, depth=_DEPTH)
    est = cms_estimates(sk, probes, "l_partkey", width=_WIDTH, depth=_DEPTH)
    true = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("tru"))
    joined = est.join(true, "l_partkey", "left").select(
        "l_partkey",
        "est",
        F.coalesce(F.col("tru"), F.lit(0)).alias("tru"),
    )
    n_rows = li.agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    bound = F.col("n_rows").cast("double") / F.lit(float(_WIDTH)) * 8 + 20
    return (
        joined.agg(
            F.count(F.lit(1)).cast("long").alias("n_probes"),
            F.bool_and(F.col("est") >= F.col("tru")).alias("no_under"),
            F.max(F.col("est") - F.col("tru")).alias("_max_over"),
        )
        .crossJoin(F.broadcast(n_rows))
        .select(
            "n_rows",
            "n_probes",
            F.col("no_under").alias("no_underestimate"),
            (F.col("_max_over").cast("double") <= bound).alias("bound_ok"),
        )
    )


# DuckDB twin: exact side only (fact cardinality + probe-key count);
# the CMS laws ride as TRUE literals the Spark row must match.
CMS_CHECK_SQL = r"""
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_rows,
       (SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT)
        FROM lineitem WHERE l_partkey % 97 = 0) AS n_probes,
       TRUE AS no_underestimate, TRUE AS bound_ok
"""
