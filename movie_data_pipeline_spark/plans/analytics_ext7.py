"""Seventh registry batch (round 8): retrieval fusion, graph
reachability, multi-objective pruning, ranking evaluation, and
co-occurrence mining —

- reciprocal-rank fusion of a lexical (BM25) and a vector (cosine
  KNN) ranking — the standard hybrid-search combiner (Cormack et
  al., SIGIR'09: score = Σ 1/(60+rank) over the fused lists);
- multi-source BFS hop distance over the derived trade graph —
  iterative frontier expansion on the Spark side, a recursive CTE in
  the DuckDB twin, exact-int output so the hash compares the whole
  reachability map;
- a two-phase distributed skyline (Pareto frontier: min price, max
  size) — partition-local dominance pruning bounds the global pass
  by (#partitions × #distinct sizes), the classic
  sort-filter-skyline decomposition;
- NDCG@20 ranking quality for the deterministic sigmoid scorer
  against the graded labels (positions' 1/log2(pos+1) discount
  weights are Python-computed literals embedded in BOTH engines'
  plans, so libm log2 ULP drift can never flip the hash);
- item-item co-purchase cosine affinity (co-count normalized by
  √(deg·deg)) with exact top-k.

Same contract rules as plans/analytics.py: identical column aliases
in the DataFrame plan and the DuckDB oracle SQL, per-term rounding
BEFORE exact decimal sums, deterministic total-order sort keys, IEEE
sqrt (never pow) for cross-engine bit-exactness, and broadcast hints
only on relations bounded by construction (here: the ≤50-row fused
rank lists).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.ranks import constant_partition_key
from ..sources.catalog import load_table
from .columns import SIGMOID_SCORE_SQL, dec_sum, sigmoid_score


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of BM25 and embedding KNN.
#
# The two source rankings are the registry's own proven-deterministic
# retrieval queries (bm25_top_docs rounds scores to 3 before ranking;
# brute_force_knn breaks cosine ties on neighbor id — both
# hash-green against DuckDB for multiple rounds), truncated at
# k_list=50. Fusion is rank-only arithmetic (1/(60+r): int inputs,
# one IEEE division each, one fixed-order double add), so the fused
# score is bit-identical across engines before the final round.
#
# Scale posture: each list is top-k-bounded by construction
# (TakeOrderedAndProject on the lexical side, per-query top-k on the
# vector side), so the fusion join touches ≤2k rows regardless of
# corpus size — the corpus-sized work lives in the upstream retrieval
# operators, which are independently scale-shaped.
# ---------------------------------------------------------------------------

_RRF_K = 60          # Cormack et al.'s constant
_RRF_LIST = 50       # per-list truncation
_RRF_TERMS = ["spark", "join", "window"]  # the registry's BM25 query
_RRF_QVEC = 0        # query = embedding of vec_id 0


def rank_lists(spark: SparkSession, sf: str) -> tuple[DataFrame, DataFrame]:
    """The two ≤``_RRF_LIST``-row rankings fused by RRF (and compared
    by RBO in analytics_ext9): (lexical doc_id+r_lex, vector
    doc_id+r_vec)."""
    from ..operators.search import bm25_top_docs
    from ..operators.similarity import brute_force_knn

    docs = load_table(spark, sf, "documents")
    lex = bm25_top_docs(docs, _RRF_TERMS, k=_RRF_LIST)
    # rank within a ≤50-row relation: the single-partition window is
    # bounded by the list size, not the corpus (warning-free key)
    from ..operators.ranks import constant_partition_key

    lex_w = Window.partitionBy(constant_partition_key("doc_id")).orderBy(
        F.desc("bm25"), F.asc("doc_id")
    )
    lexr = lex.select(
        "doc_id", F.row_number().over(lex_w).cast("int").alias("r_lex")
    )

    emb = load_table(spark, sf, "embeddings")
    knn = brute_force_knn(
        emb, emb.filter(F.col("vec_id") == _RRF_QVEC), k=_RRF_LIST
    )
    vecr = knn.select(
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").cast("int").alias("r_vec"),
    )
    return lexr, vecr


def hybrid_search_rrf(spark: SparkSession, sf: str) -> DataFrame:
    lexr, vecr = rank_lists(spark, sf)
    fused = lexr.join(vecr, "doc_id", "full_outer")
    rrf = (
        F.coalesce(1.0 / (F.lit(_RRF_K) + F.col("r_lex")), F.lit(0.0))
        + F.coalesce(1.0 / (F.lit(_RRF_K) + F.col("r_vec")), F.lit(0.0))
    )
    return (
        fused.select(
            "doc_id", "r_lex", "r_vec", F.round(rrf, 6).alias("rrf")
        )
        .orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(20)
    )


# The lexical/vector rank-list CTE block is shared with the RBO
# entry in analytics_ext9 (same two rankings, different combiner).
RANKLISTS_CTE = rf"""
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
), bm25 AS (
    SELECT doc_id,
           ROUND(SUM(idf * (tf * 2.2)
                     / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 3)
               AS bm25
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
    LIMIT {_RRF_LIST}
), lexr AS (
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS INT)
               AS r_lex
    FROM bm25
), q AS (
    SELECT vec_id AS query_id,
           CAST(CAST(embedding AS FLOAT[]) AS DOUBLE[]) AS q_vec
    FROM embeddings WHERE vec_id = {_RRF_QVEC}
), c AS (
    SELECT vec_id AS neighbor_id,
           CAST(CAST(embedding AS FLOAT[]) AS DOUBLE[]) AS c_vec
    FROM embeddings
), vecr AS (
    SELECT neighbor_id AS doc_id, r_vec FROM (
        SELECT neighbor_id,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY list_cosine_similarity(q_vec, c_vec) DESC,
                            neighbor_id ASC) AS INT) AS r_vec
        FROM q CROSS JOIN c
        WHERE query_id != neighbor_id
    ) WHERE r_vec <= {_RRF_LIST}
)
"""

HYBRID_RRF_SQL = RANKLISTS_CTE + f"""
SELECT COALESCE(lexr.doc_id, vecr.doc_id) AS doc_id, r_lex, r_vec,
       ROUND(COALESCE(1.0 / ({_RRF_K} + r_lex), 0.0)
             + COALESCE(1.0 / ({_RRF_K} + r_vec), 0.0), 6) AS rrf
FROM lexr FULL OUTER JOIN vecr ON lexr.doc_id = vecr.doc_id
ORDER BY rrf DESC, doc_id ASC
LIMIT 20
"""


# ---------------------------------------------------------------------------
# BFS over the trade graph: minimum hop distance from the lowest-key
# supplier's node, explored 3 rounds (the graph is bipartite
# customer↔supplier, so 3 hops = suppliers' customers, their other
# suppliers, and THOSE suppliers' customers). All-integer output →
# the oracle hash compares the entire reachability map, unlike the
# float-rank graph entries that need invariant gates. The DuckDB twin
# is a textbook recursive CTE; Spark explores iteratively with the
# graph family's co-partition + localCheckpoint discipline
# (operators/graph.py::bfs_hops).
# ---------------------------------------------------------------------------


def trade_bfs_hops(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.graph import bfs_hops

    from .graphs import _trade_edges

    # single deterministic source present at every SF: the minimum
    # supplier key (nation-keyed seed sets are empty at the smallest
    # fixtures, which would verify nothing)
    seeds = (
        load_table(spark, sf, "supplier")
        .agg((-F.min("s_suppkey")).alias("node"))
    )
    return (
        bfs_hops(_trade_edges(spark, sf), seeds, max_hops=3)
        .select(
            F.col("node").cast("long").alias("node"),
            F.col("hops").cast("int").alias("hops"),
        )
        .sortWithinPartitions("node")
    )


TRADE_BFS_SQL = """
WITH RECURSIVE pairs AS (
    SELECT DISTINCT o_custkey AS cust, -l_suppkey AS supp
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), edges AS (
    SELECT cust AS src, supp AS dst FROM pairs
    UNION ALL
    SELECT supp AS src, cust AS dst FROM pairs
), seeds AS (
    SELECT CAST(-MIN(s_suppkey) AS BIGINT) AS node FROM supplier
), bfs(node, hops) AS (
    SELECT node, 0 AS hops FROM seeds
    UNION
    SELECT e.dst AS node, b.hops + 1 AS hops
    FROM bfs b JOIN edges e ON e.src = b.node
    WHERE b.hops < 3
)
SELECT CAST(node AS BIGINT) AS node, CAST(MIN(hops) AS INT) AS hops
FROM bfs GROUP BY node ORDER BY node
"""


# ---------------------------------------------------------------------------
# Two-phase distributed skyline (Pareto frontier): parts minimizing
# retail price while maximizing size. A part is dominated iff some
# part is (≤ price, ≥ size) with at least one strict. Single-sort
# formulation: with rows ordered by price, p is dominated iff
#   A: max size over STRICTLY cheaper rows ≥ p.size, or
#   B: max size over cheaper-OR-EQUAL rows > p.size
# (B can never fire on p itself). Phase 1 evaluates A/B inside hash
# buckets — any in-bucket dominator proves global dominance, and each
# bucket's survivors form its local skyline, ≤ |distinct sizes| rows
# (size ∈ 1..50 in this corpus). Phase 2 re-runs the same windows
# over the ≤ buckets×50 survivors in one partition — bounded by
# construction, not by data volume. Prices compare as exact cents
# (round(price·100) → long) so float representation can't blur
# dominance ties across engines. The oracle is the O(n²) NOT-EXISTS
# dominance definition — feasible at oracle SF, and the hash match
# proves the two-phase decomposition lossless.
# ---------------------------------------------------------------------------

_SKY_BUCKETS = 32


def _skyline_pass(df: DataFrame, bucket: F.Column) -> DataFrame:
    b = df.withColumn("b", bucket)
    strictly_cheaper = (
        Window.partitionBy("b")
        .orderBy("price_c")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    cheaper_or_equal = (
        Window.partitionBy("b")
        .orderBy("price_c")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    dom_a = F.coalesce(
        F.max("p_size").over(strictly_cheaper) >= F.col("p_size"),
        F.lit(False),
    )
    dom_b = F.max("p_size").over(cheaper_or_equal) > F.col("p_size")
    # window exprs can't live in a WHERE clause — project the flag,
    # then filter on the materialized column
    return (
        b.withColumn("_dom", dom_a | dom_b)
        .filter(~F.col("_dom"))
        .drop("b", "_dom")
    )


def part_price_skyline(spark: SparkSession, sf: str) -> DataFrame:
    part = load_table(spark, sf, "part").select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100)
        .cast("long")
        .alias("price_c"),
        "p_size",
    )
    local = _skyline_pass(
        part, F.pmod(F.hash("p_partkey"), F.lit(_SKY_BUCKETS))
    )
    # phase 2 is deliberately single-partition over the ≤ buckets×50
    # survivors; the non-foldable constant key (a bare lit(0) folds
    # out of the window spec) keeps the WindowExec warning reserved
    # for real corpus-sized sorts
    return _skyline_pass(local, constant_partition_key("p_partkey")).select(
        "p_partkey", "price_c", F.col("p_size").cast("int").alias("p_size")
    ).orderBy("p_partkey")


PART_SKYLINE_SQL = """
WITH p AS (
    SELECT p_partkey,
           CAST(ROUND(p_retailprice * 100) AS BIGINT) AS price_c,
           p_size
    FROM part
)
SELECT p_partkey, price_c, CAST(p_size AS INT) AS p_size
FROM p
WHERE NOT EXISTS (
    SELECT 1 FROM p q
    WHERE q.price_c <= p.price_c AND q.p_size >= p.p_size
      AND (q.price_c < p.price_c OR q.p_size > p.p_size)
)
ORDER BY p_partkey
"""


# ---------------------------------------------------------------------------
# NDCG@20 for the deterministic sigmoid scorer (analytics_ext6's
# model-evaluation family) against the graded 0–9 labels: DCG with
# gains 2^label − 1 over the top-20 by (rounded score, id), IDCG over
# the label-ideal ordering, both TakeOrderedAndProject cuts (no
# global window — only the k survivors ever see a rank). The
# per-position discount 1/log2(pos+1) is precomputed in Python and
# embedded as the SAME double literals in both engines, because
# Spark's LOG2 (Math.log(x)/Math.log(2)) and DuckDB's std::log2 are
# not guaranteed to agree in the last ulp. Gains are exact ints,
# gain·weight is one IEEE multiply rounded to 6 before the exact
# decimal sum.
# ---------------------------------------------------------------------------

_NDCG_K = 20
# positions 1..20 → shortest round-trip double literals (both engines
# parse decimal literals to the nearest double, so the values are
# bit-identical)
_NDCG_W = [1.0 / math.log2(p + 1) for p in range(1, _NDCG_K + 1)]


def _pos_weight(pos_col: F.Column) -> F.Column:
    expr = F.lit(0.0)
    for p, w in enumerate(_NDCG_W, start=1):
        expr = F.when(pos_col == p, F.lit(w)).otherwise(expr)
    return expr


def score_ndcg(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    s = emb.select(
        "vec_id",
        F.round(sigmoid_score(), 6).alias("score"),
        (F.pow(F.lit(2.0), F.col("label")) - 1.0).alias("gain"),
        F.col("label"),
    )

    def dcg(ordered: DataFrame, *keys: F.Column) -> DataFrame:
        top = ordered.orderBy(*keys).limit(_NDCG_K)
        # row_number inside the ≤20-row cut (single partition of 20
        # rows, bounded by k); re-sorting by the same keys inside the
        # window keeps positions identical to the cut order
        from ..operators.ranks import constant_partition_key

        w = Window.partitionBy(constant_partition_key("vec_id")).orderBy(
            *keys
        )
        return top.select(
            F.round(
                F.col("gain") * _pos_weight(F.row_number().over(w)), 6
            ).alias("term")
        ).agg(F.round(dec_sum(F.col("term"), 6).cast("double"), 6).alias("v"))

    model = dcg(s, F.desc("score"), F.asc("vec_id"))
    ideal = dcg(s, F.desc("label"), F.asc("vec_id"))
    return (
        model.select(F.col("v").alias("dcg"))
        .crossJoin(F.broadcast(ideal.select(F.col("v").alias("idcg"))))
        .select(
            "dcg",
            "idcg",
            F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg"),
        )
    )


def _ndcg_weight_case(pos_expr: str) -> str:
    arms = " ".join(
        f"WHEN {p} THEN {w!r}" for p, w in enumerate(_NDCG_W, start=1)
    )
    return f"CASE {pos_expr} {arms} ELSE 0.0 END"


SCORE_NDCG_SQL = f"""
WITH s AS (
    SELECT vec_id, ROUND({SIGMOID_SCORE_SQL}, 6) AS score,
           2.0 ** label - 1.0 AS gain, label
    FROM embeddings
), model_top AS (
    SELECT gain,
           ROW_NUMBER() OVER (ORDER BY score DESC, vec_id ASC) AS pos
    FROM s ORDER BY score DESC, vec_id ASC LIMIT {_NDCG_K}
), ideal_top AS (
    SELECT gain,
           ROW_NUMBER() OVER (ORDER BY label DESC, vec_id ASC) AS pos
    FROM s ORDER BY label DESC, vec_id ASC LIMIT {_NDCG_K}
), m AS (
    SELECT ROUND(CAST(SUM(CAST(ROUND(gain * {_ndcg_weight_case("pos")}, 6)
                               AS DECIMAL(30,6))) AS DOUBLE), 6) AS dcg
    FROM model_top
), i AS (
    SELECT ROUND(CAST(SUM(CAST(ROUND(gain * {_ndcg_weight_case("pos")}, 6)
                               AS DECIMAL(30,6))) AS DOUBLE), 6) AS idcg
    FROM ideal_top
)
SELECT dcg, idcg, ROUND(dcg / idcg, 6) AS ndcg FROM m CROSS JOIN i
"""


# ---------------------------------------------------------------------------
# Item-item co-purchase affinity: parts bought by the same customer,
# scored by cosine over the binary customer-incidence vectors —
# cos(i,j) = |C_i ∩ C_j| / √(|C_i|·|C_j|) — the memory-based
# collaborative-filtering similarity. Dataflow: distinct (customer,
# part) incidence → within-customer pair expansion (p1 < p2) → pair
# co-counts ⋈ per-part degrees → exact top-k. The pair expansion is
# quadratic in per-customer basket size, so the frame function takes
# a DIMSUM-style ``max_basket`` cap: each oversized basket keeps the
# max_basket parts with the smallest md5(cust:part) — a deterministic
# per-customer uniform sample (md5 is the repo's engine-identical
# hash), selected IN-ROW on the already-collected basket so the plan
# gains no shuffle.
#
# Recall contract (stated like the dedup hot-bucket caps): with
# cap m, a pair co-bought by a customer with basket b > m survives
# that customer's basket with P ≈ (m/b)·((m−1)/(b−1)); co-counts are
# LOWER bounds, exact for every pair all of whose supporting baskets
# are ≤ m. Degrees (the cosine denominator) are always computed from
# the FULL incidence. max_basket=None (the library default) is exact.
# The registry entry caps at 64 — p99 basket is ~77 at the shipped
# SFs, so the cap provably exercises the capped semantics against
# the DuckDB oracle, which mirrors the same md5 selection.
# Degrees join un-hinted: the part dimension scales with SF, so AQE
# picks the strategy (the r6 broadcast-hint lesson).
# ---------------------------------------------------------------------------

_AFFINITY_MIN_CO = 2
_AFFINITY_K = 50
_AFFINITY_MAX_BASKET = 64


def part_affinity_frame(
    cp: DataFrame, max_basket: int | None = None
) -> DataFrame:
    """Top-k part pairs by incidence-cosine from a distinct
    (cust, part) incidence frame. ``max_basket`` bounds every
    customer's pair contribution to max_basket·(max_basket−1)/2 —
    the skew guard a heavy-tailed key needs at scale (see the recall
    contract above); None is exact."""
    cp = cp.localCheckpoint()  # feeds the expansion AND the degrees
    # pair expansion ARRAY-SIDE: one groupBy(cust) shuffle of the
    # incidence rows, then in-row combinations of the sorted basket
    # (p1 < p2 by sort order) — vs the naive equi-self-join, which
    # shuffles the incidence twice and pushes every expanded pair row
    # through join machinery before any partial aggregation
    # (measured: 14.9 → 6.6-8.7 s at sf0.1; 123 → 34 s at the 10×
    # stress warehouse, ratio 8.2× → 3.9×).
    baskets = cp.groupBy("cust").agg(
        F.sort_array(F.collect_set("part")).alias("ps")
    )
    if max_basket is not None:
        m = int(max_basket)
        # in-row capped selection: smallest m by (md5(cust:part), part)
        # — deterministic, partition-invariant, and mirrored verbatim
        # by the oracle's ROW_NUMBER-over-md5 window
        baskets = baskets.select(
            "cust",
            F.expr(
                "CASE WHEN size(ps) <= "
                f"{m} THEN ps ELSE array_sort(transform(slice(array_sort("
                "transform(ps, p -> struct(md5(concat(cast(cust AS string),"
                " ':', cast(p AS string))) AS h, p AS p))), 1, "
                f"{m}), s -> s.p)) END"
            ).alias("ps"),
        )
    # each pair rides the shuffle as ONE packed long (p1·2³² + p2 —
    # partkeys are far below 2³¹ at any shipped SF), halving shuffle
    # width vs a two-long struct and making the aggregate key a
    # primitive
    pair_expr = F.expr(
        "flatten(transform(ps, (x, i) ->"
        " transform(slice(ps, i + 2, size(ps)), y ->"
        " x * 4294967296L + y)))"
    )
    co = (
        baskets.select(F.explode(pair_expr).alias("pk"))
        # r15 (guide §1.1 measured, §2.2): the pair keys are ~97%
        # UNIQUE (12.34M distinct of 12.73M at sf0.1 — co >= 2 is the
        # rare case by construction), so the default partial+final
        # aggregate built two rounds of ~12M-entry hash tables to
        # remove 3% of the shuffle rows. Repartitioning by the key
        # FIRST moves the exchange below the aggregate (the planner
        # reuses the partitioning; net exchange count unchanged) and
        # ships the raw 8-byte longs instead: measured 7.7-8.1 s ->
        # 5.8-5.9 s for the explode+count subplan, interleaved, and
        # identical counts (placement-only change). Data-dependent
        # trade, documented: a corpus whose pairs repeat heavily
        # (multiplicity >> 1) would prefer the map-side-combine shape
        # this replaces; the basket cap keeps multiplicity near 1
        # (mean 1.03 measured) at every shipped SF.
        .repartition("pk")
        .groupBy("pk")
        .agg(F.count(F.lit(1)).alias("co"))
        .filter(F.col("co") >= _AFFINITY_MIN_CO)
        .select(
            F.expr("pk DIV 4294967296L").alias("p1"),
            F.expr("pk % 4294967296L").alias("p2"),
            "co",
        )
    )
    deg = cp.groupBy("part").agg(F.count(F.lit(1)).alias("d"))
    scored = (
        co.join(deg.select(F.col("part").alias("p1"), F.col("d").alias("d1")), "p1")
        .join(deg.select(F.col("part").alias("p2"), F.col("d").alias("d2")), "p2")
        .select(
            "p1",
            "p2",
            F.col("co").cast("long").alias("co"),
            F.round(
                F.col("co")
                / F.sqrt((F.col("d1") * F.col("d2")).cast("double")),
                6,
            ).alias("cosine"),
        )
    )
    return scored.orderBy(
        F.desc("cosine"), F.asc("p1"), F.asc("p2")
    ).limit(_AFFINITY_K)


def part_affinity_cosine(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    cp = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part")
        )
        .distinct()
    )
    return part_affinity_frame(cp, max_basket=_AFFINITY_MAX_BASKET)


PART_AFFINITY_SQL = f"""
WITH cp AS (
    SELECT DISTINCT o_custkey AS cust, l_partkey AS part
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), capped AS (
    -- mirror of the Spark in-row cap: per customer keep the
    -- {_AFFINITY_MAX_BASKET} parts with the smallest
    -- (md5(cust:part), part)
    SELECT cust, part FROM (
        SELECT cust, part,
               ROW_NUMBER() OVER (
                   PARTITION BY cust
                   ORDER BY md5(CAST(cust AS VARCHAR) || ':' ||
                                CAST(part AS VARCHAR)), part) AS rn
        FROM cp)
    WHERE rn <= {_AFFINITY_MAX_BASKET}
), co AS (
    SELECT a.part AS p1, b.part AS p2, COUNT(*) AS co
    FROM capped a JOIN capped b ON a.cust = b.cust AND a.part < b.part
    GROUP BY a.part, b.part
    HAVING COUNT(*) >= {_AFFINITY_MIN_CO}
), deg AS (
    -- degrees from the FULL incidence (cosine denominator is exact)
    SELECT part, COUNT(*) AS d FROM cp GROUP BY part
)
SELECT p1, p2, CAST(co AS BIGINT) AS co,
       ROUND(co / sqrt(CAST(d1.d * d2.d AS DOUBLE)), 6) AS cosine
FROM co
JOIN deg d1 ON d1.part = co.p1
JOIN deg d2 ON d2.part = co.p2
ORDER BY cosine DESC, p1 ASC, p2 ASC
LIMIT {_AFFINITY_K}
"""


EXT7_QUERIES = {
    "hybrid_search_rrf": (hybrid_search_rrf, HYBRID_RRF_SQL),
    "trade_bfs_hops": (trade_bfs_hops, TRADE_BFS_SQL),
    "part_price_skyline": (part_price_skyline, PART_SKYLINE_SQL),
    "score_ndcg": (score_ndcg, SCORE_NDCG_SQL),
    "part_affinity_cosine": (part_affinity_cosine, PART_AFFINITY_SQL),
}
