"""Graph-analytics plans over the customer↔supplier trade graph derived
from orders ⋈ lineitem: PageRank (plain, weighted, personalized),
HITS, k-core, triangle counts and multi-source BFS hops.

Verification follows the iterative-operator discipline of
``dedup_clusters``/``packing_check``: the per-node outputs are
rows-only (a damped power iteration is not SQL-expressible), and each
oracled ``*_check`` gate pins the algorithm's INVARIANTS with exact
measures DuckDB recomputes independently — node/edge counts of the
derived graph, the Σ ranks = N conservation law (1e-6·N float
tolerance), and rank positivity with the (1−d) floor. Planted-graph
unit tests check the VALUES against closed-form solutions.

Every entry is a (builder, SQL twin) pair registered in
plans/analytics.py and follows the determinism rules stated there.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators.graph import pagerank
from ..sources.catalog import load_table


# ---------------------------------------------------------------------------
# Derived-graph memo (r7 verdict item 2). Six registry entries run a
# 10-round fixpoint over essentially the SAME derived relation — the
# (customer, supplier) trade graph from orders ⋈ lineitem — and each
# used to pay the full fact-table derivation pass again. At 100 TB
# that derivation IS a full scan of the two largest facts, so the
# production design is to materialize the derived edge relation once
# and run every graph analysis against the materialization. Locally
# that is a parquet temp dir keyed by (application, sf): the same
# once-per-session discipline as ``similarity.get_ivf_centroids``,
# but disk-backed because ``clear_state`` (called between bench
# queries) unpersists every RDD block, which would strand a
# localCheckpoint-backed memo. Only the WEIGHTED pairs are stored —
# the unweighted relation is its projection, so one materialization
# serves all variants. Ints only → parquet round-trip is exact. The
# writer's schema is kept next to the path, so a re-read runs no
# footer-reading job.
# ---------------------------------------------------------------------------

_PAIRS_CACHE: dict[tuple[str, str], tuple[str, StructType]] = {}


def _trade_pairs_weighted(spark: SparkSession, sf: str) -> DataFrame:
    """One row per distinct (customer, supplier) trading relationship
    with its strength w = # distinct orders linking the two —
    materialized once per (application, sf) and re-read thereafter.
    Node ids disambiguate the two keyspaces by sign: customers are
    +c_custkey, suppliers are −s_suppkey (keys start at 0, so customer
    0 and supplier 0 share node 0 — a known, deterministic quirk both
    engines reproduce identically)."""
    key = (spark.sparkContext.applicationId, str(sf))
    if key not in _PAIRS_CACHE:
        orders = load_table(spark, sf, "orders").select(
            "o_orderkey", "o_custkey"
        )
        li = load_table(spark, sf, "lineitem").select(
            "l_orderkey", "l_suppkey"
        )
        derived = (
            orders.join(li, orders.o_orderkey == li.l_orderkey)
            .select(
                F.col("o_custkey").alias("cust"),
                (-F.col("l_suppkey")).alias("supp"),
                "o_orderkey",
            )
            .distinct()  # one vote per (cust, supp, order)
            .groupBy("cust", "supp")
            .agg(F.count(F.lit(1)).alias("w"))
        )
        path = tempfile.mkdtemp(prefix="trade_pairs_")
        derived.write.mode("overwrite").parquet(path)
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        _PAIRS_CACHE[key] = path, derived.schema
    path, schema = _PAIRS_CACHE[key]
    return spark.read.schema(schema).parquet(path)


def _trade_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Unweighted projection of the memoized weighted pairs: one row
    per distinct (cust, supp) — the canonical undirected edge
    relation of the trade graph."""
    return _trade_pairs_weighted(spark, sf).select("cust", "supp")


def _trade_edges(spark: SparkSession, sf: str) -> DataFrame:
    """Directed both ways: customer→supplier and supplier→customer."""
    pairs = _trade_pairs(spark, sf)
    return pairs.select(
        F.col("cust").alias("src"), F.col("supp").alias("dst")
    ).unionAll(pairs.select(F.col("supp").alias("src"), F.col("cust").alias("dst")))


def trade_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """Rows-only registry entry: every node's rank after 10 rounds.
    Ranks are floats whose low bits ride partition-sum order, so no
    value hash — the oracled invariants live in ``pagerank_check``."""
    return pagerank(_trade_edges(spark, sf), n_iter=10).sortWithinPartitions("node")


def pagerank_check(spark: SparkSession, sf: str) -> DataFrame:
    """Oracled gate: graph cardinalities exactly, conservation and
    positivity as tolerance predicates (see module docstring)."""
    edges = _trade_edges(spark, sf)
    ranks = pagerank(edges, n_iter=10)
    stats = ranks.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum("rank").alias("total_rank"),
        F.min("rank").alias("min_rank"),
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return stats.crossJoin(n_edges).select(  # both sides 1 row
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.col("n_edges").cast("long").alias("n_edges"),
        (
            F.abs(F.col("total_rank") - F.col("n_nodes"))
            <= 1e-6 * F.col("n_nodes")
        ).alias("rank_conserved"),
        # every node keeps at least the undamped (1−d) teleport floor
        (F.col("min_rank") >= 0.15 - 1e-9).alias("rank_floor_ok"),
    )


PAGERANK_CHECK_SQL = """
WITH pairs AS (
  SELECT DISTINCT o_custkey AS cust, -l_suppkey AS supp
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
nodes AS (
  SELECT cust AS node FROM pairs UNION SELECT supp FROM pairs
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM nodes) AS n_nodes,
       (SELECT CAST(2 * COUNT(*) AS BIGINT) FROM pairs) AS n_edges,
       TRUE AS rank_conserved,
       TRUE AS rank_floor_ok
"""


# ---------------------------------------------------------------------------
# Triangle census of the supplier co-shipment graph. Edges = supplier
# pairs whose co-occurrence weight (shared orders) reaches half the
# graph's max weight — a scalar-subquery sparsification that stays
# meaningful at every SF (an absolute cutoff dies as co-occurrence
# rates shift with scale: measured max weight 180/42/12 across
# sf0.001/0.01/0.1, edges 45/3.4k/17.8k, triangles 120/53.6k/8.5k).
# Unlike the iterative graph ops this one is a fixed 3-join dataflow,
# so the FULL output — not just invariants — is oracled: DuckDB
# recomputes the census with the naive triple self-join, which the
# distributed degree-ordered plan must match exactly.
# ---------------------------------------------------------------------------

def supplier_cotrade_triangles(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.graph import triangle_count

    li = load_table(spark, sf, "lineitem")
    # os_ feeds BOTH sides of the self-join; pairs feeds the max-w
    # scalar AND the edge filter. Un-materialized, each extra consumer
    # re-executes the fact-table distinct (and, for pairs, the
    # quadratic co-shipment expansion) — the r14 plan audit measured
    # this entry's physical plan at 238 KB of duplicated subtrees.
    # Both checkpoints are narrow integer relations; counts are exact,
    # so the oracled census is unchanged.
    os_ = (
        li.select("l_orderkey", "l_suppkey").distinct().localCheckpoint()
    )
    a, b = os_.alias("a"), os_.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .groupBy(
            F.col("a.l_suppkey").alias("sa"), F.col("b.l_suppkey").alias("sb")
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .localCheckpoint()
    )
    mx = pairs.agg(F.max("w").alias("max_w"))
    edges = (
        pairs.crossJoin(F.broadcast(mx))  # 1-row side
        .filter(F.col("w") >= 0.5 * F.col("max_w"))
        .select(F.col("sa").alias("src"), F.col("sb").alias("dst"))
    )
    return triangle_count(edges)


SUPPLIER_TRIANGLES_SQL = """
WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
pairs AS (
  SELECT a.l_suppkey AS sa, b.l_suppkey AS sb, COUNT(*) AS w
  FROM os a JOIN os b ON a.l_orderkey = b.l_orderkey
                     AND a.l_suppkey < b.l_suppkey
  GROUP BY sa, sb
),
e AS (SELECT sa, sb FROM pairs WHERE w >= 0.5 * (SELECT MAX(w) FROM pairs)),
nodes AS (SELECT sa AS n FROM e UNION SELECT sb FROM e)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM nodes) AS n_nodes,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
       (SELECT CAST(COUNT(*) AS BIGINT)
        FROM e e1
        JOIN e e2 ON e2.sa = e1.sb
        JOIN e e3 ON e3.sa = e1.sa AND e3.sb = e2.sb) AS n_triangles
"""


# ---------------------------------------------------------------------------
# k-core of the bipartite trade graph (k=8): the alternating quality
# filter — customers with ≥8 in-core suppliers and suppliers with ≥8
# in-core customers, peeled to fixpoint. Membership is the iterative
# operator's output (rows-only); ``kcore_check`` is the oracled gate:
# DuckDB recomputes the input graph's node/edge counts and the
# round-1 peel bound |{v : deg(v) ≥ k}| EXACTLY, and the in-plan
# predicates pin soundness (every survivor's in-core degree ≥ k) and
# the subset bound (core size ≤ the round-1 bound). A lollipop +
# scalar-reference unit test checks full membership on planted graphs
# (tests/test_operators.py::test_k_core_matches_scalar_reference).
# ---------------------------------------------------------------------------

_KCORE_K = 8


def trade_kcore(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.graph import k_core

    return k_core(_trade_edges(spark, sf), k=_KCORE_K).sortWithinPartitions("node")


def kcore_check(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.graph import k_core

    und = _trade_pairs(spark, sf)
    deg = (
        und.select(F.col("cust").alias("n"))
        .unionAll(und.select(F.col("supp").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    graph_stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.when(F.col("d") >= _KCORE_K, 1).otherwise(0)).alias(
            "n_deg_ge_k"
        ),
    )
    n_edges = und.agg(F.count(F.lit(1)).alias("n_edges"))
    core = k_core(_trade_edges(spark, sf), k=_KCORE_K)
    core_stats = core.agg(
        F.count(F.lit(1)).alias("n_core"),
        F.min("core_degree").alias("min_core_deg"),
    )
    return (
        graph_stats.crossJoin(n_edges).crossJoin(core_stats)  # 1-row sides
        .select(
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("n_edges").cast("long").alias("n_edges"),
            F.col("n_deg_ge_k").cast("long").alias("n_deg_ge_k"),
            (
                (F.col("n_core") == 0)
                | (F.col("min_core_deg") >= _KCORE_K)
            ).alias("core_sound_ok"),
            (F.col("n_core") <= F.col("n_deg_ge_k")).alias("core_bounded_ok"),
        )
    )


KCORE_CHECK_SQL = """
WITH pairs AS (
  SELECT DISTINCT o_custkey AS cust, -l_suppkey AS supp
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
deg AS (
  SELECT n, COUNT(*) AS d FROM (
    SELECT cust AS n FROM pairs UNION ALL SELECT supp FROM pairs
  ) GROUP BY n
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_edges,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM deg WHERE d >= 8) AS n_deg_ge_k,
       TRUE AS core_sound_ok,
       TRUE AS core_bounded_ok
"""


# ---------------------------------------------------------------------------
# HITS on the directed purchase graph (customer → supplier): hubs
# rank buyers, authorities rank suppliers. Scores are rows-only (the
# iterative discipline); ``hits_check`` oracles exact node/edge
# counts via DuckDB and pins the L2-norm ≈ 1 and non-negativity
# invariants in-plan. Closed-form star + scalar-recurrence units pin
# the values (tests/test_operators.py::test_hits_star_and_scalar_reference).
# ---------------------------------------------------------------------------

def trade_hits(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.graph import hits

    pairs = _trade_pairs(spark, sf)
    # end-only normalization: scale-invariant, measured -19% wall at
    # sf0.1 (operators/graph.py::hits docstring A/B); overflow bound
    # holds for any plausible trade-graph eigenvalue
    return hits(
        pairs.select(F.col("cust").alias("src"), F.col("supp").alias("dst")),
        n_iter=10, normalize_every=10,
    ).sortWithinPartitions("node")


def hits_check(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.graph import hits

    pairs = _trade_pairs(spark, sf)
    scores = hits(
        pairs.select(F.col("cust").alias("src"), F.col("supp").alias("dst")),
        n_iter=10, normalize_every=10,
    )
    stats = scores.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.col("hub") * F.col("hub")).alias("h2"),
        F.sum(F.col("authority") * F.col("authority")).alias("a2"),
        F.min("hub").alias("min_h"),
        F.min("authority").alias("min_a"),
    )
    n_edges = pairs.agg(F.count(F.lit(1)).alias("n_edges"))
    return stats.crossJoin(n_edges).select(  # both sides 1 row
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.col("n_edges").cast("long").alias("n_edges"),
        (F.abs(F.col("h2") - 1.0) <= 1e-9).alias("hub_norm_ok"),
        (F.abs(F.col("a2") - 1.0) <= 1e-9).alias("auth_norm_ok"),
        ((F.col("min_h") >= 0.0) & (F.col("min_a") >= 0.0)).alias(
            "nonneg_ok"
        ),
    )


HITS_CHECK_SQL = """
WITH pairs AS (
  SELECT DISTINCT o_custkey AS cust, -l_suppkey AS supp
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
nodes AS (SELECT cust AS node FROM pairs UNION SELECT supp FROM pairs)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM nodes) AS n_nodes,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_edges,
       TRUE AS hub_norm_ok, TRUE AS auth_norm_ok, TRUE AS nonneg_ok
"""


# ---------------------------------------------------------------------------
# Weighted PageRank (round 7): the same trade graph with each edge
# carrying its relationship STRENGTH — the number of distinct orders
# linking the customer and supplier — so rank splits across a node's
# partners proportionally to trade volume instead of uniformly. Same
# verification discipline as the unweighted path: rows-only ranks, an
# oracled gate pinning exact graph cardinalities + the conservation
# law (Σ ranks = N holds for ANY positive weighting — the transition
# matrix stays column-stochastic) and the (1−d) teleport floor, and a
# planted unit against the scalar weighted recurrence.
# ---------------------------------------------------------------------------

def _trade_edges_weighted(spark: SparkSession, sf: str) -> DataFrame:
    pairs = _trade_pairs_weighted(spark, sf)
    return pairs.select(
        F.col("cust").alias("src"), F.col("supp").alias("dst"), "w"
    ).unionAll(
        pairs.select(
            F.col("supp").alias("src"), F.col("cust").alias("dst"), "w"
        )
    )


def trade_pagerank_weighted(spark: SparkSession, sf: str) -> DataFrame:
    return pagerank(
        _trade_edges_weighted(spark, sf), n_iter=10, weight="w"
    ).sortWithinPartitions("node")


def weighted_pagerank_check(spark: SparkSession, sf: str) -> DataFrame:
    edges = _trade_edges_weighted(spark, sf)
    ranks = pagerank(edges, n_iter=10, weight="w")
    stats = ranks.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum("rank").alias("total_rank"),
        F.min("rank").alias("min_rank"),
    )
    agg_e = edges.agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.sum("w").alias("total_w"),
    )
    return stats.crossJoin(agg_e).select(  # both sides 1 row
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.col("n_edges").cast("long").alias("n_edges"),
        F.col("total_w").cast("long").alias("total_w"),
        (
            F.abs(F.col("total_rank") - F.col("n_nodes"))
            <= 1e-6 * F.col("n_nodes")
        ).alias("rank_conserved"),
        (F.col("min_rank") >= 0.15 - 1e-9).alias("rank_floor_ok"),
    )


WEIGHTED_PAGERANK_CHECK_SQL = """
WITH pairs AS (
  SELECT o_custkey AS cust, -l_suppkey AS supp,
         CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS w
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY 1, 2
),
nodes AS (
  SELECT cust AS node FROM pairs UNION SELECT supp FROM pairs
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM nodes) AS n_nodes,
       (SELECT CAST(2 * COUNT(*) AS BIGINT) FROM pairs) AS n_edges,
       (SELECT CAST(2 * SUM(w) AS BIGINT) FROM pairs) AS total_w,
       TRUE AS rank_conserved,
       TRUE AS rank_floor_ok
"""


# ---------------------------------------------------------------------------
# Personalized PageRank (round 7): proximity of every trade-graph
# node to the customers of nation 0 — "which suppliers (and peer
# customers) sit closest to this market segment's trade flows".
# Probability convention: Σ ranks = 1 exactly in real arithmetic
# (teleport AND dangling mass land on the source set), which the
# oracled gate pins alongside exact node/edge/source counts and the
# source-mass floor Σ_{s∈S} rank_s ≥ (1−d) (every round's teleport
# deposits at least that much on the sources before any flow-back).
# ---------------------------------------------------------------------------

def trade_ppr_nation0(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.graph import personalized_pagerank

    cust = load_table(spark, sf, "customer")
    sources = cust.filter(F.col("c_nationkey") == 0).select(
        F.col("c_custkey").alias("node")
    )
    return personalized_pagerank(
        _trade_edges(spark, sf), sources, n_iter=10
    ).sortWithinPartitions("node")


def ppr_check(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.graph import personalized_pagerank

    edges = _trade_edges(spark, sf)
    cust = load_table(spark, sf, "customer")
    sources = cust.filter(F.col("c_nationkey") == 0).select(
        F.col("c_custkey").alias("node")
    )
    ranks = personalized_pagerank(edges, sources, n_iter=10)
    src_mass = ranks.join(sources, "node", "left_semi").agg(
        F.coalesce(F.sum("rank"), F.lit(0.0)).alias("src_mass")
    )
    stats = ranks.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum("rank").alias("total_rank"),
        F.min("rank").alias("min_rank"),
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    n_src = sources.join(
        edges.select(F.col("src").alias("node")).union(
            edges.select(F.col("dst").alias("node"))
        ).distinct(),
        "node",
        "left_semi",
    ).agg(F.count(F.lit(1)).alias("n_sources"))
    return stats.crossJoin(n_edges).crossJoin(n_src).crossJoin(src_mass).select(
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.col("n_edges").cast("long").alias("n_edges"),
        F.col("n_sources").cast("long").alias("n_sources"),
        (F.abs(F.col("total_rank") - 1.0) <= 1e-9).alias("rank_conserved"),
        (F.col("src_mass") >= 0.15 - 1e-9).alias("source_mass_floor_ok"),
        (F.col("min_rank") >= 0.0).alias("nonnegative_ok"),
    )


PPR_CHECK_SQL = """
WITH pairs AS (
  SELECT DISTINCT o_custkey AS cust, -l_suppkey AS supp
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
nodes AS (
  SELECT cust AS node FROM pairs UNION SELECT supp FROM pairs
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM nodes) AS n_nodes,
       (SELECT CAST(2 * COUNT(*) AS BIGINT) FROM pairs) AS n_edges,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM customer
        WHERE c_nationkey = 0
          AND c_custkey IN (SELECT node FROM nodes)) AS n_sources,
       TRUE AS rank_conserved,
       TRUE AS source_mass_floor_ok,
       TRUE AS nonnegative_ok
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
