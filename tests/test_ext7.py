"""Planted-graph / planted-frontier tests for the graph, skyline and
ranking plans: BFS hop distances against a hand-drawn graph,
the two-phase skyline against the brute-force dominance definition,
NDCG position weights against an independent Python computation, and
RRF fusion arithmetic on a constructed pair of rank lists."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from movie_data_pipeline_spark.operators.graph import bfs_hops
from movie_data_pipeline_spark.plans.retrieval import _NDCG_K, _NDCG_W
from movie_data_pipeline_spark.plans.tpch import _SKY_BUCKETS, _skyline_pass


def test_bfs_hops_planted(spark):
    # 1→2→3→4→5 chain plus a shortcut 1→4 and an unreachable 9→10:
    # dist(2)=1, dist(3)=2, dist(4)=1 (shortcut wins over the length-3
    # chain path), dist(5)=2
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (1, 4), (9, 10)], ["src", "dst"]
    )
    seeds = spark.createDataFrame([(1,)], ["node"])
    got = {
        r.node: r.hops
        for r in bfs_hops(edges, seeds, max_hops=3).collect()
    }
    assert got == {1: 0, 2: 1, 4: 1, 3: 2, 5: 2}


def test_bfs_hops_bound_and_multisource(spark):
    # two seeds, hop bound cuts exploration: 0→1→2→3→4, seeds {0, 3}
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4)], ["src", "dst"]
    )
    seeds = spark.createDataFrame([(0,), (3,)], ["node"])
    got = {
        r.node: r.hops
        for r in bfs_hops(edges, seeds, max_hops=1).collect()
    }
    # node 2 is 2 hops from 0 and unreachable backward from 3 (edges
    # are directed) — excluded by the bound
    assert got == {0: 0, 3: 0, 1: 1, 4: 1}


def _brute_skyline(rows):
    out = []
    for p in rows:
        dominated = any(
            q[1] <= p[1]
            and q[2] >= p[2]
            and (q[1] < p[1] or q[2] > p[2])
            for q in rows
        )
        if not dominated:
            out.append(p)
    return sorted(out)


def test_skyline_two_phase_matches_bruteforce(spark):
    import random

    rng = random.Random(7)
    rows = [
        (i, rng.randrange(100, 200), rng.randrange(1, 12))
        for i in range(300)
    ]
    # include exact duplicates: equal points never dominate each other,
    # so all copies of a frontier point must survive
    rows += [(1000, rows[0][1], rows[0][2]), (1001, 150, 1), (1002, 150, 1)]
    df = spark.createDataFrame(rows, ["p_partkey", "price_c", "p_size"])
    local = _skyline_pass(
        df, F.pmod(F.hash("p_partkey"), F.lit(_SKY_BUCKETS))
    )
    got = sorted(
        (r.p_partkey, r.price_c, r.p_size)
        for r in _skyline_pass(local, F.lit(0)).collect()
    )
    assert got == _brute_skyline(rows)


def test_ndcg_weights_are_log2_discounts():
    assert len(_NDCG_W) == _NDCG_K
    for p, w in enumerate(_NDCG_W, start=1):
        assert w == 1.0 / math.log2(p + 1)
    assert _NDCG_W[0] == 1.0


def test_rrf_fusion_arithmetic(spark):
    from movie_data_pipeline_spark.plans.retrieval import _RRF_K

    # a doc ranked 1 lexically and 2 vectorially must outscore a doc
    # ranked 1 on a single list; fused score matches the formula
    lexr = spark.createDataFrame([(10, 1), (20, 2)], ["doc_id", "r_lex"])
    vecr = spark.createDataFrame([(10, 2), (30, 1)], ["doc_id", "r_vec"])
    fused = (
        lexr.join(vecr, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.round(
                F.coalesce(1.0 / (F.lit(_RRF_K) + F.col("r_lex")), F.lit(0.0))
                + F.coalesce(
                    1.0 / (F.lit(_RRF_K) + F.col("r_vec")), F.lit(0.0)
                ),
                6,
            ).alias("rrf"),
        )
    )
    got = {r.doc_id: r.rrf for r in fused.collect()}
    assert got[10] == round(1 / 61 + 1 / 62, 6)
    assert got[20] == round(1 / 62, 6)
    assert got[30] == round(1 / 61, 6)
    assert got[10] > got[30] > got[20]


def test_affinity_cap_none_is_exact(spark):
    """cap=None and any cap >= the largest basket are byte-identical
    to the exact uncapped output; a binding cap only REMOVES pair
    support (co is a lower bound) and never touches degrees."""
    from itertools import combinations

    from movie_data_pipeline_spark.plans.retrieval import part_affinity_frame

    rows = [
        (c, p)
        for c in range(1, 9)
        for p in ([1, 2, 3, 4, 5, 6] if c <= 6 else [1, 2])
    ]
    cp = spark.createDataFrame(rows, ["cust", "part"])
    exact = sorted(
        map(tuple, part_affinity_frame(cp, max_basket=None).collect())
    )
    assert exact == sorted(
        map(tuple, part_affinity_frame(cp, max_basket=6).collect())
    )
    assert exact == sorted(
        map(tuple, part_affinity_frame(cp, max_basket=10**6).collect())
    )
    # exact co-counts: pair (1,2) seen by all 8, other pairs by 6
    exact_rows = part_affinity_frame(cp, max_basket=None).collect()
    got = {(r.p1, r.p2): r.co for r in exact_rows}
    assert got[(1, 2)] == 8
    for p1, p2 in combinations(range(1, 7), 2):
        if (p1, p2) != (1, 2):
            assert got[(p1, p2)] == 6

    capped_rows = part_affinity_frame(cp, max_basket=3).collect()
    capped = {(r.p1, r.p2): r.co for r in capped_rows}
    # lower-bound contract: no capped count exceeds the exact count,
    # and every surviving pair exists in the exact output
    for pair, co in capped.items():
        assert co <= got[pair], pair
    # degrees stay exact: cosine of a surviving pair uses full degrees
    # -> for pair (1,2): cos = co/sqrt(8*8) with co <= 8
    if (1, 2) in capped:
        r = next(r for r in capped_rows if (r.p1, r.p2) == (1, 2))
        assert r.cosine == round(r.co / 8.0, 6)
