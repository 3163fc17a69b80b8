"""Planted-fixture tests for the round-8 ext12 batch: the exact
parallel prefix-sum against a plain running total (property-tested
with ties and negatives), WAU window arithmetic, the new/returning
split, and the Pareto/weighted-median crossing rows on hand-built
distributions."""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import functions as F

from movie_data_pipeline_spark.operators.ranks import parallel_prefix_sum


def test_parallel_prefix_sum_property(spark):
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=6, deadline=None)
    @given(
        vals=st.lists(
            st.tuples(
                st.integers(min_value=-4, max_value=4),   # order key (ties!)
                st.integers(min_value=-100, max_value=100),  # value
            ),
            min_size=1,
            max_size=30,
        ),
        nb=st.sampled_from([1, 3, 32]),
    )
    def prop(vals, nb):
        rows = [(i, o, v) for i, (o, v) in enumerate(vals)]
        df = spark.createDataFrame(rows, ["k", "o", "v"])
        got = {
            r.k: r.cum
            for r in parallel_prefix_sum(
                df, "v", "o", ["k"], nbuckets=nb, scale=2
            ).collect()
        }
        run = Decimal(0)
        want = {}
        for k, o, v in sorted(rows, key=lambda t: (t[1], t[0])):
            run += Decimal(v)
            want[k] = run
        assert {k: Decimal(str(c)) for k, c in got.items()} == want

    prop()


def test_wau_and_new_returning_planted(spark, tmp_path):
    import datetime as dt

    from movie_data_pipeline_spark.plans.events import (
        daily_new_vs_returning,
        wau_trailing_7d,
    )

    day_us = 86_400 * 1_000_000
    # u1 active days 0 and 8; u2 active day 0 only; u3 active day 8
    rows = [(1, 0), (1, 8), (2, 0), (3, 8)]
    ev = spark.createDataFrame(
        [
            (
                i,
                dt.datetime(2024, 1, 1)
                + dt.timedelta(microseconds=d * day_us),
                uid,
                "view",
                1.0,
                "{}",
            )
            for i, (uid, d) in enumerate(rows)
        ],
        ["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    d = tmp_path / "wh"
    d.mkdir()
    ev.write.parquet(str(d / "events.parquet"))

    wau = {r.day: r.wau for r in wau_trailing_7d(spark, str(d)).collect()}
    base = min(wau)
    # day 0: users {1,2} → 2; day 8: trailing window [2..8] → {1,3} → 2
    assert {k - base: v for k, v in wau.items()} == {0: 2, 8: 2}

    nvr = {
        r.day: (r.n_active, r.n_new, r.n_returning)
        for r in daily_new_vs_returning(spark, str(d)).collect()
    }
    assert {k - base: v for k, v in nvr.items()} == {
        0: (2, 2, 0),   # u1, u2 both new
        8: (2, 1, 1),   # u3 new, u1 returning
    }


def test_pareto_and_weighted_median_planted(spark, tmp_path):
    from movie_data_pipeline_spark.plans.stats import (
        revenue_pareto_8020,
        weighted_median_price,
    )

    # spends 100, 50, 30, 10, 10 (total 200; 80% = 160):
    # top-1 = 100 (50%), top-2 = 150 (75%), top-3 = 180 (90%) → k=3
    orders = spark.createDataFrame(
        [(c, c, s) for c, s in enumerate([100.0, 50.0, 30.0, 10.0, 10.0])],
        ["o_orderkey", "o_custkey", "o_totalprice"],
    )
    d = tmp_path / "wh"
    d.mkdir()
    orders.write.parquet(str(d / "orders.parquet"))
    r = revenue_pareto_8020(spark, str(d)).collect()[0]
    assert (r.k_customers, r.n_customers) == (3, 5)
    assert r.share_at_k == 0.9
    assert r.k_fraction == 0.6

    # prices 1 (qty 3), 2 (qty 1), 5 (qty 4): W=8, half=4 → cum at
    # price 1 is 3 (<4), at price 2 is 4 (crosses) → median 2
    # the corpus's physical types: load_table reads the declared schema
    li = spark.createDataFrame(
        [(1, 1, 1.0, 3.0), (1, 2, 2.0, 1.0), (1, 3, 5.0, 4.0)],
        "l_orderkey bigint, l_linenumber int, l_extendedprice double, l_quantity double",
    )
    li.write.parquet(str(d / "lineitem.parquet"))
    m = weighted_median_price(spark, str(d)).collect()[0]
    assert m.weighted_median_price == 2.0
    assert m.total_qty == 8.0
