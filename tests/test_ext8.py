"""Planted-fixture tests for the text, events and stats plans
(plans/text.py, events.py, stats.py): PMI against hand-counted bigram arithmetic,
per-type ACF against an independent numpy-free Python recomputation
(including the day-boundary exclusion), Gini against the closed-form
values of degenerate distributions, token entropy against
math.log-based hand sums, and the Benford digit extraction on
crafted totals."""

from __future__ import annotations

import math

from movie_data_pipeline_spark.plans.events import value_acf_frame
from movie_data_pipeline_spark.plans.stats import (
    _BENFORD,
    benford_frame,
    spend_gini_frame,
)
from movie_data_pipeline_spark.plans.text import pmi_bigrams_frame, token_entropy_frame


def test_pmi_bigrams_hand_counted(spark):
    # corpus: "a b" x6, "a c" x3  → bigrams: (a,b):6, (a,c):3, N=9,
    # c_w1(a)=9, c_w2(b)=6, c_w2(c)=3
    docs = spark.createDataFrame(
        [(i, "a b") for i in range(6)] + [(i + 10, "a c") for i in range(3)],
        ["doc_id", "text"],
    )
    got = {(r.w1, r.w2): (r.cab, r.pmi) for r in pmi_bigrams_frame(docs).collect()}
    # min-count filter (5) drops (a,c)
    assert set(got) == {("a", "b")}
    cab, pmi = got[("a", "b")]
    assert cab == 6
    assert pmi == round(math.log((6.0 * 9) / (9.0 * 6)), 6) == 0.0


def test_value_acf_planted_with_day_boundary(spark):
    # one type, two days: day0 = [1, 2, 3], day1 = [4] — the (3,4)
    # pair straddles the boundary and must NOT contribute
    rows = [
        (1, "t", 1.0, 0 * 1_000_000, 0),
        (2, "t", 2.0, 1 * 1_000_000, 1),
        (3, "t", 3.0, 2 * 1_000_000, 2),
        (4, "t", 4.0, 86400 * 1_000_000, 86400),
    ]
    ev = spark.createDataFrame(
        rows, ["event_id", "event_type", "value", "ts_us", "ts_sec"]
    )
    got = {r.lag: r.acf for r in value_acf_frame(ev).collect()}
    mu = 10.0 / 4
    d = [1 - mu, 2 - mu, 3 - mu, 4 - mu]
    den = sum(round(x * x, 6) for x in d)
    num1 = round(d[1] * d[0], 6) + round(d[2] * d[1], 6)  # day0 pairs only
    num2 = round(d[2] * d[0], 6)
    assert got[1] == round(num1 / den, 6)
    assert got[2] == round(num2 / den, 6)
    assert got[3] is None or got[3] == 0.0  # no lag-3 pair exists


def test_gini_degenerate_distributions(spark):
    # equal spends → G = 0 exactly by the rank identity
    eq = spark.createDataFrame(
        [(c, 1, 100.0) for c in range(10)],
        ["o_custkey", "o_orderkey", "o_totalprice"],
    )
    row = spend_gini_frame(eq).collect()[0]
    assert row.n_customers == 10
    assert row.gini == 0.0
    # one customer owns everything: G = (n-1)/n
    skew = spark.createDataFrame(
        [(0, 1, 1e-9)] + [(c, 1, 0.0) for c in range(1, 9)] + [(9, 1, 900.0)],
        ["o_custkey", "o_orderkey", "o_totalprice"],
    )
    row = spend_gini_frame(skew).collect()[0]
    assert row.n_customers == 10
    assert abs(row.gini - 0.9) < 1e-6


def test_token_entropy_hand_sum(spark):
    # lang x: tokens a,a,b,b → H = ln 2, TTR = 0.5
    # lang y: tokens a,a,a,a → H = 0,   TTR = 0.25
    docs = spark.createDataFrame(
        [(1, "a a b b", "x"), (2, "a a a a", "y")],
        ["doc_id", "text", "lang"],
    )
    got = {r.lang: r for r in token_entropy_frame(docs).collect()}
    assert got["x"].n_tokens == 4 and got["x"].n_types == 2
    assert got["x"].entropy == round(
        -(2 * round(0.5 * math.log(0.5), 6)), 6
    )
    assert got["x"].ttr == 0.5
    assert got["y"].entropy == 0.0 and got["y"].ttr == 0.25


def test_benford_digit_extraction_and_expectation(spark):
    # crafted totals hitting digits 1, 9 (incl. a sub-dollar amount
    # whose leading CENTS digit is the significant one) and the
    # zero-filter
    orders = spark.createDataFrame(
        [
            (1, 1234.56),  # digit 1
            (2, 19.99),    # digit 1
            (3, 0.92),     # 92 cents → digit 9
            (4, 900.00),   # digit 9
            (5, 0.0),      # filtered out
        ],
        ["o_orderkey", "o_totalprice"],
    )
    got = {r.digit: r for r in benford_frame(orders).collect()}
    assert set(got) == {1, 9}
    assert got[1].n == 2 and got[9].n == 2
    assert got[1].share == 0.5
    assert got[1].benford == round(_BENFORD[1], 6)
    assert got[9].excess == round(0.5 - round(_BENFORD[9], 6), 6)
    assert sum(_BENFORD.values()) == 1.0 or abs(sum(_BENFORD.values()) - 1.0) < 1e-12
