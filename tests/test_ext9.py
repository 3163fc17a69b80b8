"""Planted-fixture tests for the round-8 ext9 batch: the SymSpell
deletion-neighborhood fuzzy join against a brute-force Python
Levenshtein, RBO against an independent reference implementation,
OLS against hand-fit lines, CUSUM against a planted level shift, and
the χ² arithmetic on a crafted weekday skew."""

from __future__ import annotations

import math

from movie_data_pipeline_spark.operators.fuzzy import fuzzy_self_join
from movie_data_pipeline_spark.plans.events import (
    dow_uniformity_frame,
    value_cusum_frame,
    value_trend_frame,
)
from movie_data_pipeline_spark.plans.retrieval import _RBO_P


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_fuzzy_join_matches_bruteforce(spark):
    words = [
        "spark", "spork", "sparks", "stork", "quark", "shark",
        "park", "parka", "apache", "apace", "a", "ab", "", "zzzz",
    ]
    # drop the empty string (distinct() keeps it; deletion variants
    # of "" are just "" — still fine, but brute force must agree)
    words = [w for w in words if w]
    df = spark.createDataFrame([(w,) for w in words], ["name"])
    got = sorted(
        (r.name_a, r.name_b, r.dist)
        for r in fuzzy_self_join(df, max_dist=2).collect()
    )
    want = sorted(
        (min(a, b), max(a, b), _lev(a, b))
        for i, a in enumerate(words)
        for b in words[i + 1:]
        if _lev(a, b) <= 2
    )
    assert got == want


def test_fuzzy_join_depth1(spark):
    df = spark.createDataFrame(
        [("cat",), ("cut",), ("cart",), ("dog",)], ["name"]
    )
    got = sorted(
        (r.name_a, r.name_b, r.dist)
        for r in fuzzy_self_join(df, max_dist=1).collect()
    )
    assert got == [("cart", "cat", 1), ("cat", "cut", 1)]


def _rbo_ref(a: list, b: list, p: float) -> float:
    # reference truncated RBO: (1-p) sum p^(d-1) * |A_d ∩ B_d| / d,
    # with the same per-term rounding as the plan
    total = 0.0
    for d in range(1, len(a) + 1):
        x = len(set(a[:d]) & set(b[:d]))
        if x:
            total += round((p ** (d - 1)) * (x / d), 9)
    return round((1 - p) * total, 6)


def test_rbo_reference_arithmetic():
    a = list(range(1, 51))
    b = list(range(3, 53))  # shifted by 2
    # identical lists → RBO = (1-p)·Σ p^(d-1) (every X_d/d = 1)
    same = _rbo_ref(a, a, _RBO_P)
    expect = round(
        (1 - _RBO_P)
        * sum(round(_RBO_P ** (d - 1), 9) for d in range(1, 51)),
        6,
    )
    assert abs(same - expect) < 2e-6
    assert _rbo_ref(a, b, _RBO_P) < same
    assert _rbo_ref(a, list(range(100, 150)), _RBO_P) == 0.0


def test_ols_recovers_planted_line(spark):
    # y = 2·x + 5 exactly, x in seconds over 3 days
    rows = [
        (i, "t", 2.0 * (i * 3600) + 5.0, i * 3600 * 1_000_000, i * 3600)
        for i in range(72)
    ]
    ev = spark.createDataFrame(
        rows, ["event_id", "event_type", "value", "ts_us", "ts_sec"]
    )
    r = value_trend_frame(ev).collect()[0]
    assert r.n == 72
    # slope 2.0 per second = 172800 per day
    assert abs(r.slope_per_day - 2.0 * 86400) < 1e-3
    assert abs(r.intercept - 5.0) < 1e-3


def test_cusum_finds_level_shift(spark):
    # 10 days at 0.0, then 10 days at 10.0 → max |S| at the shift
    rows = []
    eid = 0
    for day in range(20):
        for k in range(5):
            eid += 1
            sec = day * 86400 + k
            rows.append(
                (eid, "t", 0.0 if day < 10 else 10.0, sec * 1_000_000, sec)
            )
    ev = spark.createDataFrame(
        rows, ["event_id", "event_type", "value", "ts_us", "ts_sec"]
    )
    r = value_cusum_frame(ev).collect()[0]
    assert r.n_days == 20
    # S_t = t·(0−5) for t ≤ 10 → minimum −50 at day index 9 (the last
    # pre-shift day); |S| is maximal there
    assert r.cusum_day == 9
    assert abs(r.max_abs_s - 50.0) < 1e-6


def test_dow_chi2_hand_computed(spark):
    # 14 events: dow0 gets 8, dow1..6 get 1 each → n=14, e=2
    rows = []
    eid = 0
    for _ in range(8):
        eid += 1
        rows.append((eid, "t", 1.0, 0, 0))  # day 0 → dow 0
    for d in range(1, 7):
        eid += 1
        sec = d * 86400
        rows.append((eid, "t", 1.0, sec * 1_000_000, sec))
    ev = spark.createDataFrame(
        rows, ["event_id", "event_type", "value", "ts_us", "ts_sec"]
    )
    r = dow_uniformity_frame(ev).collect()[0]
    assert r.n == 14
    e = 14 / 7.0
    want = round(
        sum(
            round((o - e) ** 2 / e, 6)
            for o in [8, 1, 1, 1, 1, 1, 1]
        ),
        6,
    )
    assert math.isclose(r.chi2, want, abs_tol=1e-9)


def test_fuzzy_join_property_random_words(spark):
    """Property: SymSpell deletion-neighborhood join ≡ brute-force
    Levenshtein over random short strings (tight 2-letter alphabet so
    near-matches are dense), including depth-1 vs depth-2 bounds."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    word = st.text(alphabet="ab", min_size=1, max_size=6)

    @settings(max_examples=6, deadline=None)
    @given(
        words=st.lists(word, min_size=2, max_size=12, unique=True),
        k=st.sampled_from([1, 2]),
    )
    def prop(words, k):
        df = spark.createDataFrame([(w,) for w in words], ["name"])
        got = sorted(
            (r.name_a, r.name_b, r.dist)
            for r in fuzzy_self_join(df, max_dist=k).collect()
        )
        want = sorted(
            (min(a, b), max(a, b), _lev(a, b))
            for i, a in enumerate(words)
            for b in words[i + 1:]
            if _lev(a, b) <= k
        )
        assert got == want

    prop()
