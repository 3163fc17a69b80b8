"""Planted-fixture tests for the round-8 ext11 batch: cumulative
unique users against hand-walked first-seen days, the windowed funnel
against crafted in/out-of-window sequences, median gaps with the
day-boundary exclusion, and trigram novelty on planted
unique/duplicated documents."""

from __future__ import annotations

from movie_data_pipeline_spark.plans.events import _CLICK_WINDOW_US


def _write_events(spark, tmp_path, rows):
    import datetime as dt

    ev = spark.createDataFrame(
        [
            (
                i,
                dt.datetime(2024, 1, 1)
                + dt.timedelta(microseconds=ts_us),
                uid,
                et,
                1.0,
                "{}",
            )
            for i, (uid, et, ts_us) in enumerate(rows)
        ],
        ["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    d = tmp_path / "wh"
    d.mkdir(exist_ok=True)
    ev.write.mode("overwrite").parquet(str(d / "events.parquet"))
    return str(d)


def test_cumulative_unique_users_planted(spark, tmp_path):
    from movie_data_pipeline_spark.plans.events import cumulative_unique_users

    day = 86_400 * 1_000_000
    rows = [
        (1, "view", 0),            # u1 first on day 0
        (1, "view", 2 * day),      # repeat — must not recount
        (2, "view", 1),            # u2 day 0
        (3, "view", 1 * day),      # u3 day 1
        (4, "view", 2 * day),      # u4 day 2
    ]
    sf = _write_events(spark, tmp_path, rows)
    got = [
        (r.day, r.new_users, r.cum_users)
        for r in cumulative_unique_users(spark, sf).collect()
    ]
    base = got[0][0]
    rel = [(d - base, n, c) for d, n, c in got]
    assert rel == [(0, 2, 2), (1, 1, 3), (2, 1, 4)]


def test_funnel_window_in_and_out(spark, tmp_path):
    from movie_data_pipeline_spark.plans.events import funnel_within_window

    h = 3_600 * 1_000_000
    rows = [
        # u1: click 30min after view (in), purchase 2h after click (in)
        (1, "view", 0), (1, "click", h // 2), (1, "purchase", h // 2 + 2 * h),
        # u2: click 2h after view (OUT of the 1h window)
        (2, "view", 0), (2, "click", 2 * h),
        # u3: click in-window, purchase 25h after click (OUT of 24h)
        (3, "view", 0), (3, "click", h // 4), (3, "purchase", h // 4 + 25 * h),
        # u4: click BEFORE the first view (strict > excludes it)
        (4, "click", 0), (4, "view", h // 2),
    ]
    sf = _write_events(spark, tmp_path, rows)
    r = funnel_within_window(spark, sf).collect()[0]
    assert (r.n_view, r.n_click_1h, r.n_purchase_24h) == (4, 2, 1)
    assert _CLICK_WINDOW_US == h


def test_interarrival_median_day_bounded(spark, tmp_path):
    from movie_data_pipeline_spark.plans.events import interarrival_p50_by_type

    day = 86_400 * 1_000_000
    # day 0: events at 0, 10, 30 (gaps 10, 20); day 1: at day, day+40
    # (gap 40); the day-crossing gap (day − 30) is excluded.
    # gaps sorted: [10, 20, 40] → lower median (k = 2) = 20
    rows = [
        (1, "t", 0), (1, "t", 10), (1, "t", 30),
        (1, "t", day), (1, "t", day + 40),
    ]
    sf = _write_events(spark, tmp_path, rows)
    r = interarrival_p50_by_type(spark, sf).collect()[0]
    assert (r.n_gaps, r.p50_gap_us) == (3, 20)


def test_trigram_novelty_planted(spark, tmp_path):
    from movie_data_pipeline_spark.plans.curation import doc_trigram_novelty

    docs = spark.createDataFrame(
        [
            (1, "a b c d", "x", "s", 7),    # trigrams: "a b c", "b c d"
            (2, "a b c q", "x", "s", 7),    # shares "a b c" with doc 1
            (3, "u v w x y", "x", "s", 9),  # all unique
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    d = tmp_path / "wh"
    d.mkdir(exist_ok=True)
    docs.write.mode("overwrite").parquet(str(d / "documents.parquet"))
    got = {
        r.doc_id: (r.n_grams, r.n_unique, r.novelty)
        for r in doc_trigram_novelty(spark, str(d)).collect()
    }
    assert got[3] == (3, 3, 1.0)
    assert got[1] == (2, 1, 0.5)   # "a b c" shared, "b c d" unique
    assert got[2] == (2, 1, 0.5)
