"""Planted-fixture tests for the round-8 ext10 batch: the reusable
parallel row_number against plain sorts (global and grouped, with
ties), phrase counting on crafted token streams, fuzzy-name cluster
transitivity on a planted chain, the integer round-half-up mean, and
the character profile arithmetic."""

from __future__ import annotations

from pyspark.sql import functions as F

from movie_data_pipeline_spark.operators.ranks import parallel_row_number


def test_parallel_row_number_global(spark):
    import random

    rng = random.Random(11)
    rows = [(i, rng.randrange(0, 40)) for i in range(500)]
    df = spark.createDataFrame(rows, ["k", "v"])
    got = {
        r.k: r.i
        for r in parallel_row_number(df, "v", ["k"], nbuckets=16).collect()
    }
    want = {
        k: i
        for i, (k, _) in enumerate(
            sorted(rows, key=lambda t: (t[1], t[0])), start=1
        )
    }
    assert got == want


def test_parallel_row_number_grouped(spark):
    rows = [
        ("a", 1, 3.0), ("a", 2, 1.0), ("a", 3, 3.0),
        ("b", 4, 9.0), ("b", 5, 2.0),
    ]
    df = spark.createDataFrame(rows, ["g", "k", "v"])
    got = {
        (r.g, r.k): r.i
        for r in parallel_row_number(
            df, "v", ["k"], part_cols=["g"], nbuckets=4
        ).collect()
    }
    assert got == {
        ("a", 2): 1, ("a", 1): 2, ("a", 3): 3,
        ("b", 5): 1, ("b", 4): 2,
    }


def test_phrase_count_array_side(spark):
    from movie_data_pipeline_spark.functions.text import bpe_ish_tokens

    docs = spark.createDataFrame(
        [
            (1, "table scan table scan fast"),   # 2 matches
            (2, "table fast scan"),               # 0 (not adjacent)
            (3, "scan table"),                    # 0 (wrong order)
            (4, "a table scan z"),                # 1
        ],
        ["doc_id", "text"],
    )
    counted = docs.select(
        "doc_id", bpe_ish_tokens(F.col("text")).alias("t")
    ).select(
        "doc_id",
        F.size(
            F.expr(
                "filter(sequence(1, size(t) - 1),"
                " i -> t[i - 1] = 'table' AND t[i] = 'scan')"
            )
        ).alias("n"),
    )
    got = {r.doc_id: r.n for r in counted.collect()}
    assert got == {1: 2, 2: 0, 3: 0, 4: 1}


def test_fuzzy_clusters_transitive_chain(spark, tmp_path):
    # planted chain: aaaa ~ aaab ~ aabb ~ abbb (each 1 edit apart,
    # ends 3 apart — only transitivity links them) + a singleton
    import pyspark.sql.functions as F  # noqa: F811

    from movie_data_pipeline_spark.plans.dedup import fuzzy_name_clusters

    part = spark.createDataFrame(
        [(i, n) for i, n in enumerate(
            ["aaaa", "aaab", "aabb", "abbb", "zzzz"]
        )],
        ["p_partkey", "p_name"],
    )
    d = tmp_path / "wh"
    d.mkdir()
    part.write.parquet(str(d / "part.parquet"))
    got = {
        r.name: (r.cluster_rep, r.cluster_size)
        for r in fuzzy_name_clusters(spark, str(d)).collect()
    }
    assert got == {
        "aaaa": ("aaaa", 4),
        "aaab": ("aaaa", 4),
        "aabb": ("aaaa", 4),
        "abbb": ("aaaa", 4),
        "zzzz": ("zzzz", 1),
    }


def test_round_half_up_integer_mean(spark):
    # 2682767.445 exactly — the boundary that flipped the double
    # ROUND between engines before the integer formulation
    df = spark.createDataFrame(
        [(1, 1341383.72), (1, 1341383.73)], ["g", "m"]
    )
    r = (
        df.groupBy("g")
        .agg(
            (
                F.expr(
                    "CAST((2 * CAST(sum(CAST(m AS DECIMAL(30,2))) * 100 AS"
                    " BIGINT) + count(1)) DIV (2 * count(1)) AS DOUBLE)"
                )
                / 100.0
            ).alias("avg")
        )
        .collect()[0]
    )
    assert r.avg == 1341383.73  # half-up, engine-independent


def test_parallel_row_number_property(spark):
    """Property: the bucket decomposition ≡ a plain sorted enumerate,
    over random value multisets (heavy ties, negative values,
    single-value degenerate bucketing) and random bucket widths."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=6, deadline=None)
    @given(
        vals=st.lists(
            st.integers(min_value=-5, max_value=5), min_size=1, max_size=40
        ),
        nb=st.sampled_from([1, 2, 7, 64]),
    )
    def prop(vals, nb):
        rows = list(enumerate(vals))
        df = spark.createDataFrame(rows, ["k", "v"])
        got = {
            r.k: r.i
            for r in parallel_row_number(
                df, "v", ["k"], nbuckets=nb
            ).collect()
        }
        want = {
            k: i
            for i, (k, _) in enumerate(
                sorted(rows, key=lambda t: (t[1], t[0])), start=1
            )
        }
        assert got == want

    prop()


def _max_bucket_width(df, value_col, tiebreaks, nbuckets, split_floor):
    from pyspark.sql import functions as SF

    from movie_data_pipeline_spark.operators.ranks import _adaptive_buckets

    b, _prefix = _adaptive_buckets(
        df, value_col, tiebreaks, [], nbuckets,
        hot_factor=4, split_floor=split_floor,
    )
    widths = b.groupBy("_b").agg(SF.count(SF.lit(1)).alias("n")).collect()
    return max(r.n for r in widths)


def test_adaptive_split_all_equal_values(spark):
    """Pathological all-equal value distribution: every row lands in
    ONE first-level bucket; the adaptive split must re-spread it via
    the tiebreak image AND keep the row numbers exact."""
    n = 400
    rows = [(k, 7) for k in range(n)]
    df = spark.createDataFrame(rows, ["k", "v"])
    got = {
        r.k: r.i
        for r in parallel_row_number(
            df, "v", ["k"], nbuckets=8, split_floor=1
        ).collect()
    }
    assert got == {k: k + 1 for k in range(n)}
    width = _max_bucket_width(df, "v", ["k"], nbuckets=8, split_floor=1)
    # 8 tiebreak sub-buckets of an integer key: bounded per-partition
    assert width <= n / 4


def test_adaptive_split_single_spike(spark):
    """Single-spike distribution (95% of rows share one value inside a
    spread): level 2 isolates the spike by value range, level 3
    spreads it by STRING tiebreak — bounded width, exact ranks."""
    spike = [(f"id{k:05d}", 100) for k in range(380)]
    spread = [(f"xx{k:03d}", k) for k in range(20)]
    rows = spike + spread
    df = spark.createDataFrame(rows, ["k", "v"])
    got = {
        r.k: r.i
        for r in parallel_row_number(
            df, "v", ["k"], nbuckets=8, split_floor=1
        ).collect()
    }
    want = {
        k: i
        for i, (k, _) in enumerate(
            sorted(rows, key=lambda t: (t[1], t[0])), start=1
        )
    }
    assert got == want
    width = _max_bucket_width(df, "v", ["k"], nbuckets=8, split_floor=1)
    assert width <= len(rows) / 4


def test_adaptive_split_property(spark):
    """Property: with the split FORCED ON (floor=1), the adaptive
    multi-level decomposition still equals a plain sorted enumerate
    over skew-heavy random multisets (few distinct values → hot
    buckets at every level)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=6, deadline=None)
    @given(
        vals=st.lists(
            st.integers(min_value=0, max_value=2), min_size=1, max_size=40
        ),
        nb=st.sampled_from([2, 4]),
    )
    def prop(vals, nb):
        rows = list(enumerate(vals))
        df = spark.createDataFrame(rows, ["k", "v"])
        got = {
            r.k: r.i
            for r in parallel_row_number(
                df, "v", ["k"], nbuckets=nb, split_floor=1
            ).collect()
        }
        want = {
            k: i
            for i, (k, _) in enumerate(
                sorted(rows, key=lambda t: (t[1], t[0])), start=1
            )
        }
        assert got == want

    prop()


def test_adaptive_prefix_sum_skewed(spark):
    """parallel_prefix_sum with the split forced on over an all-equal
    order key with string tiebreaks: exact running sums."""
    from decimal import Decimal

    from movie_data_pipeline_spark.operators.ranks import (
        parallel_prefix_sum,
    )

    rows = [(f"t{k:04d}", 5, k + 1) for k in range(100)]
    df = spark.createDataFrame(rows, ["k", "o", "x"])
    got = {
        r.k: r.cum
        for r in parallel_prefix_sum(
            df, "x", "o", ["k"], nbuckets=4, split_floor=1
        ).collect()
    }
    run = 0
    for k, _, x in sorted(rows):
        run += x
        assert got[k] == Decimal(run), (k, got[k], run)


def test_helper_column_collision_rejected(spark):
    """An input frame already carrying a reserved helper name must be
    rejected loudly — the output drop would otherwise silently remove
    the user's column (round-10 fix; previously _t/_tot/... vanished)."""
    import pytest

    df = spark.createDataFrame([(1, 2)], ["v", "_tot"])
    with pytest.raises(ValueError, match="_tot"):
        parallel_row_number(df, "v", [])
    with pytest.raises(ValueError, match="parallel_prefix_sum"):
        from movie_data_pipeline_spark.operators.ranks import (
            parallel_prefix_sum,
        )

        parallel_prefix_sum(df, "v", "v", ["_tot"])


def test_null_order_keys_sort_first(spark):
    """NULL order values get the dedicated lowest bucket: global rank
    equals Spark's NULLS FIRST ascending default, and the ungrouped
    driver-stats path must not TypeError on the all-NULL bucket's
    NULL min/max (the round-9 advisory's crash case)."""
    rows = [(0, None), (1, 5), (2, None), (3, 1), (4, 3)]
    df = spark.createDataFrame(rows, "k int, v int")
    got = {
        r.k: r.i
        for r in parallel_row_number(
            df, "v", ["k"], nbuckets=4, split_floor=1
        ).collect()
    }
    # NULLS FIRST, tie-broken by k: 0,2 then 3,4,1
    assert got == {0: 1, 2: 2, 3: 3, 4: 4, 1: 5}


def test_null_order_keys_grouped(spark):
    rows = [
        ("a", 0, None), ("a", 1, 2), ("a", 2, None),
        ("b", 3, 9), ("b", 4, None),
    ]
    df = spark.createDataFrame(rows, "g string, k int, v int")
    got = {
        (r.g, r.k): r.i
        for r in parallel_row_number(
            df, "v", ["k"], part_cols=["g"], nbuckets=4, split_floor=1
        ).collect()
    }
    assert got == {
        ("a", 0): 1, ("a", 2): 2, ("a", 1): 3,
        ("b", 4): 1, ("b", 3): 2,
    }


def test_all_null_order_column(spark):
    """Degenerate: every order value NULL — one NULL bucket, ranks by
    tiebreak, no driver-side TypeError."""
    rows = [(k, None) for k in range(10)]
    df = spark.createDataFrame(rows, "k int, v int")
    got = {
        r.k: r.i
        for r in parallel_row_number(
            df, "v", ["k"], nbuckets=4, split_floor=1
        ).collect()
    }
    assert got == {k: k + 1 for k in range(10)}


def test_shared_prefix_strings_split_via_second_image(spark):
    """Round-9 advisory: a hot bucket of long strings sharing a >6-byte
    prefix stalled the refinement (zero-width first image). The second
    exact image over bytes 7-12 must now spread it: bounded width AND
    exact ranks."""
    from movie_data_pipeline_spark.operators.ranks import LAST_SPLIT_STATS

    n = 200
    rows = [(f"sharedprefix-{k:06d}", 1) for k in range(n)]
    df = spark.createDataFrame(rows, ["k", "v"])
    got = {
        r.k: r.i
        for r in parallel_row_number(
            df, "v", ["k"], nbuckets=8, split_floor=1
        ).collect()
    }
    assert got == {f"sharedprefix-{k:06d}": k + 1 for k in range(n)}
    width = _max_bucket_width(df, "v", ["k"], nbuckets=8, split_floor=1)
    # the operator's contract bound: refinement stops once no bucket
    # exceeds hot_factor*n/nbuckets (pre-fix the stall left width = n)
    assert width <= 4 * n / 8
    # observability: the reported final width matches the measured one
    assert LAST_SPLIT_STATS["final_max_width"] == width
    assert LAST_SPLIT_STATS["grouped"] is False
    assert any(lvl["hot"] > 0 for lvl in LAST_SPLIT_STATS["levels"])


def test_split_stats_reported_for_grouped_path(spark):
    from movie_data_pipeline_spark.operators.ranks import LAST_SPLIT_STATS

    rows = [("g", k, 7) for k in range(120)]
    df = spark.createDataFrame(rows, ["g", "k", "v"])
    parallel_row_number(
        df, "v", ["k"], part_cols=["g"], nbuckets=8, split_floor=1
    ).count()
    assert LAST_SPLIT_STATS["grouped"] is True
    assert LAST_SPLIT_STATS["levels"][0]["max_width"] == 120
    # contract bound: hot_factor * n / nbuckets = 4*120/8
    assert LAST_SPLIT_STATS["final_max_width"] <= 60
    assert any(lvl["hot"] > 0 for lvl in LAST_SPLIT_STATS["levels"])


def test_grouped_rank_empty_input_returns_empty(spark):
    """Round-10 advisory regression: with zero input rows the grouped
    stats probe aggregates max(_bn) to NULL and int(NULL) raised
    TypeError. A grouped rank whose upstream filter yields nothing
    must return empty, like the ungrouped path always did."""
    df = spark.createDataFrame([], "g string, k long, v long").filter(
        "v > 0"
    )
    out = parallel_row_number(
        df, "v", ["k"], part_cols=["g"], nbuckets=8, split_floor=1
    )
    assert out.count() == 0
    assert out.columns == ["g", "k", "v", "i"]
    # ungrouped path stays empty-safe too
    out_u = parallel_row_number(df, "v", ["k"], nbuckets=8, split_floor=1)
    assert out_u.count() == 0


def test_split_stats_log_survives_chained_calls(spark):
    """Round-10 advisory: LAST_SPLIT_STATS is overwritten per call, so
    a plan chaining two rank operators lost the first call's stats.
    SPLIT_STATS_LOG keeps one dict per call (most recent last) and
    stats_out= captures a specific call across later ones."""
    from movie_data_pipeline_spark.operators.ranks import (
        LAST_SPLIT_STATS,
        SPLIT_STATS_LOG,
    )

    grouped = spark.createDataFrame(
        [("g", k, 7) for k in range(40)], ["g", "k", "v"]
    )
    flat = spark.createDataFrame(
        [(k, k) for k in range(10)], ["k", "v"]
    )
    first_stats: dict = {}
    parallel_row_number(
        grouped, "v", ["k"], part_cols=["g"], nbuckets=4,
        split_floor=1, stats_out=first_stats,
    ).count()
    assert first_stats["grouped"] is True
    parallel_row_number(flat, "v", ["k"], nbuckets=4).count()
    # the global only shows the second call...
    assert LAST_SPLIT_STATS["grouped"] is False
    # ...but the captured dict and the log retain the first
    assert first_stats["grouped"] is True
    assert first_stats["final_max_width"] <= 40
    assert len(SPLIT_STATS_LOG) >= 2
    assert SPLIT_STATS_LOG[-1]["grouped"] is False
    assert SPLIT_STATS_LOG[-2]["grouped"] is True
    assert SPLIT_STATS_LOG[-2] == first_stats


def test_parallel_multi_row_number_matches_sequential(spark):
    """r15 fused multi-rank: for every spec, the fused operator must
    produce exactly the ranks the chained single-rank calls produce —
    over planted heavy ties (the quartile-boundary case rfm_segments
    cares about) and mixed value types (int / double / decimal)."""
    import random
    from decimal import Decimal

    from movie_data_pipeline_spark.operators.ranks import (
        parallel_multi_row_number,
    )

    rng = random.Random(15)
    rows = [
        (
            k,
            rng.randrange(0, 7),            # heavy integer ties
            float(rng.randrange(0, 5)),     # heavy double ties
            Decimal(rng.randrange(0, 900)) / 100,
        )
        for k in range(400)
    ]
    df = spark.createDataFrame(rows, "k long, r int, f double, m decimal(30,2)")
    specs = [("r", ["k"], "ri"), ("f", ["k"], "fi"), ("m", ["k"], "mi")]
    stats: dict = {}
    fused = {
        r.k: (r.ri, r.fi, r.mi)
        for r in parallel_multi_row_number(
            df, specs, nbuckets=16, stats_out=stats
        ).collect()
    }
    seq = df
    for vc, tb, oc in specs:
        seq = parallel_row_number(seq, vc, tb, out_col=oc, nbuckets=16)
    want = {r.k: (r.ri, r.fi, r.mi) for r in seq.collect()}
    assert fused == want
    # and against the plain python sort (ground truth)
    for ci, col in [(1, "r"), (2, "f"), (3, "m")]:
        gt = {
            k: i
            for i, (k, *_vals) in enumerate(
                sorted(rows, key=lambda t: (t[ci], t[0])), start=1
            )
        }
        got = {k: v[ci - 1] for k, v in fused.items()}
        assert got == gt, col
    assert stats["total_rows"] == 400
    assert all(not s["fallback"] for s in stats["per_spec"])


def test_parallel_multi_row_number_hot_fallback(spark):
    """A metric whose histogram flags a hot bucket (single-spike
    distribution, split_floor=1) must fall back to the adaptive
    single-rank path and still produce exact ranks; the well-spread
    metric stays on the fused fast path."""
    from movie_data_pipeline_spark.operators.ranks import (
        parallel_multi_row_number,
    )

    rows = [(k, 1, k % 13) for k in range(120)]  # v constant = one hot bucket
    df = spark.createDataFrame(rows, ["k", "v", "w"])
    stats: dict = {}
    out = {
        r.k: (r.vi, r.wi)
        for r in parallel_multi_row_number(
            df,
            [("v", ["k"], "vi"), ("w", ["k"], "wi")],
            nbuckets=8,
            split_floor=1,
            stats_out=stats,
        ).collect()
    }
    by_spec = {s["out_col"]: s for s in stats["per_spec"]}
    assert by_spec["vi"]["fallback"] is True
    assert by_spec["wi"]["fallback"] is False
    want_v = {
        k: i
        for i, (k, _v, _w) in enumerate(
            sorted(rows, key=lambda t: (t[1], t[0])), start=1
        )
    }
    want_w = {
        k: i
        for i, (k, _v, _w) in enumerate(
            sorted(rows, key=lambda t: (t[2], t[0])), start=1
        )
    }
    assert {k: v[0] for k, v in out.items()} == want_v
    assert {k: v[1] for k, v in out.items()} == want_w


def test_parallel_multi_row_number_rejects_bad_specs(spark):
    import pytest

    from movie_data_pipeline_spark.operators.ranks import (
        parallel_multi_row_number,
    )

    df = spark.createDataFrame([(1, 2)], ["k", "v"])
    with pytest.raises(ValueError, match="duplicate out_cols"):
        parallel_multi_row_number(
            df, [("v", ["k"], "i"), ("k", ["v"], "i")]
        )
    clash = spark.createDataFrame([(1, 2)], ["_mrb0", "v"])
    with pytest.raises(ValueError, match="collide"):
        parallel_multi_row_number(clash, [("v", ["_mrb0"], "i")])



def test_parallel_multi_row_number_rejects_empty_specs(spark):
    """An empty spec list is a caller error, reported as such before
    the fused bounds aggregate is built (df.agg() with no columns
    fails with an unrelated message)."""
    import pytest

    from movie_data_pipeline_spark.operators.ranks import (
        parallel_multi_row_number,
    )

    df = spark.createDataFrame([(1, 2)], ["k", "v"])
    with pytest.raises(ValueError, match="specs is empty"):
        parallel_multi_row_number(df, [])
    with pytest.raises(ValueError, match="specs is empty"):
        parallel_multi_row_number(df, iter(()))

def test_phrase_regexp_count_equals_array_form(spark):
    """r15: phrase_match_counts' regexp_count formulation must count
    exactly what the array formulation counted — whole-token matches
    of adjacent (w1, w2) over the bpe_ish token stream — across
    apostrophe/punctuation/boundary cases, and additionally survive
    the < 2-token documents that crash the array form under ANSI
    (sequence(1, size-1) descends into a negative index)."""
    from movie_data_pipeline_spark.functions.text import bpe_ish_tokens

    w1, w2 = "table", "scan"
    pat = rf"(?<![\w']){w1}[^\w']+{w2}(?![\w'])"
    rows = [
        (1, "table scan", 1), (2, "table  scan", 1), (3, "table-scan", 1),
        (5, "xtable scan", 0), (6, "table scanx", 0),
        (7, "table scan table scan", 2), (8, "table table scan scan", 1),
        (9, "TABLE SCAN", 1), (10, "table\nscan", 1),
        (11, "table scan scan table scan", 2),
        (12, "'table scan'", 0), (13, "table' scan", 0),
        (14, "a table scan, table scan; table scan.", 3),
        (17, "scan table", 0), (18, "tabletable scan", 0),
        (19, "table scantable", 0), (20, "don't table scan don't", 1),
        (21, "table, scan", 1), (22, "table 9 scan", 0),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in rows], ["doc_id", "text"]
    ).coalesce(1)
    new = {
        r.doc_id: r.n
        for r in df.select(
            "doc_id",
            F.regexp_count(F.lower(F.col("text")), F.lit(pat))
            .cast("int")
            .alias("n"),
        ).collect()
    }
    assert new == {i: n for i, _, n in rows}
    old = {
        r.doc_id: r.n
        for r in df.select(
            "doc_id", bpe_ish_tokens(F.col("text")).alias("t")
        ).select(
            "doc_id",
            F.size(
                F.expr(
                    f"filter(sequence(1, size(t) - 1),"
                    f" i -> t[i - 1] = '{w1}' AND t[i] = '{w2}')"
                )
            ).cast("int").alias("n"),
        ).collect()
    }
    assert old == new
    # robustness: the regex form handles degenerate docs the array
    # form cannot evaluate
    degen = spark.createDataFrame(
        [(30, ""), (31, "table"), (32, "table'scan")], ["doc_id", "text"]
    )
    got = {
        r.doc_id: r.n
        for r in degen.select(
            "doc_id",
            F.regexp_count(F.lower(F.col("text")), F.lit(pat))
            .cast("int")
            .alias("n"),
        ).collect()
    }
    assert got == {30: 0, 31: 0, 32: 0}
