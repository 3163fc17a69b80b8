"""The A/B tool's revision loader, equality gate and compile counts, and
the growth tool's K× warehouse builder."""

from __future__ import annotations

import sys

import pytest
from conftest import SF_SMALL as SF
from pyspark.sql import functions as F


def test_rev_loader_imports_head_under_private_name(tmp_path):
    import movie_data_pipeline_spark as live_pkg
    from movie_data_pipeline_spark.plans import analytics as live
    from tools import ab

    name = ab.export_rev("HEAD", tmp_path)
    try:
        old = ab.import_rev(name, tmp_path)
        assert name != "movie_data_pipeline_spark"
        assert old.__name__ == f"{name}.plans.analytics"
        assert old.__file__.startswith(str(tmp_path))
        assert list(old.QUERIES) == list(live.QUERIES)
        # separate module objects; the live package is not shadowed
        assert old.QUERIES["q1_top_part"][0] is not live.QUERIES["q1_top_part"][0]
        assert sys.modules["movie_data_pipeline_spark"] is live_pkg
        assert sys.modules["movie_data_pipeline_spark.plans.analytics"] is live
    finally:
        sys.path.remove(str(tmp_path))
        for mod in [m for m in sys.modules if m.split(".")[0] == name]:
            del sys.modules[mod]


def test_equality_gate_flags_one_differing_value(spark):
    from tools import ab

    rows = [(1, "a", 0.5), (2, None, float("nan")), (3, "c", 1.25)]
    changed = [(1, "a", 0.5), (2, None, float("nan")), (3, "c", 1.5)]
    cols = "k long, s string, x double"
    base = ab.rows_key(spark.createDataFrame(rows, cols))
    # same rows in another order (and NULL/NaN) pass
    assert ab.gate(base, ab.rows_key(spark.createDataFrame(rows[::-1], cols))) is None
    diff = ab.gate(base, ab.rows_key(spark.createDataFrame(changed, cols)))
    assert diff is not None and "1.25" in diff and "1.5" in diff
    renamed = spark.createDataFrame(rows, "k long, s string, y double")
    assert "columns differ" in ab.gate(base, ab.rows_key(renamed))


def test_ab_reports_compiles_per_variant(spark, capsys):
    """A plan that inlines a per-run literal recompiles on every timed
    run; the same plan with a fixed literal reuses the classes the gate
    compiled. The A/B record counts both."""
    import argparse
    import itertools
    import json

    from movie_data_pipeline_spark.session import clear_state
    from tools import ab

    fresh = itertools.count(10**6)

    def build(cut):
        return lambda s, sf: s.range(500).filter(F.col("id") < F.lit(cut()))

    variants = {
        "old": ({"e": (build(lambda: next(fresh)), None)}, clear_state),
        "new": ({"e": (build(lambda: 10**6), None)}, clear_state),
    }
    args = argparse.Namespace(rev="HEAD", sf_dir=SF, reps=3, entries=["e"])
    assert ab.run(spark, args, "old_pkg", variants) == 0
    out = capsys.readouterr().out
    assert "compiles old" in out
    rec = json.loads(out[out.index("\n{") + 1:])["results"]["e"]
    assert rec["status"] == "equal" and rec["rows"] == 500
    assert rec["old_compiles"] >= args.reps
    assert rec["new_compiles"] == 0


def test_growth_builder_doubles_facts_keeps_dimensions(spark, tmp_path):
    from movie_data_pipeline_spark.schemas import TESTDATA_TABLES
    from movie_data_pipeline_spark.sources.catalog import load_table
    from tools import growth

    dest = growth.build_warehouse(spark, SF, str(tmp_path / "x2"), 2)

    def both(t):
        return load_table(spark, SF, t), load_table(spark, dest, t)

    keys = {
        "lineitem": ("l_orderkey",),
        "orders": ("o_orderkey",),
        "documents": ("doc_id",),
        "events": ("event_id",),
        "embeddings": ("vec_id",),
    }
    assert set(keys) | set(growth.DIMENSIONS) == set(TESTDATA_TABLES)
    for t, key in keys.items():
        src, grown = both(t)
        n = src.count()
        assert grown.count() == 2 * n, t
        # each copy's keys are disjoint from every other copy's
        n_keys = src.select(*key).distinct().count()
        assert grown.select(*key).distinct().count() == 2 * n_keys, t
        # copy 0 is the original table
        assert grown.join(src.select(*key), list(key), "left_semi").count() == n, t
    for t in growth.DIMENSIONS:
        src, grown = both(t)
        assert sorted(map(tuple, grown.collect())) == sorted(map(tuple, src.collect())), t

    ev_src, ev = both("events")
    users = lambda df: {r[0] for r in df.select("user_id").distinct().collect()}  # noqa: E731
    assert users(ev) == users(ev_src)
    # each user's events grow 2x, the copies 92 days apart
    ts = F.col("ts").cast("timestamp").cast("double")
    span = ev.agg(F.max(ts) - F.min(ts)).first()[0]
    span_src = ev_src.agg(F.max(ts) - F.min(ts)).first()[0]
    assert span == pytest.approx(span_src + 92 * 86400, abs=1e-6)
    # near-duplicate, not exact, document copies; n_chars follows the text
    docs = load_table(spark, dest, "documents")
    assert docs.select("text").distinct().count() > load_table(
        spark, SF, "documents"
    ).select("text").distinct().count()
    assert docs.filter(F.length("text") != F.col("n_chars")).count() == 0
