"""Self-tests of the benchmark's own pieces; no Spark session needed.

    PYTHONDONTWRITEBYTECODE=1 python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import checks  # noqa: E402
import gen_tpch  # noqa: E402
import measure  # noqa: E402
import run  # noqa: E402


# ---------------------------------------------------------------------------
# each check rejects a deliberately perturbed result
# ---------------------------------------------------------------------------

def test_compare_rows_order_insensitive_with_tolerance():
    want = [("A", 1, 10.25), ("B", 2, 3.5)]
    assert checks.compare_rows([("B", 2, 3.5 + 1e-12), ("A", 1, 10.25)], want) == []
    assert checks.compare_rows([("A", 1, 10.26), ("B", 2, 3.5)], want)
    assert checks.compare_rows([("A", 1, 10.25)], want)
    assert checks.compare_rows([("A", 1, 10.25), ("B", 3, 3.5)], want)
    assert checks.compare_rows([("A", 1, 10.25, 0), ("B", 2, 3.5, 0)], want)
    assert checks.compare_rows([("A", 1, None), ("B", 2, 3.5)], want)


def test_tpch_check_on_a_sql_twin(tmp_path):
    """A registry entry's SQL twin on a small generated corpus: its own
    rows pass, a perturbed value or a dropped row does not."""
    from movie_data_pipeline_spark.plans.analytics import QUERIES

    gen_tpch.write(str(tmp_path), seed=7, sf=0.0005)
    con = checks.duckdb_connect(str(tmp_path))
    rows = checks.sql_rows(con, QUERIES["pricing_summary"][1])
    con.close()
    assert len(rows) == 6  # every (returnflag, linestatus) pair
    assert checks.compare_rows(list(reversed(rows)), rows) == []
    bent = [rows[0][:2] + (rows[0][2] + 1.0,) + rows[0][3:]] + rows[1:]
    assert checks.compare_rows(bent, rows)
    assert checks.compare_rows(rows[1:], rows)


def test_sql_twins_round_as_spark_does(tmp_path):
    """At an exact tie DuckDB's ROUND on a double rounds down where Spark
    rounds half up; the checks run the twins under Spark's rule."""
    con = checks.duckdb_connect(str(tmp_path), tables=())
    tie = "SELECT ROUND(CAST(543804.705 AS DOUBLE), 2), ROUND(CAST(-2.675 AS DOUBLE), 2)"
    assert con.execute(tie).fetchall()[0][0] == 543804.7
    assert checks.sql_rows(con, tie.lower()) == [(543804.71, -2.68)]
    assert checks.sql_rows(con, "SELECT ROUND(CAST(1.2344 AS DOUBLE), 3)") == [(1.234,)]
    con.close()


def test_snapshot_check(tmp_path):
    root = str(tmp_path)
    for v in (2, 3):
        os.makedirs(os.path.join(root, f"v{v}"))
    counts = {"movies": 5, "ratings": 9}
    assert checks.check_snapshot(root, 3, 3, 2, counts, counts) == []
    assert checks.check_snapshot(root, 4, 3, 2, counts, counts)
    assert checks.check_snapshot(root, 3, 3, 2, {"movies": 5, "ratings": 8}, counts)
    os.makedirs(os.path.join(root, "v1"))
    assert checks.check_snapshot(root, 3, 3, 2, counts, counts)


def test_director_check():
    expected = ["Ada Varga", "Unknown", "N/A"]
    pairs = [(3, "N/A"), (1, "Ada Varga"), (2, "Unknown")]
    assert checks.check_directors(pairs, expected) == []
    assert checks.check_directors([(3, "N/A"), (1, "Hana Tanaka"), (2, "Unknown")], expected)
    assert checks.check_directors([(3, "N/A"), (1, "Ada Varga"), (2, "Ada Varga")], expected)
    assert checks.check_directors(pairs[:2], expected)
    assert checks.check_directors(pairs + [(2, "Unknown")], expected)


def test_generated_directors_follow_the_lookup(tmp_path):
    """The expected director of each movie is the one its lookup row
    names, and 'Unknown' for the movies the lookup misses."""
    import csv
    import json

    import gen_movielens

    summary = gen_movielens.write(str(tmp_path), seed=3)
    with open(tmp_path / "expected.json") as f:
        directors = json.load(f)["directors"]
    with open(tmp_path / "lookup.csv", encoding="utf-8") as f:
        lookup = list(csv.DictReader(f))
    assert len(directors) == summary["movies"]
    hits = {int(r["imdb_id"][2:]): r["director"] for r in lookup}
    assert {i + 1: d for i, d in enumerate(directors) if i + 1 in hits} == hits
    assert all(d == "Unknown" for i, d in enumerate(directors) if i + 1 not in hits)


def test_query_check():
    expected = [[["T", 1999, 4.5, 2]], [["Drama", 3.51, 10, 20]]]
    got = [[("T", 1999, 4.5, 2)], [("Drama", 3.51, 10, 20)]]
    assert checks.check_queries(got, expected) == []
    assert checks.check_queries([got[0], [("Drama", 3.52, 10, 20)]], expected)
    assert checks.check_queries([got[0], []], expected)
    assert checks.check_queries(got[:1], expected)


# ---------------------------------------------------------------------------
# metric arithmetic, accounting and counting
# ---------------------------------------------------------------------------

def test_geomean_of_medians():
    lat = {"a": [1.0, 2.0, 100.0], "b": [8.0], "c": [3.0, 5.0, 4.0, 4.0]}
    # medians 2, 8, 4 -> (2 * 8 * 4) ** (1/3) = 4
    assert abs(run.geomean_of_medians(lat) - 4.0) < 1e-12


def test_failed_op_counting():
    ops = [
        run.Op("a", 1.0, 1.0, False),
        run.Op("a", 1.0, 1.0, False, ["raised"]),
        run.Op("b", 1.0, 1.0, False),
        run.Op("b", 1.0, 1.0, False),
        run.Op("c", 1.0, 1.0, False),
    ]
    assert run.count_failed(ops, {}) == 1
    assert run.count_failed(ops, {"b": ["mismatch"], "c": []}) == 3
    m = run.end_to_end(ops, {"b": ["mismatch"]}, 1.0, 1.0)
    assert m["ops_per_s"][0] == 2 / 5.0


def test_one_failing_kind_makes_the_run_incorrect():
    ops = [run.Op(k, 1.0, 1.0, False) for k in "abcabc"]
    assert run.is_correct(len(ops), run.count_failed(ops, {}))
    assert not run.is_correct(len(ops), run.count_failed(ops, {"c": ["row 0: wrong"]}))
    ops[0].errors = ["raised"]
    assert not run.is_correct(len(ops), run.count_failed(ops, {}))
    assert not run.is_correct(0, 0)


def test_self_time_subtracts_the_union_of_children():
    parent = measure.Span("build", 0.0, 10.0, None, 0, id=0)
    spans = [
        parent,
        measure.Span("load", 1.0, 3.0, 0, 0, id=1),
        measure.Span("load", 2.0, 5.0, 0, 0, id=2),  # overlaps the first
        measure.Span("load", 8.0, 12.0, 0, 0, id=3),  # clipped at the parent's end
        measure.Span("load", 6.0, 7.0, 1, 0, id=4),  # a grandchild: not subtracted
    ]
    assert abs(measure.self_time(parent, spans) - 4.0) < 1e-12


def test_cpu_accounting_covers_the_process_tree(tmp_path):
    """A child that reaps a CPU-burning grandchild and burns CPU itself,
    then stays alive: both show up in the tree's CPU seconds, as the
    JVM and its Python workers do."""
    marker = tmp_path / "done"
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.4: pass\n"
    child = textwrap.dedent(f"""
        import subprocess, sys, time
        subprocess.run([sys.executable, "-c", {burn!r}], check=True)
        exec({burn!r})
        open({str(marker)!r}, "w").close()
        time.sleep(30)
    """)
    before = measure.tree_cpu_s(os.getpid())
    proc = subprocess.Popen([sys.executable, "-c", child])
    try:
        deadline = time.monotonic() + 30
        while not marker.exists() and time.monotonic() < deadline:
            time.sleep(0.05)
        assert marker.exists()
        assert proc.pid in measure.descendants(os.getpid())
        assert measure.tree_cpu_s(os.getpid()) - before >= 0.75
    finally:
        proc.kill()
        proc.wait(timeout=30)
    assert measure.tree_cpu_s(os.getpid()) - before >= 0.75  # reaped: now in our cutime


def test_parse_metric_total():
    assert measure.parse_metric_total("total (min, med, max)\n9.5 s (2.2 s, 2.4 s, 2.5 s)") == 9.5
    assert measure.parse_metric_total("total (min, med, max)\n812 ms (1 ms, 2 ms, 3 ms)") == 0.812
    assert measure.parse_metric_total("24.0 KiB (6.0 KiB, 6.0 KiB, 6.0 KiB)") == 24.0 * 1024
