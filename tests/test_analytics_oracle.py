"""Cross-check every registry query against its DuckDB oracle at
sf0.001 — the in-repo twin of the driver's t2 correctness gate."""

from __future__ import annotations

import duckdb
import pytest

from movie_data_pipeline_spark.plans.analytics import QUERIES
from movie_data_pipeline_spark.schemas import TESTDATA_TABLES

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    yield con
    con.close()


def _normalize(rows, ndigits=9):
    out = []
    for row in rows:
        out.append(
            "|".join(
                repr(round(v, ndigits)) if isinstance(v, float) else repr(v)
                for v in row
            )
        )
    return sorted(out)


@pytest.mark.parametrize("name", list(QUERIES))
def test_oracle_match(spark, duck, name):
    builder, sql = QUERIES[name]
    sdf = builder(spark, SF)
    spark_rows = [tuple(r) for r in sdf.collect()]
    if sql is None:
        assert isinstance(spark_rows, list)  # rows-only check
        return
    res = duck.execute(sql)
    duck_cols = [d[0].lower() for d in res.description]
    duck_rows = res.fetchall()
    assert [c.lower() for c in sdf.columns] == duck_cols
    assert len(spark_rows) == len(duck_rows)
    assert _normalize(spark_rows) == _normalize(duck_rows)



def test_q7_half_cent_tie_planted(spark, tmp_path):
    """A Q7 revenue that sums to x.xx5 exactly (543,804.705): Spark's
    ROUND on a double rounds its decimal form half-up (.71), DuckDB's
    rounds the double 543804.70499… down (.70). Both twins round the
    exact decimal sum before the cast, so they agree on the tie."""
    import datetime as dt

    from pyspark.sql import functions as F

    from movie_data_pipeline_spark.plans.tpch import Q7_SQL, q7_nation_trade_volume
    from movie_data_pipeline_spark.schemas import TESTDATA

    ship = dt.datetime(1995, 6, 1)
    tables = {
        "nation": (["n_nationkey", "n_name"],
                   [(1, "NATION_1"), (2, "NATION_2"), (3, "NATION_3")]),
        "supplier": (["s_suppkey", "s_nationkey"], [(10, 1), (20, 2), (30, 3)]),
        "customer": (["c_custkey", "c_nationkey"], [(100, 2), (200, 1)]),
        "orders": (["o_orderkey", "o_custkey"], [(1000, 100), (2000, 200)]),
        "lineitem": (
            ["l_orderkey", "l_suppkey", "l_extendedprice", "l_discount", "l_shipdate"],
            [
                # NATION_1 → NATION_2: 500,000 + 43,804.705 = 543,804.705
                (1000, 10, 500000.0, 0.0, ship),
                (1000, 10, 43804.705, 0.0, ship),
                (2000, 20, 1234.5, 0.1, ship),  # NATION_2 → NATION_1
                (2000, 30, 99.0, 0.0, ship),  # NATION_3 supplier: filtered
            ],
        ),
    }
    con = duckdb.connect()
    for name, (cols, rows) in tables.items():
        # the corpus's physical types: load_table reads the declared schema
        types = {f.name: f.dataType for f in TESTDATA[name].fields}
        path = str(tmp_path / f"{name}.parquet")
        spark.createDataFrame(rows, cols).select(
            *[F.col(c).cast(types[c]) for c in cols]
        ).write.parquet(path)
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}/*.parquet')"
        )
    got = [tuple(r) for r in q7_nation_trade_volume(spark, str(tmp_path)).collect()]
    assert ("NATION_1", "NATION_2", 1995, 543804.71, 2) in got
    assert _normalize(got) == _normalize(con.execute(Q7_SQL).fetchall())
    con.close()

def test_oracle_artifact_at_head():
    """The committed ORACLE_r{N}.json (round-10 VERDICT item 2: a
    per-round audit trail for the registry entries past driver slot
    50) must exist, cover the live registry exactly (a registry change
    without a regenerated artifact fails here), and be all-green."""
    import json
    import re
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    artifacts = sorted(
        repo.glob("ORACLE_r*.json"),
        key=lambda p: int(re.search(r"r(\d+)", p.name).group(1)),
    )
    assert artifacts, "no committed ORACLE_r{N}.json artifact"
    data = json.loads(artifacts[-1].read_text())
    meta = data.pop("_meta")
    assert not meta["subset"], "artifact must be a full-registry run"
    assert list(data) == list(QUERIES), (
        "artifact keys diverge from the live registry — regenerate with "
        "`python tools/oracle_check.py --json ORACLE_r{N}.json`"
    )
    bad = {
        name: row
        for name, row in data.items()
        if row["err"] is not None
        or not (
            row.get("rows_only")
            or (row["rows_match"] and row["schema_match"] and row["hash_match"])
        )
    }
    assert not bad, f"non-green artifact rows: {sorted(bad)}"
    assert meta["pass"] == meta["run"] == len(QUERIES)


def _entry_module():
    import importlib
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    return importlib.import_module("__spark_entry__")


def test_slot_order_rotation():
    """r12 VERDICT item 3, applied builder-side: queries() itself is
    served in a per-round rotated order — anchors first, then the
    oracled pool rotated by 42/round, then rows-only entries — so the
    driver's first-50 hash check sweeps the whole oracled registry
    every ~5 rounds. Deterministic, complete (every registry entry
    always present exactly once), and the round-13 window must cover
    entries never driver-hashed in rounds 4-12 (the frozen first-50,
    recorded in every CORRECTNESS_r{4..12}.json)."""
    entry = _entry_module()
    from movie_data_pipeline_spark.plans.analytics import QUERIES

    oracled = {n for n, (_, sql) in QUERIES.items() if sql is not None}

    seen_in_50: set[str] = set()
    for n in range(13, 20):
        order = entry.slot_order(n)
        # complete permutation of the registry — nothing dropped/duped
        assert sorted(order) == sorted(QUERIES)
        assert order[: len(entry.ANCHORS)] == list(entry.ANCHORS)
        first50 = order[:50]
        assert set(first50) <= oracled  # every driver slot hash-checkable
        assert order == entry.slot_order(n)  # pure function of round_no
        seen_in_50 |= set(first50)
    assert seen_in_50 == oracled  # full sweep within ceil(195/42) rounds

    # round 13 specifically: ≥40 of the 42 rotating slots were never
    # driver-hashed before (frozen slots = the registry's first 50)
    frozen = set(list(QUERIES)[:50])
    fresh = [n for n in entry.slot_order(13)[8:50] if n not in frozen]
    assert len(fresh) >= 40, len(fresh)

    # consecutive rounds are disjoint away from the anchors
    w13 = set(entry.slot_order(13)[8:50])
    w14 = set(entry.slot_order(14)[8:50])
    assert not (w13 & w14)


def test_rotation_sweeps_never_hashed_pool():
    """r13 VERDICT item 5: the oracled entries that have never
    appeared in ANY committed CORRECTNESS_r*.json must all fall inside
    the rounds-14..17 driver windows — i.e. the sweep finishes on
    schedule PROVIDED the registry order stays append-only. A registry
    insertion that reorders the pool breaks this set equation loudly
    instead of silently re-hashing already-covered entries. (The r13
    pool's stragglers land by r16; r17 covers entries APPENDED in
    r14, which slot_order places at the rotation's tail.)"""
    entry = _entry_module()
    import json
    from pathlib import Path

    from movie_data_pipeline_spark.plans.analytics import QUERIES

    repo = Path(__file__).resolve().parent.parent
    hashed: set[str] = set()
    for p in sorted(repo.glob("CORRECTNESS_r*.json")):
        hashed |= set(json.loads(p.read_text()))
    oracled = {n for n, (_, sql) in QUERIES.items() if sql is not None}
    remaining = oracled - hashed
    upcoming: set[str] = set()
    for n in (14, 15, 16, 17):
        upcoming |= set(entry.slot_order(n)[:50])
    missed = remaining - upcoming
    assert not missed, (
        f"{len(missed)} never-hashed oracled entries fall outside the "
        f"r14-r17 windows: {sorted(missed)[:10]}"
    )


def test_round_no_derivation():
    """The committed ROUND pin is the round of record (r13 ADVICE
    item 1); at round open it must equal the artifact-max heuristic
    (max committed CORRECTNESS/BENCH index + 1). When this fails at
    the START of a round, the ROUND file was not bumped — update it
    before anything else, or every driver process this round serves a
    stale slot window."""
    entry = _entry_module()
    import re
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    expect = 1 + max(
        int(m.group(1))
        for p in repo.glob("*_r*.json")
        if (m := re.fullmatch(r"(?:CORRECTNESS|BENCH)_r(\d+)\.json", p.name))
    )
    pinned = int((repo / "ROUND").read_text().strip())
    assert pinned == expect, (
        f"ROUND file says {pinned} but committed artifacts imply "
        f"round {expect} — bump ROUND at round open"
    )
    assert entry._round_no() == pinned
    # and the live queries()/oracle_sql() surfaces serve that order
    assert list(entry.queries()) == entry.slot_order()
    live_oracle = entry.oracle_sql()
    assert list(live_oracle) == [
        n for n in entry.slot_order() if n in live_oracle
    ]


def test_driver_slot_invariants():
    """The driver records the first 50 entries of queries(); every one
    of those slots must be oracled (hash-checkable), anchors first.
    The underlying registry order (plans.analytics.QUERIES) keeps the
    historical curated prefix — only the entry-point order rotates."""
    entry = _entry_module()
    from movie_data_pipeline_spark.plans.analytics import _DRIVER_SLOTS, QUERIES

    # registry order unchanged: bench keys / artifact diffs stay stable
    assert list(QUERIES)[:50] == _DRIVER_SLOTS
    first50 = list(entry.queries())[:50]
    assert first50[: len(entry.ANCHORS)] == list(entry.ANCHORS)
    missing_oracle = [n for n in first50 if QUERIES[n][1] is None]
    assert not missing_oracle, missing_oracle
