"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in ``movie_data_pipeline_spark``; this module is
just the registry adapter.
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from movie_data_pipeline_spark.plans.analytics import QUERIES


def _hardened(builder: Callable[[SparkSession, str], DataFrame]):
    """Pin the session confs the plans assume, whatever session the
    driver hands us: UTC (temporal extraction and timestamp literals
    are session-timezone-dependent in Spark; the DuckDB oracle is
    tz-naive/UTC), Arrow for the pandas-UDF boundary, and raw int64
    reads of a TIMESTAMP(NANOS) ``events.ts`` (``session.get_spark``
    sets the same three). ``get_spark``'s codegen cache size is not
    pinned here: it is a static conf, fixed when the driver's session
    started, and it changes only how often generated code is
    recompiled, never the rows."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return builder(spark, sf_dir)

    return wrapped


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the 4-way broadcast
    join + aggregate + deterministic top-k (reference Q2 shape)."""
    builder, _ = QUERIES["q2_top_regions"]
    return _hardened(builder)(spark, "/root/testdata/sf0.001")


# The 8 fixed driver slots: the reference-workload analogs plus the
# two approximate-family gate digests — the rows a human reads first
# in every CORRECTNESS file, hashed every round without exception.
ANCHORS = (
    "q1_top_part", "q2_top_regions", "q3_top_segment",
    "q4_yearly_shipments", "pricing_summary",
    "supplier_volume_by_nation", "approx_suite_check",
    "cluster_check",
)
# The driver records list(queries())[:50]; 50 − 8 anchors = 42
# rotating slots per round.
DRIVER_SLOTS = 50
# Rounds 4-12 hashed the same frozen first-50 (≈ anchors + the first
# 42 oracled non-anchors in registry order) — phase the rotation so
# round 13's window starts immediately AFTER that already-covered
# prefix and sweeps forward 42/round.
ROTATION_EPOCH = 12


_ROUND_CACHE: list[int] = []


def _round_no() -> int:
    """Current build round. Resolution order (r13 ADVICE item 1 —
    the artifact-max heuristic alone shifts if a second process starts
    after this round's own BENCH/CORRECTNESS artifact lands):

    1. ``SPARK_GRAFT_ROUND`` env var (explicit operator override),
    2. the committed ``ROUND`` file, written at round open — the
       normal path, stable for the whole round no matter when a
       process starts (``tests/test_analytics_oracle.py::
       test_round_no_derivation`` forces the bump each round: it
       pins ROUND == artifact-max+1, which only holds at round open),
    3. artifact-max fallback (CORRECTNESS_r{N}/BENCH_r{N}.json are
       written at the END of round N, so during round N the max on
       disk is N−1) — kept for checkouts without a ROUND file.

    Memoized per process so the slot order cannot shift mid-verify if
    the driver writes one artifact between two queries()/oracle_sql()
    calls."""
    if not _ROUND_CACHE:
        here = Path(__file__).resolve().parent
        env = os.environ.get("SPARK_GRAFT_ROUND", "").strip()
        pin = here / "ROUND"
        pinned = pin.read_text().strip() if pin.is_file() else ""
        if env.isdigit():
            _ROUND_CACHE.append(int(env))
        elif pinned.isdigit():
            _ROUND_CACHE.append(int(pinned))
        else:
            rounds = [
                int(m.group(1))
                for p in here.glob("*_r*.json")
                if (m := re.fullmatch(r"(?:CORRECTNESS|BENCH)_r(\d+)\.json", p.name))
            ]
            _ROUND_CACHE.append(max(rounds, default=0) + 1)
    return _ROUND_CACHE[0]


def slot_order(round_no: int | None = None) -> list[str]:
    """Deterministic per-round registry ordering (r12 VERDICT item 3):
    the driver has not adopted the ``rotating_slots()`` proposal, so the
    rotation is applied builder-side to the order of ``queries()``
    itself. Layout: the 8 ANCHORS, then ALL oracled non-anchors rotated
    so the 42 entries at ``list(queries())[8:50]`` advance by 42 each
    round (wrapping), then the rows-only entries. Every registry entry
    is always present; only the ORDER rotates — so the driver's
    first-50 hash check sweeps the whole oracled registry every ~5 rounds
    instead of re-hashing the same frozen slots. Pure function of
    (round_no, live registry): reproducible post-hoc, no state."""
    if round_no is None:
        round_no = _round_no()
    pool = [
        name
        for name, (_, sql) in QUERIES.items()
        if sql is not None and name not in ANCHORS
    ]
    rows_only = [name for name, (_, sql) in QUERIES.items() if sql is None]
    take = DRIVER_SLOTS - len(ANCHORS)
    start = (max(round_no - ROTATION_EPOCH, 0) * take) % max(len(pool), 1)
    rotated = pool[start:] + pool[:start]
    return list(ANCHORS) + rotated + rows_only


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator family from SURVEY.md §2,
    in this round's rotated slot order (see ``slot_order``)."""
    return {
        name: _hardened(QUERIES[name][0]) for name in slot_order()
    }


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each query (omitted for
    non-SQL-expressible ops → driver records a rows-only check)."""
    return {
        name: QUERIES[name][1]
        for name in slot_order()
        if QUERIES[name][1] is not None
    }
