"""Correctness checks made apart from the engine.

Every check returns a list of mismatch descriptions; an empty list means
the engine's output agrees with the independent computation. None of
them runs the engine: the references are DuckDB (the registry entries'
SQL twins, run on the same parquet) and plain Python (the MovieLens
tables and queries, computed by the generator from the rows it wrote).
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os
import re

REL_TOL = 1e-9
ABS_TOL = 1e-6


# ---------------------------------------------------------------------------
# order-insensitive row comparison with a float tolerance
# ---------------------------------------------------------------------------

def _norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    return v


def _sort_key(row):
    # floats rounded so rows equal within tolerance sort alike
    return tuple(
        (0, "") if v is None
        else (1, round(v, 6)) if isinstance(v, float)
        else (1, v) if isinstance(v, (int, bool))
        else (2, str(v))
        for v in row
    )


def values_equal(a, b, rel: float = REL_TOL, abs_: float = ABS_TOL) -> bool:
    if a is None or b is None:
        return a is b
    if isinstance(a, float) or isinstance(b, float):
        if isinstance(a, str) or isinstance(b, str):
            return False
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=rel, abs_tol=abs_)
    return a == b


def compare_rows(got, want, rel: float = REL_TOL, abs_: float = ABS_TOL) -> list[str]:
    """Multiset equality of two row lists, floats within tolerance."""
    got = sorted((tuple(_norm(v) for v in r) for r in got), key=_sort_key)
    want = sorted((tuple(_norm(v) for v in r) for r in want), key=_sort_key)
    if len(got) != len(want):
        return [f"row count {len(got)} != {len(want)}"]
    for i, (g, w) in enumerate(zip(got, want)):
        if len(g) != len(w):
            return [f"row {i}: {len(g)} columns != {len(w)}"]
        if not all(values_equal(x, y, rel, abs_) for x, y in zip(g, w)):
            return [f"row {i}: {g!r} != {w!r}"]
    return []


# ---------------------------------------------------------------------------
# TPC-H entries: DuckDB runs each entry's SQL twin on the same parquet
# ---------------------------------------------------------------------------

TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


def spark_round(x: float, digits: int) -> float:
    """Spark's ROUND on a double: half-up on the double's decimal form.
    DuckDB's ROUND scales the double by 10**digits in binary arithmetic
    first, so at a decimal tie such as 543804.705 it can round down where
    Spark rounds up."""
    q = decimal.Decimal(1).scaleb(-digits)
    return float(decimal.Decimal(repr(float(x))).quantize(q, rounding=decimal.ROUND_HALF_UP))


def with_spark_round(sql: str) -> str:
    """A SQL twin with every ROUND call under Spark's rounding rule."""
    return re.sub(r"\bROUND\s*\(", "spark_round(", sql, flags=re.IGNORECASE)


def duckdb_connect(data_dir: str, tables=TPCH_TABLES):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 1")
    con.create_function("spark_round", spark_round, ["DOUBLE", "INTEGER"], "DOUBLE")
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def sql_rows(con, sql: str) -> list[tuple]:
    return con.execute(with_spark_round(sql)).fetchall()


# ---------------------------------------------------------------------------
# MovieLens publish: snapshot layout and the four queries
# ---------------------------------------------------------------------------

def check_snapshot(root: str, version: int, expected_version: int, keep: int,
                   counts: dict, expected_counts: dict) -> list[str]:
    """The manifest version rose by exactly one, only the retained
    versions remain on disk, and each published table holds the
    expected number of rows."""
    bad = []
    if version != expected_version:
        bad.append(f"published version {version}, expected {expected_version}")
    on_disk = sorted(
        int(e[1:]) for e in os.listdir(root) if e.startswith("v") and e[1:].isdigit()
    )
    retained = list(range(max(1, expected_version - keep + 1), expected_version + 1))
    if on_disk != retained:
        bad.append(f"versions on disk {on_disk}, expected {retained}")
    if counts != expected_counts:
        bad.append(f"table counts {counts}, expected {expected_counts}")
    return bad


def parquet_counts(table_dirs: dict) -> dict:
    """Row counts from the parquet footers of each table directory."""
    import pyarrow.parquet as pq

    out = {}
    for name, path in table_dirs.items():
        files = [f for f in os.listdir(path) if f.endswith(".parquet")]
        out[name] = sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows for f in files)
    return out


def parquet_pairs(path: str, key: str, value: str) -> list[tuple]:
    """(key, value) rows of a published table, read with pyarrow."""
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=[key, value])
    return list(zip(t.column(key).to_pylist(), t.column(value).to_pylist()))


def check_directors(pairs: list[tuple], expected: list[str]) -> list[str]:
    """Every movie's published director against the generator's:
    ``expected[movie_id - 1]``, 'Unknown' where the lookup has no row."""
    got = dict(pairs)
    if len(got) != len(pairs) or sorted(got) != list(range(1, len(expected) + 1)):
        return [f"movie ids: {len(pairs)} rows, {len(got)} distinct, expected 1..{len(expected)}"]
    wrong = [(mid, got[mid], want) for mid, want in enumerate(expected, start=1) if got[mid] != want]
    if wrong:
        return [f"{len(wrong)} movies with the wrong director, first (id, got, want) {wrong[0]}"]
    return []


def check_queries(results: list, expected: list) -> list[str]:
    """Q1-Q4 results, in order, against the plain-Python answers."""
    bad = []
    for i, (got, want) in enumerate(zip(results, expected), start=1):
        got = [tuple(_norm(v) for v in r) for r in got]
        want = [tuple(r) for r in want]
        if len(got) != len(want):
            bad.append(f"Q{i}: {len(got)} rows, expected {len(want)}")
            continue
        for j, (g, w) in enumerate(zip(got, want)):
            if len(g) != len(w) or not all(values_equal(x, y) for x, y in zip(g, w)):
                bad.append(f"Q{i} row {j}: {g!r} != {w!r}")
                break
    if len(results) != len(expected):
        bad.append(f"{len(results)} query results, expected {len(expected)}")
    return bad
