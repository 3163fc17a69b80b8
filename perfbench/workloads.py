"""The closed-loop workloads. An op is one unit of work; a round is one
pass over the workload's op kinds, in a seeded order.

- ``tpch_serve``: eleven TPC-H-shape registry entries and one graph
  fixpoint (``trade_bfs_hops``) on a seeded TPC-H-shaped corpus. Fixed
  per-query costs (parquet footer reads for schema inference, Catalyst,
  one-task stages) are most of the wall; the BFS builder also runs an
  eager job per round.
- ``etl_publish``: the paper's pipeline. ``load_movielens`` publishes a
  new snapshot version, then ``run_script`` runs Q1-Q4 on it. The only
  workload that writes parquet and crosses the Python/Arrow boundary.

An op of ``tpch_serve`` is the entry's builder call, a full execution to
the noop sink, and ``session.clear_state``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import checks

HERE = os.path.dirname(os.path.abspath(__file__))

# The odd-numbered TPC-H shapes, Q1, Q3, ..., Q21. Between them they read
# one to six tables and cover scan-aggregate, multi-way join, outer join,
# argmax, correlated-average and EXISTS shapes. All 22 make a run last
# 55-85 s on a 4-core host, more than the benchmark's time budget allows.
# trade_bfs_hops is the one graph fixpoint: its builder runs an eager,
# checkpointed job per BFS round, the iterative plan building that no
# query shape has.
TPCH_KINDS = [
    "pricing_summary", "shipping_priority", "supplier_volume_by_nation",
    "q7_nation_trade_volume", "q9_nation_profit", "q11_important_parts",
    "q13_custdist", "q15_top_supplier", "q17_small_qty_revenue",
    "q19_disjunctive_revenue", "q21_bottleneck_suppliers", "trade_bfs_hops",
]
TPCH_SF = 0.01
KEEP_VERSIONS = 2
TABLES = ("movies", "genres", "movie_genres", "ratings")


def _generate(script: str, out_dir: str, seed: int, *extra: str) -> str:
    """Run a generator in its own process, so its memory and CPU stay out
    of the measured process tree."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, script), out_dir, "--seed", str(seed), *extra],
        check=True, capture_output=True, text=True,
    )
    return proc.stdout.strip()


class TpchServe:
    """Registry entries on a generated TPC-H-shaped corpus."""

    kinds = TPCH_KINDS
    # A round: every kind twice, in a new seeded order. The host's steal
    # comes in bursts of 10-20 s; one pass (~11 s) fits inside one.
    ROUND_REPEAT = 2

    def __init__(self, data_dir: str):
        self.data_dir = data_dir

    def generate(self, seed: int) -> dict:
        _generate("gen_tpch.py", self.data_dir, seed, "--sf", str(TPCH_SF))
        return {"corpus": "tpch-shaped", "sf": TPCH_SF}

    def register(self, spark) -> None:
        from movie_data_pipeline_spark.plans.analytics import QUERIES

        self.builders = {k: QUERIES[k][0] for k in self.kinds}
        self.oracles = {k: QUERIES[k][1] for k in self.kinds}

    def run_op(self, spark, kind: str, tr, collect: bool = False):
        from movie_data_pipeline_spark.session import clear_state

        df = tr.call("plans.build", self.builders[kind], spark, self.data_dir)
        if tr.enabled:
            tr.call("spark.optimize", lambda: df._jdf.queryExecution().executedPlan())
        if collect:
            out = tr.call("spark.execute", df.collect)
        else:
            out = tr.call("spark.execute", lambda: df.write.format("noop").mode("overwrite").save())
        tr.call("session.clear", clear_state, spark)
        return out

    def check_op(self, kind: str, out) -> list[str]:
        return []  # nothing to check on a noop write; see check_warmup

    def check_warmup(self, results: dict) -> dict:
        """DuckDB runs each entry's SQL twin on the same parquet."""
        con = checks.duckdb_connect(self.data_dir)
        try:
            return {
                k: checks.compare_rows(rows, checks.sql_rows(con, self.oracles[k]))
                for k, rows in results.items()
            }
        finally:
            con.close()


class EtlPublish:
    """One op: publish a new MovieLens snapshot, then Q1-Q4 on it."""

    kinds = ["publish"]
    # A round is three publishes (~7 s each), so the median latency holds
    # when a 10-20 s burst of host steal slows one of them; more would not
    # fit the time budget.
    ROUND_REPEAT = 3

    def __init__(self, data_dir: str, snapshot_root: str):
        self.data_dir = data_dir
        self.root = snapshot_root
        self.version = 0

    def generate(self, seed: int) -> dict:
        summary = json.loads(_generate("gen_movielens.py", self.data_dir, seed))
        with open(os.path.join(self.data_dir, "expected.json")) as f:
            self.expected = json.load(f)
        return summary

    def register(self, spark) -> None:
        from movie_data_pipeline_spark import schemas
        from movie_data_pipeline_spark.plans import movie_queries as MQ

        self.lookup = spark.read.csv(
            os.path.join(self.data_dir, "lookup.csv"), header=True, schema=schemas.OMDB_LOOKUP
        )
        self.script = ";\n".join([MQ.Q1_SQL, MQ.Q2_SQL, MQ.Q3_SQL_SPARK, MQ.Q4_SQL])

    def run_op(self, spark, kind: str, tr, collect: bool = False):
        from movie_data_pipeline_spark.plans.pipeline import load_movielens
        from movie_data_pipeline_spark.session import clear_state
        from movie_data_pipeline_spark.sources.snapshot import read_snapshot_table
        from movie_data_pipeline_spark.sources.sql_runner import run_script

        version = tr.call(
            "sources.publish", load_movielens, spark,
            os.path.join(self.data_dir, "movies.csv"),
            os.path.join(self.data_dir, "ratings.csv"),
            self.root, lookup=self.lookup, keep_versions=KEEP_VERSIONS,
        )
        for t in TABLES:
            read_snapshot_table(spark, self.root, t).createOrReplaceTempView(t)
        dfs = tr.call("plans.sql", run_script, spark, self.script)
        if tr.enabled:
            for df in dfs:
                tr.call("spark.optimize", lambda d=df: d._jdf.queryExecution().executedPlan())
        rows = tr.call("spark.execute", lambda: [df.collect() for df in dfs])
        tr.call("session.clear", clear_state, spark)
        return version, rows

    def snapshot_tables(self) -> dict:
        with open(os.path.join(self.root, "_MANIFEST.json")) as f:
            manifest = json.load(f)
        return {t: os.path.join(self.root, p) for t, p in manifest["tables"].items()}

    def check_op(self, kind: str, out) -> list[str]:
        """Snapshot layout, table counts, every movie's director and
        Q1-Q4, right after the op (the next publish prunes the version
        checked here)."""
        version, rows = out
        self.version += 1
        tables = self.snapshot_tables()
        counts = checks.parquet_counts(tables)
        return checks.check_snapshot(
            self.root, version, self.version, KEEP_VERSIONS, counts, self.expected["counts"]
        ) + checks.check_directors(
            checks.parquet_pairs(tables["movies"], "movie_id", "director"), self.expected["directors"]
        ) + checks.check_queries(rows, self.expected["queries"])

    def check_warmup(self, results: dict) -> dict:
        return {}  # the warm-up op was checked by check_op


def make(name: str, run_dir: str):
    data = os.path.join(run_dir, "data")
    if name == "tpch_serve":
        return TpchServe(data)
    if name == "etl_publish":
        return EtlPublish(data, os.path.join(run_dir, "snapshots"))
    raise ValueError(f"unknown workload {name!r}")
