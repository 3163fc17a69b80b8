"""Interleaved, equality-gated A/B of registry entries: the package as
committed at a git revision ("old") against the working tree ("new").

    python tools/ab.py --rev REV [--sf-dir DIR] [--reps N] [ENTRY ...]

With no ENTRY it runs every entry of ``plans.analytics.QUERIES``.

The old package is exported with ``git archive`` into a temporary
directory under a private name (``mdps_<sha>``). Every import inside
the package is relative, so the exported copy imports only itself and
never shadows the live ``movie_data_pipeline_spark``. That directory
is put on ``PYTHONPATH`` before the SparkSession starts, so Python
workers can unpickle the old package's UDFs and mapInPandas functions.

Per entry, looked up by name in both revisions' QUERIES:

1. Gate: both variants are collected and must give the same column
   names and the same multiset of rows. A mismatch (or an error) is
   reported and the entry is not timed. The gate also warms both
   variants (code generation, parquet footers).
2. ``--reps`` interleaved rounds (old, new, old, new, ...) into the
   noop sink, calling each package's own ``session.clear_state``
   after every run. Reported: min and median per variant, and the
   classes Janino compiled over the variant's timed runs
   (``CodegenMetrics``; 0 once the gate has warmed the codegen cache,
   so a count above that is a plan that recompiles on every run).

The run records the 1-minute loadavg at start and end and the share
of busy CPU time the hypervisor stole over the whole run: a steal
burst hits both variants alike, but it widens the spread.

Both variants share one SparkSession, built by the live tree's
``session.get_spark``, so a change to session conf (the codegen cache
size, say) cannot be compared here; perfbench (its own processes per
revision) and the compile count cover those. Exit status is 1 if any
entry failed its gate or errored.
"""

from __future__ import annotations

import argparse
import importlib
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile
import time
import traceback
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "movie_data_pipeline_spark"
sys.path.insert(0, str(REPO))

from bench import read_proc_stat  # noqa: E402


def export_rev(rev: str, dest: Path) -> str:
    """Write the package as committed at ``rev`` to ``dest/<private
    name>`` and return that name."""
    sha = subprocess.run(
        ["git", "-C", str(REPO), "rev-parse", "--verify", f"{rev}^{{commit}}"],
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    name = f"mdps_{sha[:12]}"
    tar = subprocess.run(
        ["git", "-C", str(REPO), "archive", sha, PKG],
        capture_output=True, check=True,
    ).stdout
    with tarfile.open(fileobj=io.BytesIO(tar)) as tf:
        tf.extractall(dest, filter="data")
    (dest / PKG).rename(dest / name)
    return name


def import_rev(name: str, root: Path):
    """Import the exported package ``name`` from ``root``; returns its
    ``plans.analytics`` module."""
    if str(root) not in sys.path:
        sys.path.insert(0, str(root))
    return importlib.import_module(f"{name}.plans.analytics")


def rows_key(df) -> tuple[list[str], list[str]]:
    """(column names, sorted row reprs). Comparing reprs rather than
    the tuples keeps the sort total when a column holds NULLs and makes
    NaN equal to NaN. It is stricter than ``==`` only where equal values
    print differently (-0.0 and 0.0, a Decimal's scale)."""
    return df.columns, sorted(repr(tuple(r)) for r in df.collect())


def gate(old_key, new_key) -> str | None:
    """None when both keys are equal, else what differs first."""
    (old_cols, old_rows), (new_cols, new_rows) = old_key, new_key
    if old_cols != new_cols:
        return f"columns differ: {old_cols} vs {new_cols}"
    if old_rows != new_rows:
        only_old = sorted(set(old_rows) - set(new_rows))[:2]
        only_new = sorted(set(new_rows) - set(old_rows))[:2]
        return (
            f"rows differ ({len(old_rows)} vs {len(new_rows)}); "
            f"only old {only_old}, only new {only_new}"
        )
    return None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--rev", required=True, help="git revision of the old variant")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                    help="warehouse to read (default: $SPARK_GRAFT_SF_DIR)")
    ap.add_argument("--reps", type=int, default=4,
                    help="timed interleaved rounds per entry (0: gate only)")
    ap.add_argument("entries", nargs="*")
    args = ap.parse_args(argv)
    if not args.sf_dir:
        ap.error("--sf-dir or $SPARK_GRAFT_SF_DIR is required")

    tmp = Path(tempfile.mkdtemp(prefix="ab_rev_"))
    try:
        name = export_rev(args.rev, tmp)
        # before the JVM starts: Python workers inherit its environment
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [str(tmp), str(REPO)]
            + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )
        from movie_data_pipeline_spark import session
        from movie_data_pipeline_spark.plans import analytics

        variants = {
            "old": (
                import_rev(name, tmp).QUERIES,
                importlib.import_module(f"{name}.session").clear_state,
            ),
            "new": (analytics.QUERIES, session.clear_state),
        }
        spark = session.get_spark("ab")
        return run(spark, args, name, variants)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def compile_count(spark) -> int:
    """Classes Janino has compiled in this JVM so far."""
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


def run(spark, args, name: str, variants: dict) -> int:
    load_start = round(os.getloadavg()[0], 2)
    steal0, busy0 = read_proc_stat()
    entries = args.entries or list(variants["new"][0])

    def timed(variant: str, entry: str) -> tuple[float, int]:
        queries, clear = variants[variant]
        c0 = compile_count(spark)
        t0 = time.perf_counter()
        queries[entry][0](spark, args.sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        dt = time.perf_counter() - t0
        clear(spark)
        return dt, compile_count(spark) - c0

    results: dict[str, dict] = {}
    for entry in entries:
        missing = [v for v, (q, _) in variants.items() if entry not in q]
        if missing:
            results[entry] = {"status": "missing", "in": missing}
            print(f"{entry}: missing in {missing}", flush=True)
            continue
        try:
            keys = {}
            for v, (queries, clear) in variants.items():
                keys[v] = rows_key(queries[entry][0](spark, args.sf_dir))
                clear(spark)
            diff = gate(keys["old"], keys["new"])
            if diff:
                results[entry] = {"status": "mismatch", "diff": diff}
                print(f"{entry}: MISMATCH {diff}", flush=True)
                continue
            times: dict[str, list[float]] = {"old": [], "new": []}
            compiles = {"old": 0, "new": 0}
            for _ in range(args.reps):
                for v in ("old", "new"):
                    dt, n = timed(v, entry)
                    times[v].append(dt)
                    compiles[v] += n
        except Exception as e:  # report and go on to the next entry
            traceback.print_exc()
            results[entry] = {"status": "error", "error": f"{type(e).__name__}: {e}"[:500]}
            print(f"{entry}: ERROR {results[entry]['error']}", flush=True)
            continue
        rec: dict = {"status": "equal", "rows": len(keys["new"][1])}
        line = f"{entry}: rows equal ({rec['rows']} rows)"
        if args.reps:
            for v in ("old", "new"):
                rec[v] = [round(x, 3) for x in times[v]]
                rec[f"{v}_min"] = round(min(times[v]), 3)
                rec[f"{v}_median"] = round(statistics.median(times[v]), 3)
                rec[f"{v}_compiles"] = compiles[v]
            rec["new_faster_reps"] = sum(
                b < a for a, b in zip(times["old"], times["new"])
            )
            line += (
                f"; old min {rec['old_min']:.3f} median {rec['old_median']:.3f}"
                f" | new min {rec['new_min']:.3f} median {rec['new_median']:.3f}"
                f" s; new faster in {rec['new_faster_reps']}/{args.reps}"
                f"; compiles old {rec['old_compiles']} new {rec['new_compiles']}"
            )
        results[entry] = rec
        print(line, flush=True)

    steal1, busy1 = read_proc_stat()
    counts = Counter(rec["status"] for rec in results.values())
    print(json.dumps({
        "rev": args.rev,
        "old_package": name,
        "sf_dir": args.sf_dir,
        "reps": args.reps,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count(),
        "load1_start": load_start,
        "load1_end": round(os.getloadavg()[0], 2),
        "steal_pct_busy": round((steal1 - steal0) / max(busy1 - busy0, 1) * 100, 2),
        "counts": counts,
        "results": results,
    }, indent=1))
    return 0 if counts["equal"] == len(results) else 1


if __name__ == "__main__":
    raise SystemExit(main())
