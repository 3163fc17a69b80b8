"""Growth curve of registry entries: wall time at K× the data.

    python tools/growth.py --k 1,3 [--sf-dir DIR] [--out DIR] ENTRY ...

For every K > 1 it builds a K× warehouse of all ten testdata tables
under ``--out`` (kept, so ``tools/ab.py --sf-dir`` can read it), then
times each entry warm at each K into the noop sink and prints the wall
ratio against K=1 and the driver JVM's peak RSS. An entry's wall at a
K is the median of two runs after one untimed warm-up run. K=1 is
``--sf-dir`` itself.

Copy policy, per table (copy 0 is always the original row):

- ``lineitem``, ``orders``: disjoint orderkeys per copy, the same part,
  supplier and customer domains, so per-key frequencies grow K× too.
- ``documents``: disjoint doc_ids; copy c > 0 prefixes a hash-chosen
  third of the tokens with ``v<c>``, so copies are near-duplicates,
  not exact ones (``n_chars`` follows the text).
- ``events``: disjoint event_ids, the SAME user_ids, ``ts`` shifted by
  c × 92 days, so each user's partition grows K× without copies
  overlapping in time (skew-preserving).
- ``embeddings``: disjoint vec_ids; copy c > 0 adds a small
  hash-seeded epsilon to every dimension (near neighbours).
- ``region``, ``nation``, ``customer``, ``supplier``, ``part``: copied
  unchanged.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

DIMENSIONS = ("region", "nation", "customer", "supplier", "part")
REPS = 2
_EVENT_SHIFT_US = 92 * 86_400 * 1_000_000


def _with_copies(df: DataFrame, k: int) -> DataFrame:
    copies = df.sparkSession.range(k).select(F.col("id").alias("copy"))
    return df.crossJoin(F.broadcast(copies))


def _key_stride(df: DataFrame, col: str) -> int:
    return df.agg(F.max(col)).collect()[0][0] + 1


def perturbed_copies(docs: DataFrame, k: int) -> DataFrame:
    stride = _key_stride(docs, "doc_id")
    toks = F.split(F.col("text"), r"\s+")
    mutated = F.array_join(
        F.transform(
            toks,
            lambda t: F.when(
                F.pmod(F.xxhash64(t, F.col("copy")), F.lit(3)) == 0,
                F.concat(F.lit("v"), F.col("copy").cast("string"), t),
            ).otherwise(t),
        ),
        " ",
    )
    text = F.when(F.col("copy") == 0, F.col("text")).otherwise(mutated)
    return (
        _with_copies(docs, k)
        .withColumn("doc_id", F.col("doc_id") + F.col("copy") * stride)
        .withColumn("text", text)
        .withColumn("n_chars", F.length("text").cast("long"))
        .drop("copy")
    )


def perturbed_vectors(emb: DataFrame, k: int) -> DataFrame:
    stride = _key_stride(emb, "vec_id")
    eps = (
        F.pmod(F.xxhash64(F.col("vec_id"), F.col("copy")), F.lit(1000)).cast("double")
        / 10000.0
        * F.col("copy").cast("double")
    )
    vec = F.transform(
        F.col("embedding").cast("array<double>"), lambda x, i: x + eps * (i + 1) / 64.0
    ).cast("array<float>")
    return (
        _with_copies(emb, k)
        .withColumn("vec_id", F.col("vec_id") + F.col("copy") * stride)
        .withColumn(
            "embedding", F.when(F.col("copy") == 0, F.col("embedding")).otherwise(vec)
        )
        .drop("copy")
    )


def shifted_events(ev: DataFrame, k: int) -> DataFrame:
    stride = _key_stride(ev, "event_id")
    if dict(ev.dtypes)["ts"] == "bigint":  # nanosecond epochs
        ts = F.col("ts") + F.col("copy") * F.lit(_EVENT_SHIFT_US * 1000)
    else:
        ts = F.expr(f"timestampadd(MICROSECOND, copy * {_EVENT_SHIFT_US}, ts)")
    return (
        _with_copies(ev, k)
        .withColumn("event_id", F.col("event_id") + F.col("copy") * stride)
        .withColumn("ts", ts)
        .drop("copy")
    )


def build_warehouse(spark: SparkSession, src: str, dest: str, k: int) -> str:
    """Write the K× copy of every testdata table in ``src`` to ``dest``."""
    os.makedirs(dest, exist_ok=True)

    def read(t: str) -> DataFrame:
        return spark.read.parquet(os.path.join(src, f"{t}.parquet"))

    li, od = read("lineitem"), read("orders")
    stride = max(_key_stride(li, "l_orderkey"), _key_stride(od, "o_orderkey"))
    grown = {
        "lineitem": _with_copies(li, k).withColumn(
            "l_orderkey", F.col("l_orderkey") + F.col("copy") * stride
        ).drop("copy"),
        "orders": _with_copies(od, k).withColumn(
            "o_orderkey", F.col("o_orderkey") + F.col("copy") * stride
        ).drop("copy"),
        "documents": perturbed_copies(read("documents"), k),
        "events": shifted_events(read("events"), k),
        "embeddings": perturbed_vectors(read("embeddings"), k),
    }
    for t, df in grown.items():
        df.write.mode("overwrite").parquet(os.path.join(dest, f"{t}.parquet"))
    for t in DIMENSIONS:
        inp, out = (os.path.join(d, f"{t}.parquet") for d in (src, dest))
        if os.path.isdir(out):
            shutil.rmtree(out)
        (shutil.copytree if os.path.isdir(inp) else shutil.copyfile)(inp, out)
    return dest


def driver_peak_rss_mb(spark: SparkSession) -> float | None:
    """Peak RSS (VmHWM) of the driver JVM, which in local mode also
    runs the executors."""
    try:
        pid = spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return round(int(line.split()[1]) / 1024, 1)
    except (AttributeError, OSError, ValueError):
        pass
    return None


def main(argv: list[str] | None = None) -> int:
    from movie_data_pipeline_spark.plans.analytics import QUERIES
    from movie_data_pipeline_spark.session import clear_state, get_spark

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--k", default="1,3", help="comma-separated scale factors")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                    help="K=1 warehouse (default: $SPARK_GRAFT_SF_DIR)")
    ap.add_argument("--out", default=os.path.join(tempfile.gettempdir(), "growth"),
                    help="where the K× warehouses are written")
    ap.add_argument("entries", nargs="+")
    args = ap.parse_args(argv)
    if not args.sf_dir:
        ap.error("--sf-dir or $SPARK_GRAFT_SF_DIR is required")
    ks = sorted({int(x) for x in args.k.split(",")} | {1})
    unknown = [e for e in args.entries if e not in QUERIES]
    if unknown:
        ap.error(f"unknown entries: {unknown}")

    spark = get_spark("growth")
    dirs = {1: args.sf_dir}
    for k in ks[1:]:
        dest = os.path.join(args.out, f"{Path(args.sf_dir).name}_x{k}")
        t0 = time.perf_counter()
        dirs[k] = build_warehouse(spark, args.sf_dir, dest, k)
        clear_state(spark)
        print(f"built {k}x warehouse {dest} in {time.perf_counter() - t0:.1f} s",
              flush=True)

    walls: dict[str, dict[int, float]] = {e: {} for e in args.entries}
    rss: dict[int, float | None] = {}
    for k in ks:
        for entry in args.entries:
            builder = QUERIES[entry][0]
            runs = []
            for i in range(REPS + 1):  # the first run warms, untimed
                t0 = time.perf_counter()
                builder(spark, dirs[k]).write.format("noop").mode("overwrite").save()
                if i:
                    runs.append(time.perf_counter() - t0)
                clear_state(spark)
            walls[entry][k] = statistics.median(runs)
            print(f"[{k}x] {entry}: median {walls[entry][k]:.2f} s "
                  f"(runs {[round(x, 2) for x in runs]})", flush=True)
        rss[k] = driver_peak_rss_mb(spark)

    print(f"\n{'entry':32s}" + "".join(f"{f'{k}x':>10s}" for k in ks) + "   ratio")
    for entry, w in walls.items():
        print(f"{entry:32s}" + "".join(f"{w[k]:9.2f}s" for k in ks)
              + "   " + " ".join(f"{w[k] / w[1]:.2f}" for k in ks[1:]))
    print(json.dumps({
        "sf_dir": args.sf_dir,
        "warehouses": dirs,
        "reps": REPS,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count(),
        "load1_end": round(os.getloadavg()[0], 2),
        "wall_s": {e: {f"{k}x": round(v, 3) for k, v in w.items()} for e, w in walls.items()},
        "ratio_vs_1x": {
            e: {f"{k}x": round(w[k] / w[1], 3) for k in ks[1:]} for e, w in walls.items()
        },
        "driver_peak_rss_mb_after": {f"{k}x": v for k, v in rss.items()},
    }, indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
