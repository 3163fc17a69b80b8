"""Closed-loop benchmark of the engine: one client, one process, one op at
a time, on a Spark session of at most ``nproc`` cores.

    python3 perfbench/run.py --workload tpch_serve --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run generates its inputs from
``--seed`` into a fresh temporary directory under the checkout (which
also holds the working directory, the Spark warehouse, ``SPARK_LOCAL_DIRS``,
``TMPDIR`` and the snapshot root) and removes it at the end.

A run: session start, input registration and a warm-up pass over every op
kind (together ``setup_s``); then whole rounds of ops until ``--seconds``
of op time have passed; then the correctness checks. The last line of
standard output is one JSON object: with ``--trace 0`` the end-to-end
metrics, with ``--trace 1`` the per-layer metrics of a run whose rounds go
untraced, traced, traced, untraced (the two halves give the tracing overhead).
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True  # nothing may be written into the checkout

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import tempfile  # noqa: E402
import time  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("tpch_serve", "etl_publish")
HEAP = "1g"  # the engine's 16g default exceeds small hosts; these inputs need far less


@dataclass
class Op:
    kind: str
    wall_s: float
    cpu_s: float
    traced: bool
    errors: list[str] = field(default_factory=list)


# ---------------------------------------------------------------------------
# metric arithmetic
# ---------------------------------------------------------------------------

def geomean_of_medians(latencies: dict[str, list[float]]) -> float:
    """Geometric mean over op kinds of each kind's median latency, so
    every kind weighs the same however long it runs."""
    meds = [statistics.median(v) for v in latencies.values() if v]
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def failed(op: Op, kind_errors: dict[str, list[str]]) -> bool:
    """An op fails if it raised, if its own check failed, or if the check
    of its kind's output (made once per run) failed."""
    return bool(op.errors or kind_errors.get(op.kind))


def count_failed(ops: list[Op], kind_errors: dict[str, list[str]]) -> int:
    return sum(failed(op, kind_errors) for op in ops)


def is_correct(attempted: int, failed: int) -> bool:
    """A run is correct only if it attempted ops and none failed; a
    wrong output fails its op, so one broken kind makes the run wrong."""
    return attempted > 0 and failed == 0


def end_to_end(ops: list[Op], kind_errors: dict, setup_s: float, rss_mb: float) -> dict:
    ok = [op for op in ops if not failed(op, kind_errors)]
    by_kind: dict[str, list[float]] = {}
    for op in ok:
        by_kind.setdefault(op.kind, []).append(op.wall_s)
    window = sum(op.wall_s for op in ops)
    return {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (len(ok) / window, "1/s"),
        "latency_geomean_s": (geomean_of_medians(by_kind) if by_kind else float("nan"), "s"),
        "core_s_per_op": (sum(op.cpu_s for op in ops) / len(ops), "s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


# ---------------------------------------------------------------------------
# per-layer metrics from the spans and the status store
# ---------------------------------------------------------------------------

def per_layer(tracer, stats: dict, op_extra: dict, ops: list[Op], cpus: int,
              start_s: float, warmup_s: float) -> dict:
    """``stats``: span id -> (jobs, StageStats) read after each traced op;
    ``op_extra``: op id -> {written_b, files, py_udf_s, arrow_b}."""
    from measure import StageStats, self_time

    traced = [op for op in ops if op.traced]
    untraced = [op for op in ops if not op.traced]
    n = len(traced)
    spans = tracer.spans
    by_name: dict[str, list] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)

    def dur(name):
        return sum(s.duration for s in by_name.get(name, []))

    def group(names):
        jobs, st = 0, StageStats()
        for s in spans:
            if s.name in names and s.id in stats:
                j, x = stats[s.id]
                jobs += j
                st.add(x)
        return jobs, st

    exec_names = {"op", "spark.optimize", "spark.execute", "sources.publish", "plans.sql", "session.clear"}
    _, load = group({"sources.load"})
    build_jobs, build = group({"plans.build"})
    _, exe = group(exec_names)
    _, every = group(exec_names | {"sources.load", "plans.build"})
    op_wall = sum(op.wall_s for op in traced)
    mb = 1024.0 * 1024.0
    ops_s_traced = n / op_wall
    ops_s_untraced = len(untraced) / sum(op.wall_s for op in untraced)
    return {
        "sources.loads_per_op": (len(by_name.get("sources.load", [])) / n, "count"),
        "sources.load_s_per_op": (dur("sources.load") / n, "s"),
        "sources.load_stages_per_op": (load.stages / n, "count"),
        "sources.publish_s_per_op": (dur("sources.publish") / n, "s"),
        "sources.written_mb_per_op": (sum(e["written_b"] for e in op_extra.values()) / mb / n, "MB"),
        "sources.files_written_per_op": (sum(e["files"] for e in op_extra.values()) / n, "count"),
        "plans.build_s_per_op": (
            sum(self_time(s, spans) for s in by_name.get("plans.build", [])) / n, "s"),
        "plans.build_jobs_per_op": (build_jobs / n, "count"),
        "plans.build_stages_per_op": (build.stages / n, "count"),
        "plans.sql_s_per_op": (dur("plans.sql") / n, "s"),
        "functions.python_udf_s_per_op": (sum(e["py_udf_s"] for e in op_extra.values()) / n, "s"),
        "functions.arrow_mb_per_op": (sum(e["arrow_b"] for e in op_extra.values()) / mb / n, "MB"),
        "spark.optimize_s_per_op": (dur("spark.optimize") / n, "s"),
        "spark.execute_s_per_op": (dur("spark.execute") / n, "s"),
        "spark.exec_stages_per_op": (exe.stages / n, "count"),
        "spark.exec_tasks_per_op": (exe.tasks / n, "count"),
        "spark.task_run_s_per_op": (every.run_s / n, "s"),
        "spark.task_cpu_s_per_op": (every.cpu_s / n, "s"),
        "spark.gc_s_per_op": (every.gc_s / n, "s"),
        "spark.shuffle_mb_per_op": (every.shuffle_write_b / mb / n, "MB"),
        "spark.spill_mb_per_op": (every.spill_b / mb / n, "MB"),
        "spark.input_mb_per_op": (every.input_b / mb / n, "MB"),
        "spark.core_busy_ratio": (every.run_s / (op_wall * cpus), "ratio"),
        "session.start_s": (start_s, "s"),
        "session.warmup_s": (warmup_s, "s"),
        "trace.ops_per_s_traced": (ops_s_traced, "1/s"),
        "trace.ops_per_s_untraced": (ops_s_untraced, "1/s"),
        "trace.overhead_pct": (100.0 * (ops_s_untraced / ops_s_traced - 1.0), "%"),
    }


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------

def _dir_size(path: str) -> tuple[int, int]:
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for f in names:
            size += os.path.getsize(os.path.join(dirpath, f))
            files += f.endswith(".parquet")
    return size, files


class TracedReads:
    """Spans around every parquet and CSV read, installed for traced
    rounds only."""

    def __init__(self, tracer):
        from pyspark.sql.readwriter import DataFrameReader

        self.cls = DataFrameReader
        self.orig = {k: getattr(DataFrameReader, k) for k in ("parquet", "csv")}
        self.tracer = tracer

    def install(self) -> None:
        for name, fn in self.orig.items():
            def wrapped(reader, *a, _fn=fn, **kw):
                return self.tracer.call("sources.load", _fn, reader, *a, **kw)
            setattr(self.cls, name, wrapped)

    def remove(self) -> None:
        for name, fn in self.orig.items():
            setattr(self.cls, name, fn)


def run(args, run_dir: str, cpus: int) -> tuple[dict, int, int]:
    import workloads
    from measure import StatusReader, Tracer, host_cpu_ticks, peak_rss_mb, tree_cpu_s

    wl = workloads.make(args.workload, run_dir)
    inputs = wl.generate(args.seed)
    print(f"perfbench: workload={args.workload} seed={args.seed} "
          f"SPARK_GRAFT_CPUS={cpus} SPARK_DRIVER_MEMORY={HEAP} inputs={json.dumps(inputs)}")

    from movie_data_pipeline_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        },
    )
    jvm = spark.sparkContext._gateway.proc
    try:
        t1 = time.perf_counter()
        wl.register(spark)
        off = Tracer(enabled=False)
        warm = {}
        kind_errors: dict[str, list[str]] = {}
        # fixed warm-up: one pass over every kind, outputs kept for the checks
        for kind in wl.kinds:
            try:
                out = wl.run_op(spark, kind, off, collect=True)
            except Exception as e:  # a broken kind fails all its ops
                kind_errors[kind] = [f"warm-up raised {type(e).__name__}: {e}"]
                continue
            warm[kind] = out
            kind_errors.setdefault(kind, []).extend(wl.check_op(kind, out))
        t2 = time.perf_counter()
        start_s, warmup_s, setup_s = t1 - t0, t2 - t1, t2 - t0

        tracer = Tracer(sc=spark.sparkContext)
        reader = StatusReader(spark) if args.trace else None
        reads = TracedReads(tracer) if args.trace else None
        stats, op_extra = {}, {}
        rng = random.Random(args.seed)
        pid = os.getpid()
        ops: list[Op] = []
        window = {False: 0.0, True: 0.0}
        rounds = 0
        steal0 = host_cpu_ticks()
        while True:
            # untraced, traced, traced, untraced: the JVM still warms up over
            # the first rounds, and this order cancels that drift
            traced = bool(args.trace) and rounds % 4 in (1, 2)
            tr = tracer if traced else off
            if traced:
                reads.install()
            order = wl.kinds * wl.ROUND_REPEAT
            rng.shuffle(order)
            for kind in order:
                tracer.op = len(ops)
                if traced:
                    reader.skip_executions()
                cpu0 = tree_cpu_s(pid)
                start = time.perf_counter()
                out, errors = None, []
                root = tracer.open("op") if traced else None
                try:
                    out = wl.run_op(spark, kind, tr)
                except Exception as e:
                    errors = [f"{type(e).__name__}: {e}"]
                finally:
                    if root is not None:
                        tracer.close(root)
                wall = time.perf_counter() - start
                ops.append(Op(kind, wall, tree_cpu_s(pid) - cpu0, traced, errors))
                window[traced] += wall
                # outside the timed window: the op's own check, then its counts
                if not errors:
                    ops[-1].errors = wl.check_op(kind, out)
                if traced:
                    reader.drain()
                    for s in tracer.spans:
                        if s.op == tracer.op:
                            stats[s.id] = reader.group_stats(tracer.group(s))
                    py_s, arrow_b = reader.python_udf()
                    written, files = 0, 0
                    if args.workload == "etl_publish" and out is not None:
                        written, files = _dir_size(os.path.join(wl.root, f"v{out[0]}"))
                    op_extra[tracer.op] = {"written_b": written, "files": files,
                                           "py_udf_s": py_s, "arrow_b": arrow_b}
            if traced:
                reads.remove()
            rounds += 1
            if window[False] + window[True] >= args.seconds and (not args.trace or rounds % 4 == 0):
                break
        rss = peak_rss_mb([pid, jvm.pid])
        steal1 = host_cpu_ticks()
        print(f"perfbench: host steal during the ops {100.0 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]):.2f}%")
        for kind, errs in wl.check_warmup(warm).items():
            kind_errors.setdefault(kind, []).extend(errs)
    finally:
        _stop(spark, jvm)

    kind_errors = {k: v for k, v in kind_errors.items() if v}
    for kind, errs in kind_errors.items():
        print(f"perfbench: CHECK FAILED {kind}: {errs[:2]}")
    for op in ops:
        if op.errors:
            print(f"perfbench: op {op.kind} failed: {op.errors[:2]}")
    failed = count_failed(ops, kind_errors)
    by_kind: dict[str, list[float]] = {}
    for op in ops:
        by_kind.setdefault(op.kind, []).append(op.wall_s)
    print("perfbench: median latency by kind: " + json.dumps(
        {k: round(statistics.median(v), 4) for k, v in by_kind.items()}))
    if args.trace:
        metrics = per_layer(tracer, stats, op_extra, ops, cpus, start_s, warmup_s)
        print("perfbench-spans " + json.dumps(tracer.dump()), file=sys.stderr)
    else:
        metrics = end_to_end(ops, kind_errors, setup_s, rss)
    for name, (v, unit) in metrics.items():
        print(f"perfbench: {name} = {v:.6g} {unit}")
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, len(ops), failed


def _stop(spark, jvm) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until every one has ended."""
    from measure import descendants

    children = [p for p in descendants(jvm.pid) if p != jvm.pid]
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    jvm.stdin.close()  # the gateway server exits when its stdin closes
    try:
        jvm.wait(timeout=60)
    except Exception:
        jvm.kill()
        jvm.wait()
    deadline = time.monotonic() + 20
    for p in children:
        while os.path.exists(f"/proc/{p}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{p}"):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass


def main() -> int:
    ap = argparse.ArgumentParser(description="closed-loop engine benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "movie_data_pipeline_spark", "__init__.py")):
        print(f"perfbench: no engine package beside {HERE}; run from a full checkout",
              file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    runs = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=runs)
    for sub in ("tmp", "local", "work"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ.update({
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": HEAP,
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYTHONPATH": os.pathsep.join([ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
    })
    tempfile.tempdir = None
    sys.path[:0] = [ROOT, HERE]
    os.chdir(os.path.join(run_dir, "work"))
    try:
        metrics, attempted, failed = run(args, run_dir, cpus)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(runs)
        except OSError:
            pass  # another run still uses it
    print(json.dumps({"correct": is_correct(attempted, failed), "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
