"""Benchmark harness: run the registry's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) and print ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is executed to completion via a noop-sink write (full
pipeline runs, nothing collected to the driver) after a warm-up pass
so JVM/codegen startup isn't billed to any one query.

The ``*_check`` verification twins are excluded: they exist to gate
the approximate operators' recall/precision in the driver's
correctness run, and by design execute brute-force exact baselines
(cartesian pair generation) next to the operator under test — a
correctness harness, not a workload. Every operator they verify
(minhash/simhash/winnow dedup, LSH/IVF KNN, embedding near-dup) is
benchmarked as its own registry entry.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from movie_data_pipeline_spark.plans.analytics import QUERIES  # noqa: E402
from movie_data_pipeline_spark.session import clear_state, get_spark  # noqa: E402

# Fixed contamination sentinels (BASELINE.md round-9 "invisible
# steal" finding), always rerun min-of-reps after the timed pass.
# A PAIR from different cost families, because the round-10 steal
# waves hit the LONG iterative queries hardest (trade_pagerank
# 23.7→6.2 s between readings) — a wave that spares short queries
# would pass a short-query-only sentinel:
#   q17_small_qty_revenue — short scan+agg; idle band 0.35-0.9 s at
#     sf0.1 (committed clean reading 0.37 s).
#   trade_kcore — iterative fixpoint (k-core peel, multi-round
#     shuffles on checkpointed edges); idle ≈ 1.7 s at sf0.1
#     (committed clean reading 1.71 s; its family swings ±30% under
#     ambient load, so its disagreement is the steal signature).
SENTINELS = ("q17_small_qty_revenue", "trade_kcore")
# Back-compat alias: the primary (short-family) sentinel.
SENTINEL = SENTINELS[0]

# A per-query delta vs the committed BENCH_FULL.json beyond ±40% (and
# more than 0.3 s absolute, so sub-second jitter on tiny queries does
# not trip it) is "surprising" in BASELINE.md's sense and triggers an
# immediate rerun; both readings are recorded so the forensics that
# took a human loop in rounds 8-9 are in the artifact itself.
RERUN_REL_THRESHOLD = 0.40
RERUN_ABS_FLOOR = 0.3
RERUN_CAP = 12

# A rerun is SUSPECT when its two readings of byte-identical code
# disagree beyond this: 0.6 s absolute (q17's documented idle band is
# 0.35-0.9 s wide — a 0.3 s floor would trip on natural variance) or
# 40% of the smaller reading. Code improvements can never trip it:
# both readings come from the SAME run of the SAME code.
SUSPECT_DISAGREE_FLOOR = 0.6

# The loadavg label is NECESSARY evidence, not SUFFICIENT
# (BASELINE.md: a load-0.32 run carried a flat +2 s additive; a
# round-10 load-0.06 run carried +32% across 193 shared keys).
# The rerun pass itself is the missing evidence: on a genuinely
# clean run the two readings of byte-identical code agree — so a
# disagreeing SENTINEL, or this many disagreeing reruns, marks the
# run steal-contaminated regardless of loadavg.
STEAL_SUSPECT_THRESHOLD = 3


# Cross-round absolute drift guard (round-12, VERDICT item 4): the
# r11 run passed every sentinel and rerun check yet sat a
# near-uniform +11.7% above the r9 clean artifact over 193 shared
# keys — a fixed-overhead/environment signature no WITHIN-run check
# can see, because both readings of each query ride the same inflated
# session. The missing evidence is BETWEEN runs: compare this run's
# shared keys against the last committed clean artifact and flag a
# >10% UNIFORM upward shift (median of per-query relative deltas —
# robust to a handful of genuine plan changes) as contaminated_drift.
# Only upward shifts contaminate: a uniform improvement is the goal,
# and flagging it would freeze a bad baseline in place forever.
DRIFT_MEDIAN_THRESHOLD = 0.10
# Tiny queries jitter tens of percent on hundredths of a second;
# below this base they can't vote on "uniform".
DRIFT_MIN_BASE = 0.2
# A median over a handful of shared keys is noise, not a signature
# (e.g. the verify skill's smoke subset).
DRIFT_MIN_SHARED = 20
# Cumulative drift vs the PINNED anchor artifact (round-13, ADVICE):
# the per-round guard compares against the most recent committed
# BENCH_FULL.json, which each clean run replaces — sub-threshold creep
# (<10%/round) would re-baseline every round and compound unboundedly.
# BENCH_ANCHOR.json is a pinned clean artifact that clean runs do NOT
# replace; re-anchoring is a deliberate committed action (BASELINE.md
# records each re-anchor + why). Slightly looser than the per-round
# gate because the honest entry mix drifts across many rounds.
ANCHOR_DRIFT_THRESHOLD = 0.15
# The calibration constant is a single-core best-of-5 measured before
# Spark starts; a wildly different reading means the probe itself was
# hit — clamp the normalization so a corrupt calib can't launder an
# arbitrarily contaminated run into "clean".
CALIB_RATIO_CLAMP = (0.5, 2.0)
# Query wall moves LESS than the single-core probe when the box slows:
# Spark queries amortize contention across 32 threads, I/O waits, and
# JVM work the probe doesn't exercise. The r12 controlled pair
# (BASELINE.md round-12 drift section) measured the coupling directly:
# calib ×1.22 ↔ shared-key median ×1.122, i.e. queries see ≈55% of the
# probe's shift. Normalizing by the FULL ratio would overcorrect — a
# return to a fast box would read as a fake uniform regression.
CALIB_COUPLING = 0.55


def calib_ratio_vs(calib_now: float | None, baseline_calib: float | None) -> float:
    """Expected uniform query-wall ratio (>1 slower, <1 faster) for the
    measured probe shift vs when the baseline artifact was recorded:
    1 + CALIB_COUPLING·(probe_ratio − 1), clamped to CALIB_RATIO_CLAMP.
    Missing readings (pre-r12 artifacts have no calib_sec) → 1.0, i.e.
    the raw-median behavior."""
    if not calib_now or not baseline_calib:
        return 1.0
    effective = 1.0 + CALIB_COUPLING * (calib_now / baseline_calib - 1.0)
    lo, hi = CALIB_RATIO_CLAMP
    return min(max(effective, lo), hi)


def uniform_drift(
    timings: dict[str, float],
    baseline: dict[str, float],
    *,
    threshold: float = DRIFT_MEDIAN_THRESHOLD,
    min_base: float = DRIFT_MIN_BASE,
    min_shared: int = DRIFT_MIN_SHARED,
    calib_ratio: float = 1.0,
) -> dict[str, object]:
    """Median relative shift of shared keys vs a committed clean
    artifact, and whether it crosses the uniform-drift threshold.

    Round-13 (VERDICT item 2): the gate applies to the CALIB-NORMALIZED
    median — (1+median)/calib_ratio − 1 — so an honest run in a
    known-slow window (measured by the single-core calibration probe)
    isn't mislabeled, and a run in a known-FAST window can't hide a
    real uniform regression behind the box speedup. Both the raw and
    normalized medians are recorded."""
    shifts = sorted(
        (sec - baseline[name]) / baseline[name]
        for name, sec in timings.items()
        if name in baseline and baseline[name] >= min_base
    )
    n = len(shifts)
    if n < min_shared:
        return {
            "shared": n,
            "median_shift": None,
            "median_shift_norm": None,
            "calib_ratio": round(calib_ratio, 4),
            "drift": False,
        }
    mid = n // 2
    med = shifts[mid] if n % 2 else (shifts[mid - 1] + shifts[mid]) / 2.0
    norm = (1.0 + med) / calib_ratio - 1.0
    return {
        "shared": n,
        "median_shift": round(med, 4),
        "median_shift_norm": round(norm, 4),
        "calib_ratio": round(calib_ratio, 4),
        "drift": norm > threshold,
    }


def slow_early_stop(times: list[float], slow_cutoff: float) -> bool:
    """Whether the slow-query rep loop may stop after ``times`` reps:
    only when the best rep exceeds ``slow_cutoff`` AND the newest rep
    failed to improve the prior best by >10% (converged). A rep still
    improving >10% is still warming up, not intrinsic plan cost — the
    r13 A/B measured dsir_importance_weights at [3.06, 2.20, 1.78] in
    a session whose JVM-wide codegen cache held 100 classes against a
    registry of about 4,160, so each run recompiled its generated code,
    and the old unconditional break at i>=1 froze its bench reading at
    the min-of-2 ≈ 3.0. ``session.get_spark`` now sizes that cache to
    hold the registry's working set."""
    return (
        len(times) >= 2
        and min(times) > slow_cutoff
        and times[-1] > 0.9 * min(times[:-1])
    )


def read_proc_stat() -> tuple[int, int]:
    """(steal_jiffies, busy_jiffies) from /proc/stat — cumulative
    since boot. Hypervisor steal is the contention channel loadavg
    can NOT see (another tenant of the HOST, not this VM); recorded
    as a delta across the whole bench run so every artifact carries
    the simultaneous evidence the r12 drift forensics lacked."""
    try:
        with open("/proc/stat") as f:
            v = list(map(int, f.readline().split()[1:]))
        steal = v[7] if len(v) > 7 else 0
        busy = sum(v) - v[3] - (v[4] if len(v) > 4 else 0)
        return steal, busy
    except (OSError, ValueError, IndexError):
        return 0, 0


def cpu_calibration_sec(reps: int = 5) -> float:
    """Best-of-N of a fixed single-core integer/hash workload — a
    machine-speed constant recorded per artifact so cross-round
    comparisons can separate 'the code got slower' from 'the box got
    slower' (the r12 drift investigation found two byte-identical
    clean runs 2 h apart differing +9.3% median with idle loadavg,
    ~0% steal and no cgroup quota — without a recorded calibration
    constant that residual is un-attributable retroactively).
    Measured 0.195 s on the round-12 box."""
    import hashlib

    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        h = b"x"
        for _ in range(20000):
            h = hashlib.sha256(h).digest()
        x = 0
        for i in range(2_000_000):
            x = (x * 1103515245 + i) & 0xFFFFFFFF
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


def steal_detected(
    reruns: dict, sentinels: tuple[str, ...] = SENTINELS
) -> bool:
    """True when the rerun evidence says the box was stealing cycles:
    ANY fixed sentinel's two readings disagree (either cost family —
    short scan+agg or iterative fixpoint), or at least
    STEAL_SUSPECT_THRESHOLD rerun queries disagree with themselves."""
    if isinstance(sentinels, str):  # accept a lone name (old call shape)
        sentinels = (sentinels,)
    if any(reruns.get(s, {}).get("suspect") for s in sentinels):
        return True
    n = sum(1 for r in reruns.values() if r.get("suspect"))
    return n >= STEAL_SUSPECT_THRESHOLD


def bench_output_path(
    repo: Path, contaminated: bool, sf: float | None = 0.1
) -> Path:
    """Contaminated runs must never replace the committed clean
    BENCH_FULL.json (this exact overwrite happened in rounds 8 AND 9,
    the second time written by the round driver itself) — divert them
    to BENCH_CONTAMINATED.json so the clean artifact survives. Runs at
    any scale other than the canonical sf0.1 (e.g. the verify skill's
    sf0.001 smoke run) divert to BENCH_SMOKE.json for the same reason:
    a clean smoke run on an idle box would otherwise replace the
    committed sf0.1 numbers with sf0.001 ones."""
    if contaminated:
        return repo / "BENCH_CONTAMINATED.json"
    if sf != 0.1:
        return repo / "BENCH_SMOKE.json"
    return repo / "BENCH_FULL.json"


def select_reruns(
    timings: dict[str, float],
    baseline: dict[str, float],
    *,
    sentinels: tuple[str, ...] = SENTINELS,
    rel: float = RERUN_REL_THRESHOLD,
    abs_floor: float = RERUN_ABS_FLOOR,
    cap: int = RERUN_CAP,
) -> list[str]:
    """Names to re-measure: the fixed sentinel pair plus every shared
    key whose timing moved more than ``rel`` AND ``abs_floor`` vs the
    committed baseline, largest absolute delta first, capped at
    ``cap`` so a fully-contaminated run can't double its own wall."""
    if isinstance(sentinels, str):  # accept a lone name (old call shape)
        sentinels = (sentinels,)
    flagged: list[tuple[float, str]] = []
    for name, sec in timings.items():
        base = baseline.get(name)
        if base is None or name in sentinels:
            continue
        delta = abs(sec - base)
        if delta > abs_floor and delta > rel * max(base, 1e-9):
            flagged.append((delta, name))
    flagged.sort(reverse=True)
    out = [name for _, name in flagged[:cap]]
    out.extend(s for s in sentinels if s in timings)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(Path(sf_dir).name.replace("sf", ""))
    except ValueError:
        sf = None

    # Machine-load watermark BEFORE any Spark work: 1-min loadavg here
    # is pure ambient load (other tenants of this box), the one thing
    # that has repeatedly contaminated cross-round comparisons
    # (BASELINE.md documents the threshold). load1_end additionally
    # includes our own decaying bench load and is recorded for
    # completeness only.
    load1_start = round(os.getloadavg()[0], 2)
    steal0, busy0 = read_proc_stat()
    calib = cpu_calibration_sec()

    spark = get_spark("bench")

    # warm-up: JVM, codegen, parquet footers, and the Python worker
    # pool (first pandas_udf call pays ~5s of fork+import per session)
    warm, _ = QUERIES["q2_top_regions"]
    warm(spark, sf_dir).write.format("noop").mode("overwrite").save()

    from pyspark.sql import functions as F

    from movie_data_pipeline_spark.functions.titles import remove_diacritics

    spark.range(1).select(
        remove_diacritics(F.lit("Cité"))
    ).write.format("noop").mode("overwrite").save()

    bench_queries = {
        name: q for name, q in QUERIES.items() if not name.endswith("_check")
    }

    # pass 1 (untimed): compiles each query's generated code into the
    # JVM-wide codegen cache, which get_spark sizes to hold the registry
    for name, (builder, _) in bench_queries.items():
        builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
    # drop data caches so per-query numbers don't ride earlier persists
    clear_state(spark)

    # pass 2 (timed, warm engine — BASELINE.md's comparison basis).
    # Per-query MIN of 3 repetitions: Spark timing noise is one-sided
    # (GC pauses, ambient machine load, codegen re-JIT all ADD time),
    # so the min is the cleanest estimator of intrinsic plan cost and
    # matches BASELINE.md's best-of-5 discipline for the SQLite rows.
    # Round 4's System.gc()-before-every-query variant was bisected
    # (see BASELINE.md "Bench methodology") and REMOVED: the forced
    # full collection added a reproducible ~0.2 s to every measured
    # query (~15 s/run at sf0.1) — worse than the stalls it was meant
    # to smooth, which min-of-3 now absorbs instead.
    # Registry growth guard: repetitions only pay for themselves where
    # jitter is material RELATIVE to the measurement. A query whose
    # best rep exceeds SLOW_CUTOFF seconds is dominated by intrinsic
    # plan cost (iterative rounds, big shuffles): it stops at
    # min-of-2 — the second rep recovers most of the one-sided
    # first-rep noise (page cache, JIT) at half the extra wall, and a
    # measured first-rep-only variant overstated the iterative
    # families 20-40%. Fast queries keep the full min-of-reps. This
    # keeps the 139-query bench inside the round driver's budget.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    slow_cutoff = float(os.environ.get("SPARK_GRAFT_BENCH_SLOW_CUTOFF", "3.0"))

    def timed_min(builder) -> float:
        """Min-of-reps with the slow-query early stop, which (r13 A/B,
        BASELINE.md round-13) must only fire once the readings have
        CONVERGED: Spark's JVM-wide codegen cache held 100 classes by
        default, against about 4,160 for the whole registry, so every
        rep recompiled its generated code and the JIT rewarmed it
        (dsir_importance_weights read [3.06, 2.20, 1.78]; get_spark now
        sizes the cache to the working set) — the old `best > cutoff at i>=1`
        break froze it at the still-converging min-of-2 ≈ 3.0 for two
        rounds). A rep that improved the prior best by >10% means the
        query is still warming, not intrinsically slow — keep going.
        Stable slow queries (iterative fixpoints agree within ~5%)
        still stop at min-of-2 exactly as before."""
        times: list[float] = []
        for _ in range(reps):
            start = time.perf_counter()
            builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - start)
            clear_state(spark)
            if slow_early_stop(times, slow_cutoff):
                break
        return round(min(times), 4)

    timings: dict[str, float] = {}
    for name, (builder, _) in bench_queries.items():
        timings[name] = timed_min(builder)

    # Sentinel-rerun pass (BASELINE.md "invisible steal"): compare
    # against the committed clean BENCH_FULL.json, rerun the sentinel
    # plus any query that moved surprisingly, and record BOTH readings.
    # The recorded timing becomes min(first, rerun) — the same
    # one-sided-noise estimator as min-of-reps, now spanning two
    # points in time so a transient steal wave can't stick.
    repo = Path(__file__).parent
    try:
        committed = json.loads((repo / "BENCH_FULL.json").read_text())
        baseline = {
            k: float(v) for k, v in committed.get("queries", {}).items()
        }
        baseline_calib = committed.get("load", {}).get("calib_sec")
    except (OSError, ValueError):
        baseline = {}
        baseline_calib = None
    reruns: dict[str, dict[str, object]] = {}
    for name in select_reruns(timings, baseline):
        builder, _ = bench_queries[name]
        best = timed_min(builder)
        first = timings[name]
        # suspect = the two readings of byte-identical code disagree
        # beyond the same surprise threshold: ambient interference,
        # not plan cost — per-round deltas on this query are not
        # interpretable without an idle re-measure.
        disagree = abs(best - first) > max(
            SUSPECT_DISAGREE_FLOOR,
            RERUN_REL_THRESHOLD * max(min(best, first), 1e-9),
        )
        reruns[name] = {"first": first, "rerun": best, "suspect": disagree}
        timings[name] = min(first, best)

    total = round(sum(timings.values()), 4)
    steal1, busy1 = read_proc_stat()
    try:
        import __spark_entry__ as _entry

        bench_round = _entry._round_no()
    except Exception as exc:  # degrade, never die — but say so:
        # a broken __spark_entry__ here is the exact failure the
        # driver hits minutes later, so make it visible now
        print(f"bench: round lookup failed: {exc!r}", file=sys.stderr)
        bench_round = None
    load = {
        # the round this process believes it is in (ROUND pin / env /
        # artifact-max — r13 ADVICE item 1): lets a post-hoc audit
        # detect a bench that ran under a shifted slot window
        "round": bench_round,
        "load1_start": load1_start,
        "load1_end": round(os.getloadavg()[0], 2),
        "cpus": os.cpu_count(),
        # machine-speed constant + run-wide hypervisor-steal fraction
        # (r12 drift forensics: the evidence that must be simultaneous
        # with the run to mean anything)
        "calib_sec": calib,
        "steal_pct_busy": (
            round((steal1 - steal0) / max(busy1 - busy0, 1) * 100, 2)
            if busy1 > busy0
            else None
        ),
    }
    # Self-label contaminated runs instead of requiring forensics:
    # BASELINE.md §"Contamination threshold" — load1_start above ~2 on
    # this 32-cpu box means another tenant is active and cross-round
    # per-query deltas are not interpretable (r5/r7/r8 artifacts
    # measured load1 ≈ 6-12 at launch).
    contaminated_threshold = float(
        os.environ.get("SPARK_GRAFT_BENCH_LOAD_THRESHOLD", "2.0")
    )
    load["contaminated_load"] = load1_start > contaminated_threshold
    load["steal_suspects"] = sum(
        1 for r in reruns.values() if r.get("suspect")
    )
    load["contaminated_steal"] = steal_detected(reruns)
    # drift is only meaningful against the committed artifact's OWN
    # scale — a smoke run at another SF is uniformly shifted by
    # construction
    if sf == 0.1:
        drift = uniform_drift(
            timings,
            baseline,
            calib_ratio=calib_ratio_vs(calib, baseline_calib),
        )
        # cumulative drift vs the PINNED anchor (never replaced by a
        # clean run — see ANCHOR_DRIFT_THRESHOLD rationale)
        try:
            anchor = json.loads((repo / "BENCH_ANCHOR.json").read_text())
            anchor_drift = uniform_drift(
                timings,
                {k: float(v) for k, v in anchor.get("queries", {}).items()},
                threshold=ANCHOR_DRIFT_THRESHOLD,
                calib_ratio=calib_ratio_vs(
                    calib, anchor.get("load", {}).get("calib_sec")
                ),
            )
        except (OSError, ValueError):
            anchor_drift = {
                "median_shift_norm": None,
                "calib_ratio": 1.0,
                "drift": False,
            }
    else:
        drift = {
            "median_shift": None,
            "median_shift_norm": None,
            "calib_ratio": 1.0,
            "drift": False,
        }
        anchor_drift = dict(drift)
    load["median_shift_vs_committed"] = drift["median_shift"]
    load["median_shift_vs_committed_norm"] = drift["median_shift_norm"]
    load["calib_ratio_vs_committed"] = drift["calib_ratio"]
    load["median_shift_vs_anchor_norm"] = anchor_drift["median_shift_norm"]
    load["calib_ratio_vs_anchor"] = anchor_drift["calib_ratio"]
    load["contaminated_drift"] = bool(drift["drift"] or anchor_drift["drift"])
    load["contaminated"] = bool(
        load["contaminated_load"]
        or load["contaminated_steal"]
        or load["contaminated_drift"]
    )

    # The driver keeps only the final ~2000 chars of output; round 2's
    # full per-query dict pushed the JSON line past that and the driver
    # recorded parsed=null. Print a compact line (headline queries +
    # "other" rollup; "value" still sums EVERY query) and write the
    # complete timings next to it for the judge.
    bench_output_path(repo, bool(load["contaminated"]), sf).write_text(
        json.dumps(
            {
                "sf": sf,
                "total_sec": total,
                "load": load,
                "queries": timings,
                "reruns": reruns,
            },
            indent=1,
        )
    )
    headline = [
        "q1_top_part", "q2_top_regions", "q3_top_segment",
        "q4_yearly_shipments", "pricing_summary", "supplier_volume_by_nation",
        "tfidf_top_terms", "bm25_top_docs", "minhash_dedup_pairs",
        "simhash_dedup_pairs", "winnow_pairs", "dedup_clusters",
        "semantic_dedup_docs", "embedding_knn", "lsh_knn_embeddings",
        "ivf_knn_embeddings", "doc_packing", "events_hourly",
        "sessionize_events", "conversion_funnel",
    ]
    compact = {k: timings[k] for k in headline if k in timings}

    def _line(q: dict) -> str:
        return json.dumps(
            {
                "metric": "registry_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": q,
                "sf": sf,
                "load": load,
            }
        )

    # degrade, never die: if registry growth pushes the line over the
    # driver's ~2000-char output retention, fold headline entries into
    # "other" until it fits — the total and BENCH_FULL.json are intact
    # either way, and an assert here would lose the whole metric line
    while len(compact) > 1:
        q = dict(compact)
        q["other"] = round(total - sum(compact.values()), 4)
        if len(_line(q)) < 1900:
            break
        compact.popitem()
    q = dict(compact)
    q["other"] = round(total - sum(compact.values()), 4)
    print(_line(q))


if __name__ == "__main__":
    main()
