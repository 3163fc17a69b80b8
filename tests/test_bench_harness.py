"""Unit tests for bench.py's artifact-hygiene logic.

Two failure modes recurred across rounds 8-9 (VERDICT_r9 items 1+3):
a contaminated run overwriting the committed clean BENCH_FULL.json,
and an "invisible steal" wave (hypervisor contention at LOW loadavg)
silently inflating a band of per-query timings. bench.py now diverts
contaminated artifacts and reruns surprising queries; these tests pin
that logic without spinning up Spark.
"""

from pathlib import Path

from bench import SENTINEL, bench_output_path, select_reruns


def test_contaminated_run_diverts_away_from_bench_full(tmp_path):
    assert bench_output_path(tmp_path, False) == tmp_path / "BENCH_FULL.json"
    assert (
        bench_output_path(tmp_path, True) == tmp_path / "BENCH_CONTAMINATED.json"
    )


def test_contaminated_divert_leaves_committed_artifact_untouched(tmp_path):
    clean = tmp_path / "BENCH_FULL.json"
    clean.write_text('{"total_sec": 174.8}')
    out = bench_output_path(tmp_path, True)
    out.write_text('{"total_sec": 307.3}')
    assert clean.read_text() == '{"total_sec": 174.8}'


def test_select_reruns_flags_surprising_deltas_only():
    baseline = {"a": 1.0, "b": 1.0, "c": 0.1, "d": 5.0, SENTINEL: 0.4}
    timings = {
        "a": 1.2,  # +20% — inside the ±40% band
        "b": 2.5,  # +150% and +1.5 s — flagged
        "c": 0.35,  # +250% but only +0.25 s — under the 0.3 s floor
        "d": 5.1,  # +2% — fine
        SENTINEL: 0.4,  # always rerun regardless of delta
        "new_entry": 9.9,  # no baseline — never flagged
    }
    got = select_reruns(timings, baseline)
    assert got == ["b", SENTINEL]


def test_select_reruns_orders_by_delta_and_caps():
    baseline = {f"q{i}": 1.0 for i in range(20)}
    timings = {f"q{i}": 1.0 + 0.5 + i * 0.1 for i in range(20)}
    got = select_reruns(timings, baseline, cap=3)
    assert got == ["q19", "q18", "q17"]  # largest deltas, capped, no sentinel


def test_select_reruns_handles_missing_baseline():
    # first run in a fresh checkout: no committed artifact — only the
    # sentinel reruns
    assert select_reruns({SENTINEL: 0.5, "x": 9.0}, {}) == [SENTINEL]
    assert select_reruns({"x": 9.0}, {}) == []


def test_bench_full_artifact_at_head_is_clean_or_diverted():
    """The repo-committed BENCH_FULL.json must never self-label
    contaminated — the divert guard makes this invariant mechanical
    going forward; this test makes a regression loud."""
    import json

    p = Path(__file__).resolve().parent.parent / "BENCH_FULL.json"
    d = json.loads(p.read_text())
    assert d.get("load", {}).get("contaminated") is not True


def test_steal_detected_from_rerun_evidence():
    """BASELINE.md's 'invisible steal' mode: loadavg can read 0.06
    while a flat additive rides every query (a live round-10 run
    measured +32% across 193 shared keys at load1_start 0.06). The
    rerun pass is the sufficient evidence: a disagreeing sentinel, or
    3+ self-disagreeing reruns, labels the run contaminated."""
    from bench import steal_detected

    ok = {"first": 1.0, "rerun": 1.0, "suspect": False}
    bad = {"first": 8.2, "rerun": 1.6, "suspect": True}
    assert steal_detected({}) is False
    assert steal_detected({"a": ok, "b": ok}) is False
    assert steal_detected({SENTINEL: bad}) is True  # sentinel disagrees
    assert steal_detected({"a": bad, "b": bad}) is False  # 2 < threshold
    assert steal_detected({"a": bad, "b": bad, "c": bad}) is True
    assert steal_detected({SENTINEL: ok, "a": bad, "b": ok}) is False


def test_sentinel_pair_selection_and_steal():
    """Round-10 ADVICE: the steal waves hit long iterative queries
    hardest (trade_pagerank 23.7→6.2 s) while sparing short ones —
    the sentinel PAIR (short scan+agg q17 + iterative trade_kcore)
    catches a wave either family sees."""
    from bench import SENTINELS, select_reruns, steal_detected

    assert SENTINELS == ("q17_small_qty_revenue", "trade_kcore")
    q17, kcore = SENTINELS

    # both sentinels present in timings → both always selected, in
    # SENTINELS order, after the delta-flagged names
    timings = {q17: 0.4, kcore: 1.7, "x": 5.0}
    baseline = {q17: 0.4, kcore: 1.7, "x": 1.0}
    assert select_reruns(timings, baseline) == ["x", q17, kcore]
    # a sentinel's own delta never double-selects it
    assert select_reruns({q17: 9.0, kcore: 9.0}, baseline) == [q17, kcore]
    # missing from timings → simply absent (subset bench runs)
    assert select_reruns({q17: 0.4}, baseline) == [q17]

    ok = {"first": 1.0, "rerun": 1.05, "suspect": False}
    bad = {"first": 9.0, "rerun": 1.0, "suspect": True}
    # the ITERATIVE sentinel alone flags the run
    assert steal_detected({kcore: bad, q17: ok}) is True
    # the short sentinel alone still flags it
    assert steal_detected({q17: bad, kcore: ok}) is True
    assert steal_detected({q17: ok, kcore: ok}) is False


def test_uniform_drift_guard():
    """Round-12 VERDICT item 4: the r11 run passed every sentinel yet
    sat +11.7% above the r9 clean artifact near-uniformly — a
    between-runs signature. A >10% median upward shift over shared
    keys flags contaminated_drift even when all sentinels agree."""
    from bench import uniform_drift

    base = {f"q{i}": 1.0 for i in range(30)}

    # uniform +12% → drift
    d = uniform_drift({k: 1.12 for k in base}, base)
    assert d["drift"] is True and d["median_shift"] == 0.12
    # uniform +5% → clean
    d = uniform_drift({k: 1.05 for k in base}, base)
    assert d["drift"] is False and d["median_shift"] == 0.05
    # uniform IMPROVEMENT never contaminates (it would freeze a bad
    # committed baseline in place)
    d = uniform_drift({k: 0.8 for k in base}, base)
    assert d["drift"] is False and d["median_shift"] == -0.2

    # a handful of genuine regressions among stable keys: median is
    # robust — 4 keys at +200%, 26 at +2% → no uniform drift
    t = {k: 1.02 for k in base}
    for k in ("q0", "q1", "q2", "q3"):
        t[k] = 3.0
    assert uniform_drift(t, base)["drift"] is False

    # tiny-base keys can't vote: 25 keys at 0.05 s jittering +300%
    # must not outvote 25 solid keys at +1%
    base2 = {f"s{i}": 0.05 for i in range(25)} | {f"b{i}": 2.0 for i in range(25)}
    t2 = {f"s{i}": 0.2 for i in range(25)} | {f"b{i}": 2.02 for i in range(25)}
    d = uniform_drift(t2, base2)
    assert d["shared"] == 25 and d["drift"] is False

    # too few shared keys (fresh checkout / smoke subset) → no signal
    d = uniform_drift({"a": 2.0}, {"a": 1.0})
    assert d["shared"] == 1
    assert d["median_shift"] is None and d["median_shift_norm"] is None
    assert d["drift"] is False


def test_uniform_drift_calib_normalized():
    """Round-13 VERDICT item 2: bench.py records calib_sec but the
    r12 guard compared raw medians — an honest 20%-steal window could
    be mislabeled contaminated (or a fast window could hide a real
    regression). The gate now applies to (1+median)/calib_ratio − 1."""
    from bench import calib_ratio_vs, uniform_drift

    base = {f"q{i}": 1.0 for i in range(30)}

    # The live r12 controlled pair: probe ×1.2168 couples (×0.55) to an
    # expected query ratio ≈1.119 — so the observed +12.2% median
    # normalizes to ≈0%: clean, as the r12 forensics concluded by hand
    ratio = calib_ratio_vs(0.238, 0.1956)
    assert 1.10 < ratio < 1.13
    d = uniform_drift({k: 1.122 for k in base}, base, calib_ratio=ratio)
    assert d["drift"] is False
    assert d["median_shift"] == 0.122 and abs(d["median_shift_norm"]) < 0.01

    # +8% raw on a box measuring 15% FASTER → normalized +27%: a real
    # uniform regression the raw gate would have waved through
    d = uniform_drift({k: 1.08 for k in base}, base, calib_ratio=0.85)
    assert d["drift"] is True and d["median_shift_norm"] > 0.10

    # missing calib on either side (pre-r12 artifacts) → raw behavior
    assert calib_ratio_vs(None, 0.2) == 1.0
    assert calib_ratio_vs(0.2, None) == 1.0
    d = uniform_drift({k: 1.12 for k in base}, base)
    assert d["drift"] is True and d["median_shift_norm"] == 0.12

    # a corrupt probe reading can't launder an arbitrarily slow run:
    # effective ratio clamps at 2.0, so +150% raw still trips even at
    # calib 10× (coupled: 1 + 0.55·9 = 5.95 → clamp)
    assert calib_ratio_vs(2.0, 0.2) == 2.0
    d = uniform_drift(
        {k: 2.5 for k in base}, base, calib_ratio=calib_ratio_vs(2.0, 0.2)
    )
    assert d["drift"] is True


def test_slow_early_stop_requires_convergence():
    """r13 A/B finding: with Spark's default 100-entry JVM-wide codegen
    cache against a registry of about 4,160 classes, a query recompiled
    and re-JITed its generated code across its first reps (dsir measured
    [3.06, 2.20, 1.78]); ``session.get_spark`` now sizes the cache to
    hold the working set. The slow-query early stop must not fire
    while reps are still improving >10% — the old unconditional break
    recorded the min-of-2 ≈ 3.0 as plan cost for two rounds."""
    from bench import slow_early_stop

    # never on the first rep
    assert slow_early_stop([3.1], 3.0) is False
    # still converging (rep improved >10%): keep going even above cutoff
    assert slow_early_stop([3.06, 2.20], 3.0) is False
    # converged above the cutoff: stop (iterative fixpoints, unchanged)
    assert slow_early_stop([7.2, 7.3], 3.0) is True
    assert slow_early_stop([7.2, 6.9], 3.0) is True  # within 10%
    # fast queries never early-stop regardless of agreement
    assert slow_early_stop([0.4, 0.41], 3.0) is False
    # dsir's actual trajectory: rep3 brings best under the cutoff, the
    # loop ends at the reps cap with the converged 1.78 recorded
    assert slow_early_stop([3.06, 2.20, 1.78], 3.0) is False


def test_anchor_drift_threshold_is_looser_than_per_round():
    """ADVICE r12: sub-threshold creep (<10%/round) re-baselines every
    round and compounds unboundedly against the replaced-per-round
    committed artifact. The pinned-anchor gate catches the cumulative
    shift: three rounds of +9% (clean per-round) = +29.5% vs anchor →
    contaminated_drift under ANCHOR_DRIFT_THRESHOLD."""
    from bench import ANCHOR_DRIFT_THRESHOLD, DRIFT_MEDIAN_THRESHOLD, uniform_drift

    assert ANCHOR_DRIFT_THRESHOLD > DRIFT_MEDIAN_THRESHOLD

    anchor = {f"q{i}": 1.0 for i in range(30)}
    crept = {k: 1.09**3 for k in anchor}  # +29.5% cumulative
    last_round = {k: 1.09**2 for k in anchor}  # what the committed file shows

    per_round = uniform_drift(crept, last_round)
    assert per_round["drift"] is False  # +9% — invisible per-round
    vs_anchor = uniform_drift(crept, anchor, threshold=ANCHOR_DRIFT_THRESHOLD)
    assert vs_anchor["drift"] is True  # the compounding is visible here


def test_non_canonical_sf_diverts_to_smoke(tmp_path):
    """A clean verify-skill smoke run at sf0.001 must not replace the
    committed sf0.1 BENCH_FULL.json."""
    assert bench_output_path(tmp_path, False, 0.001).name == "BENCH_SMOKE.json"
    assert bench_output_path(tmp_path, False, None).name == "BENCH_SMOKE.json"
    assert bench_output_path(tmp_path, True, 0.001).name == "BENCH_CONTAMINATED.json"
    assert bench_output_path(tmp_path, False, 0.1).name == "BENCH_FULL.json"
