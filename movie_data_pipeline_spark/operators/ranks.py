"""Global (or per-group) ROW_NUMBER without a single-partition
window — the bucket decomposition used by score_auc / value_drift_ks
/ customer_spend_gini, factored as a reusable operator.

The trick: bucket rows by a fixed-width function of the ORDER-BY
value (from a one-row — or one-row-per-group — bounds aggregate), so
the bucket is monotone in the value and equal values share a bucket.
Then global row_number = (count of rows in earlier buckets) +
(row_number inside the bucket). The in-bucket windows parallelize
across (group, bucket); the prefix table has ≤ n_buckets rows per
group and rides a dimension-sized join. The companion DuckDB oracles
use plain global windows, so every registry hash match re-proves the
decomposition.

At 100 TB: the bounds pass is one aggregate; the heavy sort is the
per-bucket window, whose width is data/nbuckets on average. Skewed
value distributions concentrate rows in few buckets, so the operator
carries an ADAPTIVE SECOND-LEVEL SPLIT: the per-bucket count table
(computed anyway for the prefix join) flags buckets holding more
than max(split_floor, hot_factor × data/nbuckets) rows, and flagged
buckets get a second fixed-width pass — over the value restricted to
the bucket's own range when the value still spreads there, else over
a monotone numeric image of the first tiebreak (which is what splits
an all-equal / single-spike distribution: equal values, distinct
tiebreaks). Any monotone refinement of the sort-key prefix preserves
the decomposition exactly, so the oracles keep re-proving it. The
well-distributed fast path (no hot bucket) is byte-identical to the
one-level plan plus one tiny count on the ≤nbuckets-row stats table.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def constant_partition_key(col):
    """Non-foldable constant-zero partition key: marks a window over a
    PROVABLY BOUNDED relation (bucket-prefix tables, top-k cuts, small
    dims) as deliberately single-partition without tripping WindowExec's
    "No Partition Defined" warning, which exists to catch corpus-sized
    global sorts — a bare lit(0) gets folded out of the window spec.
    pmod(length(cast(col as string)), 1) ≡ 0 for every row (coalesce
    guards NULLs into the same partition) but survives constant
    folding because it references a column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.pmod(
        F.coalesce(F.length(c.cast("string")), F.lit(0)), F.lit(1)
    )


def ntile_expr(i_col: str, n_col: str, k: int):
    """Exact SQL-standard NTILE(k) from a 1-based row number and the
    partition count, in pure integer arithmetic: with q = n DIV k and
    r = n % k, the first r tiles hold q+1 rows. Matches Spark's and
    DuckDB's NTILE bit-for-bit (both implement the standard), so a
    plain-NTILE oracle stays valid when the Spark side computes the
    row number via parallel_row_number instead of a global window.
    n < k degenerates correctly (q = 0: every row its own tile via
    the first branch, which then covers all i)."""
    q = f"({n_col} DIV {k})"
    r = f"({n_col} % {k})"
    return F.expr(
        f"CAST(IF({i_col} <= {r} * ({q} + 1),"
        f" ({i_col} - 1) DIV ({q} + 1) + 1,"
        f" {r} + ({i_col} - 1 - {r} * ({q} + 1)) DIV {q} + 1) AS INT)"
    )


_NUMERIC = ("tinyint", "smallint", "int", "bigint", "float", "double")

# how many exact 6-byte string images the tiebreak refinement chains
# through (covers shared prefixes up to 6×this bytes; beyond that a
# hot bucket stalls at max_levels — visibly, via LAST_SPLIT_STATS)
_N_STRING_IMAGES = 5

# helper columns the decomposition appends and the callers drop.
# parallel_row_number / parallel_prefix_sum REJECT inputs already
# carrying any of these names (a blanket output drop would otherwise
# silently remove a legitimate user column).
_HELPER_COLS = (
    "_s0", "_s1", "_b", "_b2", "_t", "_bn", "_tot", "_hot",
    "_v0", "_v1", "_rin", "_pfx", "_cin", "_bt",
) + tuple(
    f"_m{k}{ab}" for k in range(_N_STRING_IMAGES) for ab in ("a", "b")
)

# Observability for the adaptive skew split (the split is load-bearing
# under 10+ registry entries and was previously silent): refreshed by
# every _adaptive_buckets call with per-level hot-bucket counts and
# max bucket widths, so stress runs / property tests can SEE a
# pathological distribution re-split instead of inferring it from
# wall time. Same-dict update so importers holding a reference see it.
# CONTRACT: LAST_SPLIT_STATS only exposes the MOST RECENT call — a plan
# chaining several rank operators overwrites it per call. Multi-call
# consumers read SPLIT_STATS_LOG (one fresh dict per call, most recent
# last, bounded) or pass ``stats_out`` to the public operators.
LAST_SPLIT_STATS: dict = {}
SPLIT_STATS_LOG: list = []
_SPLIT_STATS_LOG_MAX = 64


def _finalize_stats(call_stats: dict, max_width: int, stats_out) -> None:
    """Seal one _adaptive_buckets call's stats: record the final max
    bucket width, append the per-call dict to SPLIT_STATS_LOG (bounded)
    and copy into the caller-supplied ``stats_out`` when given, so
    observability survives plans that invoke several rank operators
    (LAST_SPLIT_STATS alone only shows the most recent call)."""
    call_stats["final_max_width"] = max_width
    LAST_SPLIT_STATS["final_max_width"] = max_width
    SPLIT_STATS_LOG.append(call_stats)
    del SPLIT_STATS_LOG[:-_SPLIT_STATS_LOG_MAX]
    if stats_out is not None:
        stats_out.clear()
        stats_out.update(call_stats)


def _reject_helper_collisions(df: DataFrame, fn: str) -> None:
    clash = sorted(set(df.columns) & set(_HELPER_COLS))
    if clash:
        raise ValueError(
            f"{fn}: input columns {clash} collide with the bucket "
            "decomposition's reserved helper names; rename them first "
            f"(reserved: {sorted(_HELPER_COLS)})"
        )


def _mono_images(df: DataFrame, col: str) -> list:
    """Double-valued NON-STRICTLY MONOTONE images of ``col`` under the
    column's sort order, for fixed-width sub-bucketing. Non-strict is
    enough: rows that collide share a sub-bucket and the in-bucket
    window orders them by the full key. Strings map through a CHAIN of
    exact 6-byte windows (bytes 1-6, 7-12, ... up to
    6×_N_STRING_IMAGES), each a fixed-width big-endian integer (UTF8
    binary order = Spark/DuckDB string order; right-padding the hex
    keeps short strings comparable to long ones; 48 bits fit a
    double's 53-bit mantissa EXACTLY, so an equal-min/max image PROVES
    the bucket shares those 6 bytes — which is what makes the next
    window's image monotone within the bucket, and is why a hot bucket
    of long strings sharing a prefix keeps shrinking instead of
    stalling: image k is only consulted after images 0..k-1 were
    constant). NULLs map below every value, matching NULLS FIRST.
    Returns [] for types with no cheap image (the caller then skips
    tiebreak-splitting); numerics/dates get a single image."""
    dtype = dict(df.dtypes).get(col)
    if dtype is None:
        return []
    if dtype == "string":
        return [
            F.coalesce(
                F.expr(
                    f"conv(rpad(hex(substring(encode(`{col}`, 'UTF-8'),"
                    f" {1 + 6 * k}, 6)), 12, '0'), 16, 10)"
                ).cast("double"),
                F.lit(-1.0),
            )
            for k in range(_N_STRING_IMAGES)
        ]
    if dtype in _NUMERIC or dtype.startswith("decimal"):
        return [F.coalesce(F.col(col).cast("double"), F.lit(-1e308))]
    if dtype in ("date", "timestamp", "timestamp_ntz"):
        return [
            F.coalesce(
                F.col(col).cast("timestamp").cast("double"), F.lit(-1e308)
            )
        ]
    return []


def _fixed_width_bucket(
    val: Column, lo: Column, hi: Column, nbuckets: int
) -> Column:
    return F.least(
        F.floor(
            (val - lo)
            / F.greatest((hi - lo) / F.lit(float(nbuckets)), F.lit(1e-300))
        ).cast("int"),
        F.lit(nbuckets - 1),
    )


def _level0_bucket(
    val_d: Column, lo: Column, hi: Column, nbuckets: int
) -> Column:
    """THE level-0 bucket id: NULL order keys to the dedicated -1
    bucket (matching the in-bucket sort's NULLS FIRST), else
    fixed-width on [lo, hi]. Shared by the single-rank and fused
    operators so their bucketing can never diverge."""
    return (
        F.when(val_d.isNull(), F.lit(-1))
        .otherwise(_fixed_width_bucket(val_d, lo, hi, nbuckets))
        .cast("long")
    )


def _hot_threshold(
    total, nbuckets: int, hot_factor: int, split_floor: int
) -> float:
    """Driver-side hot-bucket threshold — the same formula the grouped
    dataflow path expresses as a Column (single definition for every
    driver-stats consumer)."""
    return max(float(split_floor), hot_factor * total / float(nbuckets))


def _adaptive_buckets(
    df: DataFrame,
    order_col: str,
    tiebreaks: Sequence[str],
    part: Sequence[str],
    nbuckets: int,
    hot_factor: int,
    split_floor: int,
    max_levels: int = 3,
    stats_out: dict | None = None,
):
    """Assign the adaptive bucket id ``_b`` (a composite long: each
    refinement level multiplies by nbuckets and adds the sub-bucket,
    so the id stays monotone in the sort key across levels). Returns
    ``(b, prefix)``: the checkpointed input with ``_b`` appended, and
    a (part..., _b, _pfx) table holding the EXCLUSIVE running count
    of earlier buckets — ready to join for the global row number.

    UNGROUPED inputs take the driver-stats path: the per-bucket stats
    relation is bounded by construction (≤ nbuckets per level, times
    the ≤ nbuckets/hot_factor buckets that can exceed the mean-based
    threshold), so one collect per level decides hotness AND yields
    the prefix sums as a literal broadcast table — no stats
    checkpoint, no probe job, no prefix window (this is the
    bounded-collect discipline, same class as the 1-row argmaxes).
    GROUPED inputs keep the dataflow path: the stats relation is
    groups × nbuckets, not bounded by construction.

    Refinement rule per hot bucket (count > max(split_floor,
    hot_factor·n/nbuckets)): fixed-width on the value over the
    bucket's OWN range when the value still spreads there, else
    fixed-width on a monotone numeric image of the first tiebreak
    (the all-equal / single-spike case; string tiebreaks carry a
    CHAIN of exact 6-byte images — bytes 1-6, 7-12, ... — where image
    k is consulted only after images 0..k-1 were constant across the
    bucket, valid exactly then because an equal-min/max EXACT image
    proves the shared prefix). A spike inside a mixed bucket takes
    one level to isolate (value split) and a second to spread
    (tiebreak split) — hence max_levels=3 by default. A slice equal
    in value and every tiebreak image (strings sharing a
    >6×_N_STRING_IMAGES-byte prefix) never shrinks; max_levels bounds
    the loop and LAST_SPLIT_STATS reports the final width so a stall
    is VISIBLE, not inferred from wall time.

    NULL order keys get a dedicated lowest bucket (id -1), matching
    the in-bucket sort's NULLS FIRST — the operator implements
    Spark's ascending default end-to-end. NOTE: a DuckDB oracle's
    plain window defaults to NULLS LAST; a nullable order column
    needs an explicit NULLS FIRST in its oracle SQL (shipped testdata
    has no NULL order keys — contract note)."""
    part = list(part)
    bounds = df.groupBy(*part).agg(
        F.min(order_col).cast("double").alias("_s0"),
        F.max(order_col).cast("double").alias("_s1"),
    )
    if part:
        b = df.join(bounds, part)  # dimension-sized, un-hinted
    else:
        b = df.crossJoin(F.broadcast(bounds))  # 1-row side
    val_d = F.col(order_col).cast("double")
    b = b.withColumn(
        "_b", _level0_bucket(val_d, F.col("_s0"), F.col("_s1"), nbuckets)
    ).drop("_s0", "_s1")
    # the bucketed relation feeds BOTH the in-bucket windows and the
    # prefix aggregate — cut lineage so the upstream (scans, joins,
    # prior rank calls) executes once, not once per consumer arm
    # (pre-cut, a 3×-chained rfm ranking re-ran the base scan 69×)
    b = b.localCheckpoint()
    imgs = _mono_images(df, tiebreaks[0]) if tiebreaks else []
    split_log: list[dict] = []
    call_stats: dict = {
        "grouped": bool(part), "nbuckets": nbuckets, "levels": split_log,
    }
    LAST_SPLIT_STATS.clear()
    LAST_SPLIT_STATS.update(call_stats)  # live view of the current call
    if not part:
        return _refine_ungrouped(
            df, b, val_d, imgs, nbuckets, hot_factor,
            split_floor, max_levels, call_stats, stats_out,
        )
    for _level in range(max_levels):
        stats = (
            b.groupBy(*part, "_b")
            .agg(
                F.count(F.lit(1)).alias("_bn"),
                F.min(val_d).alias("_v0"),
                F.max(val_d).alias("_v1"),
            )
            .localCheckpoint()  # tiny; hot probe AND the prefix reuse it
        )
        totals = stats.groupBy(*part).agg(F.sum("_bn").alias("_tot"))
        stats = stats.join(totals, part)
        hot = F.col("_bn") > F.greatest(
            F.lit(int(split_floor)),
            F.lit(int(hot_factor)) * F.col("_tot") / F.lit(int(nbuckets)),
        )
        stats = stats.withColumn("_hot", hot)
        # driver-side branch on a 1-row aggregate of the small stats
        # table (AQE-style data-dependent planning): skew pays for
        # refinement only when it exists; the same probe row feeds
        # the observability log (hot count + max width per level)
        probe = stats.agg(
            F.sum(F.col("_hot").cast("int")).alias("h"),
            F.max("_bn").alias("w"),
        ).collect()[0]
        n_hot = int(probe["h"] or 0)
        # empty input: max(_bn) aggregates zero rows to NULL — coalesce
        # to 0 so a zero-row grouped rank returns empty, not TypeError
        max_width = int(probe["w"]) if probe["w"] is not None else 0
        split_log.append(
            {"level": _level, "hot": n_hot, "max_width": max_width}
        )
        if n_hot == 0 or _level == max_levels - 1:
            _finalize_stats(call_stats, max_width, stats_out)
            prefix_w = (
                Window.partitionBy(*part)
                .orderBy("_b")
                .rowsBetween(Window.unboundedPreceding, -1)
            )
            prefix = stats.select(
                *part,
                "_b",
                F.coalesce(F.sum("_bn").over(prefix_w), F.lit(0)).alias(
                    "_pfx"
                ),
            )
            return b, prefix
        info = stats.select(*part, "_b", "_hot", "_v0", "_v1")
        if imgs:
            # tiebreak bounds per bucket: a second small pass over the
            # CHECKPOINTED relation, restricted to the hot buckets by
            # a semi-join on the tiny stats table so the per-row
            # string/byte images truly run only where refinement will
            # use them (the blanket aggregate contradicted this
            # comment until round 10)
            hot_keys = stats.filter("_hot").select(*part, "_b")
            aggs = []
            for k, img in enumerate(imgs):
                aggs += [
                    F.min(img).alias(f"_m{k}a"),
                    F.max(img).alias(f"_m{k}b"),
                ]
            tstats = (
                b.join(F.broadcast(hot_keys), [*part, "_b"])
                .groupBy(*part, "_b")
                .agg(*aggs)
            )
            info = info.join(tstats, [*part, "_b"], "left")
        refined = b.join(info, [*part, "_b"])
        b = (
            refined.withColumn(
                "_b",
                F.col("_b") * F.lit(int(nbuckets))
                + _sub_bucket_expr(val_d, imgs, nbuckets).cast("long"),
            )
            .drop("_hot", "_v0", "_v1", *_image_cols(len(imgs)))
            .localCheckpoint()
        )
    raise AssertionError("unreachable")


def _dense_prefix_list(rows, nbuckets: int) -> list[int]:
    """Exclusive prefix counts as a dense list indexed by bucket id + 1
    (slot 0 is the NULL bucket -1). Only valid for LEVEL-0 ids, which
    are -1..nbuckets-1 by construction; empty buckets get the running
    count (no rows ever read those slots, but the value is still the
    correct exclusive prefix)."""
    counts = {r["_b"]: r["_bn"] for r in rows}
    pfx, acc = [], 0
    for bid in range(-1, nbuckets):
        pfx.append(acc)
        acc += counts.get(bid, 0)
    return pfx


def _prefix_lookup_expr(pfx_list: list[int], b_col) -> Column:
    """O(1) per-row exclusive-prefix lookup on the dense level-0 array
    literal (see _dense_prefix_list): element_at is 1-based, bucket ids
    start at -1, hence the +2."""
    c = F.col(b_col) if isinstance(b_col, str) else b_col
    return F.element_at(
        F.lit(pfx_list).cast("array<long>"), (c + 2).cast("int")
    )


def _image_cols(n_imgs: int) -> list:
    return [f"_m{k}{ab}" for k in range(n_imgs) for ab in ("a", "b")]


def _sub_bucket_expr(val_d: Column, imgs, nbuckets: int) -> Column:
    """The per-row sub-bucket for a (possibly) hot bucket, reading the
    joined per-bucket columns _hot/_v0/_v1[/_m{k}a/_m{k}b]. The
    when-chain fall-through IS the monotonicity proof: image k is
    only reached when the value AND every exact earlier image were
    constant across the bucket (their min==max), which is exactly the
    condition under which ordering within the bucket is determined by
    image k's bytes. Non-hot buckets short-circuit to 0 before any
    image column is read (they carry NULLs from the hot-only left
    join)."""
    sub_v = _fixed_width_bucket(val_d, F.col("_v0"), F.col("_v1"), nbuckets)
    sub = F.when(~F.col("_hot"), F.lit(0)).when(
        F.col("_v1") > F.col("_v0"), sub_v
    )
    for k, img in enumerate(imgs):
        lo, hi = F.col(f"_m{k}a"), F.col(f"_m{k}b")
        sub = sub.when(hi > lo, _fixed_width_bucket(img, lo, hi, nbuckets))
    return sub.otherwise(F.lit(0))


def _refine_ungrouped(
    df: DataFrame,
    b: DataFrame,
    val_d: Column,
    imgs: list,
    nbuckets: int,
    hot_factor: int,
    split_floor: int,
    max_levels: int,
    call_stats: dict,
    stats_out: dict | None,
):
    """Driver-stats refinement for the ungrouped case (see
    _adaptive_buckets docstring): collect the bounded per-bucket stats,
    decide hotness and build the exclusive prefix table driver-side.
    The NULL-order-key bucket (id -1) carries NULL _v0/_v1 (min/max
    skip NULLs); its value never spreads, so a hot NULL bucket
    refines by tiebreak image, and the NULL-safe -1e308 stand-in
    below only fills schema slots that _sub_bucket_expr's branch
    order can never read."""
    spark = df.sparkSession
    split_log: list = call_stats["levels"]

    def _f(x) -> float:
        return float(x) if x is not None else -1e308

    for _level in range(max_levels):
        rows = (
            b.groupBy("_b")
            .agg(
                F.count(F.lit(1)).alias("_bn"),
                F.min(val_d).alias("_v0"),
                F.max(val_d).alias("_v1"),
            )
            .collect()  # bounded by construction, never by the data
        )
        total = sum(r["_bn"] for r in rows)
        thr = _hot_threshold(total, nbuckets, hot_factor, split_floor)
        hot_ids = {r["_b"] for r in rows if r["_bn"] > thr}
        max_width = max(r["_bn"] for r in rows) if rows else 0
        split_log.append(
            {"level": _level, "hot": len(hot_ids), "max_width": max_width}
        )
        if not hot_ids or _level == max_levels - 1:
            _finalize_stats(call_stats, max_width, stats_out)
            if _level == 0:
                # level-0 bucket ids are DENSE (-1..nbuckets-1), so the
                # exclusive prefix is a plain array literal indexed by
                # bucket id — an O(1) per-row lookup that removes the
                # createDataFrame round-trip, the broadcast exchange
                # and the join from the final plan (guide §2.4: remove
                # shuffles outright). Refined levels keep the join:
                # composite ids are sparse.
                return b, _dense_prefix_list(rows, nbuckets)
            acc = 0
            pfx = []
            for r in sorted(rows, key=lambda r: r["_b"]):
                pfx.append((r["_b"], acc))
                acc += r["_bn"]
            prefix = spark.createDataFrame(pfx, "_b long, _pfx long")
            return b, prefix
        tmap: dict = {}
        if imgs:
            hot_df = spark.createDataFrame(
                [(i,) for i in sorted(hot_ids)], "_b long"
            )
            aggs = []
            for k, img in enumerate(imgs):
                aggs += [
                    F.min(img).alias(f"_m{k}a"),
                    F.max(img).alias(f"_m{k}b"),
                ]
            trows = (
                b.join(F.broadcast(hot_df), "_b")
                .groupBy("_b")
                .agg(*aggs)
                .collect()
            )
            tmap = {
                r["_b"]: [
                    _f(r[f"_m{k}{ab}"])
                    for k in range(len(imgs))
                    for ab in ("a", "b")
                ]
                for r in trows
            }
        zeros = [0.0] * (2 * len(imgs))
        img_schema = "".join(
            f", _m{k}a double, _m{k}b double" for k in range(len(imgs))
        )
        info = spark.createDataFrame(
            [
                (
                    r["_b"],
                    r["_b"] in hot_ids,
                    _f(r["_v0"]),
                    _f(r["_v1"]),
                    *tmap.get(r["_b"], zeros),
                )
                for r in rows
            ],
            "_b long, _hot boolean, _v0 double, _v1 double" + img_schema,
        )
        b = (
            b.join(F.broadcast(info), "_b")
            .withColumn(
                "_b",
                F.col("_b") * F.lit(int(nbuckets))
                + _sub_bucket_expr(val_d, imgs, nbuckets).cast("long"),
            )
            .drop("_hot", "_v0", "_v1", *_image_cols(len(imgs)))
            .localCheckpoint()
        )
    raise AssertionError("unreachable")


def parallel_row_number(
    df: DataFrame,
    value_col: str,
    tiebreaks: Sequence[str],
    part_cols: Sequence[str] = (),
    nbuckets: int = 256,
    out_col: str = "i",
    hot_factor: int = 4,
    split_floor: int = 1_000_000,
    stats_out: dict | None = None,
) -> DataFrame:
    """Append ``out_col`` = 1-based ROW_NUMBER over
    (PARTITION BY part_cols ORDER BY value_col, *tiebreaks), computed
    with bucket-parallel windows and an adaptive second-level split
    for skewed value distributions (see module docstring).
    (value_col, *tiebreaks) must be a total order within each group
    for the result to be well-defined. A bucket only splits when it
    holds more than max(split_floor, hot_factor·n/nbuckets) rows —
    the floor keeps test-scale data on the one-level plan.
    ``stats_out``: optional dict filled with THIS call's split stats
    (LAST_SPLIT_STATS only survives until the next rank call)."""
    _reject_helper_collisions(df, "parallel_row_number")
    part = list(part_cols)
    b, prefix = _adaptive_buckets(
        df, value_col, tiebreaks, part, nbuckets, hot_factor, split_floor,
        stats_out=stats_out,
    )
    in_bucket = Window.partitionBy(*part, "_b").orderBy(
        value_col, *tiebreaks
    )
    ranked = b.withColumn("_rin", F.row_number().over(in_bucket))
    if isinstance(prefix, list):
        # dense level-0 prefix: pure projection, no broadcast join
        joined = ranked.withColumn(
            "_pfx", _prefix_lookup_expr(prefix, "_b")
        )
    else:
        joined = ranked.join(
            F.broadcast(prefix) if not part else prefix, [*part, "_b"]
        )
    return joined.withColumn(
        out_col, (F.col("_pfx") + F.col("_rin")).cast("long")
    ).drop(*_HELPER_COLS)


def parallel_multi_row_number(
    df: DataFrame,
    specs: Sequence[tuple],
    nbuckets: int = 256,
    hot_factor: int = 4,
    split_floor: int = 1_000_000,
    stats_out: dict | None = None,
) -> DataFrame:
    """Append SEVERAL independent global row numbers in one fused
    bucket round — ``specs`` is a sequence of
    ``(value_col, tiebreaks, out_col)`` and each out_col gets exactly
    the integers ``parallel_row_number(df, value_col, tiebreaks,
    out_col=out_col)`` would produce (ranks are invariant to the
    bucket boundaries: any bucketing monotone in the sort key yields
    the same prefix + in-bucket decomposition).

    Why fused (guide §1.2/§2.4): N chained parallel_row_number calls
    pay N bounds jobs, N localCheckpoint materializations of the
    accumulating relation and N bounded stats collects. This operator
    pays ONE bounds collect (1 row — the bounded-collect discipline),
    ONE narrow localCheckpoint, and ONE histogram job (explode of the
    ≤N 8-byte (metric, bucket) pairs per row, map-side combined to
    ≤ N·(nbuckets+1) rows before the collect). The in-bucket windows
    are inherently per-metric (different partitionings) and stay N
    exchanges of the NARROW relation, now all inside one final plan
    instead of re-materialized by each successor call.

    Ungrouped only. A metric whose level-0 histogram shows a hot
    bucket (count > max(split_floor, hot_factor·n/nbuckets)) falls
    back to the proven adaptive-refinement path via a chained
    parallel_row_number call — skew pays for refinement only where it
    exists, and the fused fast path stays byte-identical to the
    one-level plan."""
    _reject_helper_collisions(df, "parallel_multi_row_number")
    specs = [
        (value_col, list(tiebreaks), out_col)
        for value_col, tiebreaks, out_col in specs
    ]
    if not specs:
        raise ValueError(
            "parallel_multi_row_number: specs is empty; pass at least one "
            "(value_col, tiebreaks, out_col)"
        )
    helper = [f"_mrb{i}" for i in range(len(specs))]
    clash = sorted(set(df.columns) & set(helper))
    if clash:
        raise ValueError(
            f"parallel_multi_row_number: input columns {clash} collide "
            "with the fused decomposition's helper names"
        )
    out_cols = [s[2] for s in specs]
    if len(set(out_cols)) != len(out_cols):
        raise ValueError(
            f"parallel_multi_row_number: duplicate out_cols {out_cols}"
        )
    # one bounds job for every metric (1 collected row)
    bounds = df.agg(
        *[
            a
            for i, (vc, _, _) in enumerate(specs)
            for a in (
                F.min(F.col(vc).cast("double")).alias(f"_lo{i}"),
                F.max(F.col(vc).cast("double")).alias(f"_hi{i}"),
            )
        ]
    ).collect()[0]
    b = df
    for i, (vc, _, _) in enumerate(specs):
        lo = bounds[f"_lo{i}"]
        hi = bounds[f"_hi{i}"]
        b = b.withColumn(
            helper[i],
            _level0_bucket(
                F.col(vc).cast("double"),
                F.lit(float(lo) if lo is not None else 0.0),
                F.lit(float(hi) if hi is not None else 0.0),
                nbuckets,
            ),
        )
    # the bucketed relation feeds the fused histogram AND every
    # in-bucket window — materialize once (vs once per metric)
    b = b.localCheckpoint()
    hist_rows = (
        b.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("m"), F.col(h).alias("bk")
                        )
                        for i, h in enumerate(helper)
                    ]
                )
            ).alias("p")
        )
        .groupBy(F.col("p.m").alias("m"), F.col("p.bk").alias("bk"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()  # ≤ len(specs)·(nbuckets+1) rows by construction
    )
    per_metric: dict[int, dict[int, int]] = {i: {} for i in range(len(specs))}
    for r in hist_rows:
        per_metric[r["m"]][r["bk"]] = r["c"]
    total = sum(per_metric[0].values()) if specs else 0
    thr = _hot_threshold(total, nbuckets, hot_factor, split_floor)
    call_stats: dict = {
        "fused": len(specs), "nbuckets": nbuckets, "total_rows": total,
        "per_spec": [],
    }
    out = b
    fallback: list[tuple] = []
    for i, (vc, tb, oc) in enumerate(specs):
        counts = per_metric[i]
        max_width = max(counts.values()) if counts else 0
        hot = any(c > thr for c in counts.values())
        call_stats["per_spec"].append(
            {"out_col": oc, "max_width": max_width, "fallback": hot}
        )
        if hot:
            fallback.append((vc, tb, oc))
            continue
        rows = [{"_b": k, "_bn": v} for k, v in counts.items()]
        pfx = _dense_prefix_list(rows, nbuckets)
        w = Window.partitionBy(helper[i]).orderBy(vc, *tb)
        out = out.withColumn(
            oc,
            (
                _prefix_lookup_expr(pfx, helper[i])
                + F.row_number().over(w)
            ).cast("long"),
        )
    out = out.drop(*helper)
    # record the fused call's stats BEFORE chaining the hot-metric
    # fallbacks, so the log order is chronological (parent first, each
    # fallback child after) and LAST_SPLIT_STATS keeps its "most
    # recent rank call" contract when a fallback runs
    LAST_SPLIT_STATS.clear()
    LAST_SPLIT_STATS.update(call_stats)
    SPLIT_STATS_LOG.append(call_stats)
    del SPLIT_STATS_LOG[:-_SPLIT_STATS_LOG_MAX]
    if stats_out is not None:
        stats_out.clear()
        stats_out.update(call_stats)
    for vc, tb, oc in fallback:
        out = parallel_row_number(
            out, vc, tb, out_col=oc, nbuckets=nbuckets,
            hot_factor=hot_factor, split_floor=split_floor,
        )
    return out


def parallel_prefix_sum(
    df: DataFrame,
    value_col: str,
    order_col: str,
    tiebreaks: Sequence[str],
    nbuckets: int = 256,
    scale: int = 6,
    out_col: str = "cum",
    hot_factor: int = 4,
    split_floor: int = 1_000_000,
    stats_out: dict | None = None,
) -> DataFrame:
    """Append ``out_col`` = the EXACT-decimal running sum of
    ``value_col`` over (ORDER BY order_col, *tiebreaks), with the
    same bucket decomposition (and adaptive skew split) as
    parallel_row_number: in-bucket cumulative decimal windows + a
    small bucket-total prefix table. Because the per-term casts and
    the decimal adds are exact, the decomposition is EQUAL (not
    approximately equal) to a global cumulative window — which is
    what lets registry oracles hash-compare it against DuckDB's
    plain window."""
    dec = f"decimal(30,{scale})"
    _reject_helper_collisions(df, "parallel_prefix_sum")
    b, _prefix_counts = _adaptive_buckets(  # decimal totals built below
        df, order_col, tiebreaks, [], nbuckets, hot_factor, split_floor,
        stats_out=stats_out,
    )
    in_bucket = (
        Window.partitionBy("_b")
        .orderBy(order_col, *tiebreaks)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # small bucket-total relation; constant key as in parallel_row_number
    prefix_w = (
        Window.partitionBy(constant_partition_key("_b"))
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = (
        b.groupBy("_b")
        .agg(F.sum(F.col(value_col).cast(dec)).alias("_bt"))
        .select(
            "_b",
            F.coalesce(
                F.sum("_bt").over(prefix_w), F.lit(0).cast(dec)
            ).alias("_pfx"),
        )
    )
    joined = b.withColumn(
        "_cin", F.sum(F.col(value_col).cast(dec)).over(in_bucket)
    ).join(F.broadcast(prefix), ["_b"])
    return joined.withColumn(
        out_col, (F.col("_pfx") + F.col("_cin")).cast(dec)
    ).drop(*_HELPER_COLS)
