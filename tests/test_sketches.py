"""KMV bottom-k distinct sketches (operators/sketches.py): exact
regime, the mergeable-state closure law, salt-tournament invariance,
and the error-bound gate at sf0.001."""

from __future__ import annotations

from pyspark.sql import functions as F

from movie_data_pipeline_spark.operators.sketches import (
    kmv_estimate_expr,
    kmv_merge_expr,
    kmv_overlap,
    kmv_sketches,
)

SF = "/root/testdata/sf0.001"


def _orders(spark):
    return spark.read.parquet(f"{SF}/orders.parquet")


def test_unsaturated_sketch_is_exact(spark):
    """Fewer distinct keys than k: the sketch IS the distinct hash set
    and the estimate is the exact count."""
    orders = _orders(spark)
    sk = kmv_sketches(orders, "o_orderpriority", "o_custkey", k=4096)
    exact = (
        orders.select("o_orderpriority", "o_custkey")
        .distinct()
        .groupBy("o_orderpriority")
        .count()
    )
    rows = {
        r["o_orderpriority"]: r
        for r in sk.join(exact, "o_orderpriority").collect()
    }
    assert rows
    for r in rows.values():
        assert r["n_kmv"] == r["count"]
        assert r["est_distinct"] == float(r["count"])
        assert r["kmv"] == sorted(r["kmv"])


def test_merge_law(spark):
    """bottom-k(A ∪ B) computed from the two sketches alone equals the
    sketch built on the physical union — KMV's partial-aggregate
    closure property, with k small enough to saturate."""
    orders = _orders(spark)
    k = 64
    a_rows = orders.filter(F.col("o_orderkey") % 2 == 0)
    b_rows = orders.filter(F.col("o_orderkey") % 2 == 1)
    tag = F.lit("all").alias("g")
    sk_a = kmv_sketches(a_rows.select(tag, "o_custkey"), "g", "o_custkey", k=k)
    sk_b = kmv_sketches(b_rows.select(tag, "o_custkey"), "g", "o_custkey", k=k)
    merged = (
        sk_a.select(F.col("kmv").alias("kmv_a"))
        .crossJoin(sk_b.select(F.col("kmv").alias("kmv_b")))  # 1x1 rows
        .select(kmv_merge_expr(F.col("kmv_a"), F.col("kmv_b"), k).alias("kmv"))
        .collect()[0]["kmv"]
    )
    direct = (
        kmv_sketches(orders.select(tag, "o_custkey"), "g", "o_custkey", k=k)
        .collect()[0]["kmv"]
    )
    assert merged == direct
    assert len(direct) == k  # saturated, estimator regime exercised


def test_salt_tournament_invariance(spark):
    """The two-level (group, salt) tournament is a pure execution
    strategy: any salt_buckets setting yields the identical sketch."""
    orders = _orders(spark)
    base = kmv_sketches(
        orders, "o_orderpriority", "o_custkey", k=32, salt_buckets=1
    ).orderBy("o_orderpriority")
    salted = kmv_sketches(
        orders, "o_orderpriority", "o_custkey", k=32, salt_buckets=32
    ).orderBy("o_orderpriority")
    assert [r.asDict() for r in base.collect()] == [
        r.asDict() for r in salted.collect()
    ]


def test_saturated_estimate_within_bound(spark):
    """k=64 saturates on sf0.001 custkeys; the estimate must land
    within 4x the theoretical rse of the exact distinct count."""
    orders = _orders(spark)
    k = 64
    sk = kmv_sketches(
        orders.select(F.lit("all").alias("g"), "o_custkey"), "g", "o_custkey", k=k
    ).collect()[0]
    exact = orders.select("o_custkey").distinct().count()
    assert sk["n_kmv"] == k
    rse = 1.0 / (k - 2) ** 0.5
    assert abs(sk["est_distinct"] - exact) / exact <= 4 * rse


def test_overlap_gate_green_at_sf0001(spark):
    """The registry gate's booleans all hold at sf0.001 (exact regime
    there — sf0.01/sf0.1 exercise saturation via the oracle runs)."""
    from movie_data_pipeline_spark.plans.sketches import kmv_overlap_check

    rows = kmv_overlap_check(spark, SF).collect()
    assert len(rows) == 10  # C(5 priorities, 2)
    for r in rows:
        assert r["distinct_in_bound"] and r["union_in_bound"] and r["inter_in_bound"], r


def test_overlap_pairs_shape(spark):
    orders = _orders(spark)
    sk = kmv_sketches(orders, "o_orderpriority", "o_custkey", k=128)
    out = kmv_overlap(sk, "o_orderpriority", k=128).collect()
    assert len(out) == 10
    for r in out:
        assert r["g_a"] < r["g_b"]
        assert 0.0 <= r["jaccard_est"] <= 1.0
        assert r["est_intersection"] <= r["est_union"] + 1e-9


def test_ams_f2_planted(spark):
    """Planted frequencies: key i appears i times (i=1..20), so
    F2 = sum i^2 = 2870; the estimate must land inside the 2-sigma
    mean-of-32 bound (0.5 * F2)."""
    from movie_data_pipeline_spark.operators.sketches import ams_f2_estimate

    rows = [(i,) for i in range(1, 21) for _ in range(i)]
    df = spark.createDataFrame(rows, ["k"])
    got = ams_f2_estimate(df, "k").collect()[0]
    exact = sum(i * i for i in range(1, 21))
    assert got["n_rows"] == len(rows)
    assert abs(got["est_f2"] - exact) <= 0.5 * exact


def test_ams_join_size_planted(spark):
    """A: keys 1..10 x3, B: keys 6..15 x2 -> exact join 5*3*2 = 30;
    estimate inside 2*sqrt(2*F2a*F2b/32)."""
    import math

    from movie_data_pipeline_spark.operators.sketches import (
        ams_join_size_estimate,
    )

    a = spark.createDataFrame([(i,) for i in range(1, 11) for _ in range(3)], ["k"])
    b = spark.createDataFrame([(i,) for i in range(6, 16) for _ in range(2)], ["k"])
    got = ams_join_size_estimate(a, "k", b, "k").collect()[0]
    assert (got["n_a"], got["n_b"]) == (30, 20)
    f2a, f2b = 10 * 9, 10 * 4
    bound = 2 * math.sqrt(2 * f2a * f2b / 32)
    assert abs(got["est_join_rows"] - 30) <= bound


def test_ams_sign_polynomials_exact():
    """The 4-wise sign machinery (r12 VERDICT item 6), pinned against
    an exact big-int reference: the deterministic coefficients are
    uniform-looking, degree-3, in-range; and the signed-safe 31-bit
    split field arithmetic used by BOTH hot paths equals
    (a3 x^3 + a2 x^2 + a1 x + a0) mod (2^61 - 1) computed with
    Python's unbounded ints, across boundary values and a hash-spread
    sample."""
    import numpy as np

    from movie_data_pipeline_spark.operators.sketches import (
        _P61,
        ams_coefficients,
    )

    coeffs = ams_coefficients(16)
    assert len(coeffs) == 16 == len({tuple(c) for c in coeffs})
    assert all(0 <= c < _P61 for quad in coeffs for c in quad)
    assert all(quad[3] != 0 for quad in coeffs)
    assert coeffs == ams_coefficients(16)  # deterministic

    # numpy mulmod (the mapInPandas inner loop, re-created here the
    # same way) vs big-int truth on adversarial operands
    def np_mulmod61(u, v):
        MASK31, MASK30 = (1 << 31) - 1, (1 << 30) - 1
        u1, u0 = u >> 31, u & MASK31
        v1, v0 = v >> 31, v & MASK31
        hi = 2 * u1 * v1
        mid = u1 * v0 + u0 * v1
        mid = (mid >> 30) + ((mid & MASK30) << 31)
        lo = u0 * v0
        lo = (lo >> 61) + (lo & _P61)
        w = hi + mid + lo
        w = (w >> 61) + (w & _P61)
        return np.where(w >= _P61, w - _P61, w)

    edge = [0, 1, 2, _P61 - 1, _P61 - 2, (1 << 31) - 1, 1 << 31,
            (1 << 60) + 12345, (1 << 45) - 7]
    rng_like = [(pow(6364136223846793005, i, _P61)) for i in range(1, 200)]
    vals = np.array(edge + rng_like, dtype=np.int64)
    got = np_mulmod61(vals[:, None], vals[None, :])
    want = (vals.astype(object)[:, None] * vals.astype(object)[None, :]) % _P61
    assert (got.astype(object) == want).all()


def test_ams_sketch_is_mergeable(spark):
    """The replica sums are plain SUMs, so sketching a union equals
    adding the two partial sketches; and the numpy polynomial hot path
    (ams_replica_sums) must agree BIT-FOR-BIT with the pure-Column
    derivation (ams_z_columns) AND with an exact big-int evaluation of
    the same degree-3 GF(2^61-1) block polynomials — proving both hot
    paths compute the DEFINED signs, not merely the same wrong
    thing. reps=96 with the default 32-bit blocks exercises 3 full
    blocks; a second check at block_bits=61 exercises the
    partial-width tail (61+35) and that the layout genuinely differs."""
    from movie_data_pipeline_spark.operators.sketches import (
        _P61,
        ams_coefficients,
        ams_replica_sums,
        ams_z_columns,
        with_ams_sign_blocks,
    )

    orders = _orders(spark)
    reps = 96
    half1 = orders.filter(F.col("o_orderkey") % 2 == 0)
    half2 = orders.filter(F.col("o_orderkey") % 2 == 1)

    def sums(df, **kw):
        row = ams_replica_sums(df, "o_custkey", reps, **kw).collect()[0]
        return row["sums"]

    s1, s2, s_all = sums(half1), sums(half2), sums(orders)
    assert [a + b for a, b in zip(s1, s2)] == s_all

    jvm_row = with_ams_sign_blocks(orders, "o_custkey", reps).agg(
        *[
            F.sum(z).alias(f"s{r}")
            for r, z in enumerate(ams_z_columns(reps))
        ]
    ).collect()[0]
    assert [jvm_row[f"s{r}"] for r in range(reps)] == s_all

    # exact reference: big-int Horner over the field on the JVM's own
    # x values, signs = block-value bits
    xs = [
        r["_x"]
        for r in orders.select(
            F.pmod(F.xxhash64("o_custkey"), F.lit(_P61)).alias("_x")
        ).collect()
    ]
    block_bits = 32
    coeffs = ams_coefficients((reps + block_bits - 1) // block_bits)
    want = [0.0] * reps
    for x in xs:
        for b, (a0, a1, a2, a3) in enumerate(coeffs):
            v = (((a3 * x + a2) * x + a1) * x + a0) % _P61
            for bit in range(min(block_bits, reps - block_bits * b)):
                want[block_bits * b + bit] += 1 - 2 * ((v >> bit) & 1)
    assert want == s_all

    # 61-bit blocks: partial tail width 35, different layout, and the
    # numpy path still tracks the Column twin exactly
    s61 = sums(orders, block_bits=61)
    assert s61 != s_all
    jvm61 = with_ams_sign_blocks(orders, "o_custkey", reps, 61).agg(
        *[
            F.sum(z).alias(f"s{r}")
            for r, z in enumerate(ams_z_columns(reps, 61))
        ]
    ).collect()[0]
    assert [jvm61[f"s{r}"] for r in range(reps)] == s61


def test_ams_empty_input_is_additive_identity(spark):
    """The distributed merge must return (0, zeros(reps)) on empty
    input, NOT (null, []) — an empty array would NULL-pad through
    zip_with and poison ams_join_size_estimate when one side has no
    rows (r12 review finding)."""
    from movie_data_pipeline_spark.operators.sketches import (
        ams_join_size_estimate,
        ams_replica_sums,
    )

    orders = _orders(spark)
    empty = orders.filter(F.lit(False))
    row = ams_replica_sums(empty, "o_custkey", 64).collect()[0]
    assert row["n_rows"] == 0
    assert row["sums"] == [0.0] * 64

    est = ams_join_size_estimate(empty, "o_custkey", orders, "o_custkey")
    r = est.collect()[0]
    assert (r["n_a"], r["est_join_rows"]) == (0, 0.0)  # not NULL


def test_cms_sketch_laws(spark):
    """Count-min (round 14): with a roomy width the sparse sketch has
    no colliding cells and estimates are EXACT; with a tiny width
    collisions only ever inflate (never underestimate); merging
    disjoint partials equals the single-pass sketch (per-cell
    addition closure law)."""
    from movie_data_pipeline_spark.operators.sketches import (
        cms_estimates,
        cms_sketch,
        merge_cms_partials,
    )

    rows = [(k,) for k, c in [("a", 5), ("b", 3), ("c", 1)] for _ in range(c)]
    df = spark.createDataFrame(rows, ["k"])
    keys = spark.createDataFrame([("a",), ("b",), ("c",), ("zzz",)], ["k"])

    sk = cms_sketch(df, "k", width=4096, depth=5)
    got = {
        r.k: r.est for r in cms_estimates(sk, keys, "k", 4096, 5).collect()
    }
    assert got == {"a": 5, "b": 3, "c": 1, "zzz": 0}

    tiny = cms_sketch(df, "k", width=2, depth=3)
    est = {
        r.k: r.est for r in cms_estimates(tiny, keys, "k", 2, 3).collect()
    }
    true = {"a": 5, "b": 3, "c": 1, "zzz": 0}
    assert all(est[k] >= true[k] for k in true)
    assert sum(r.cnt for r in tiny.collect()) == 3 * 9  # depth x rows

    half1 = cms_sketch(df.filter(F.col("k") == "a"), "k", width=64, depth=4)
    half2 = cms_sketch(df.filter(F.col("k") != "a"), "k", width=64, depth=4)
    merged = merge_cms_partials(half1.unionByName(half2))
    want = sorted(tuple(r) for r in cms_sketch(df, "k", 64, 4).collect())
    assert sorted(tuple(r) for r in merged.collect()) == want
