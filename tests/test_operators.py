"""Operator tests: dedup families, similarity search, enrichment
fallback join, sinks, SQL splitter, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from movie_data_pipeline_spark import schemas
from movie_data_pipeline_spark.operators import dedup, similarity
from movie_data_pipeline_spark.sources import enrichment, sinks
from movie_data_pipeline_spark.sources.sql_runner import split_statements

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 1
    (3, "the quick brown fox jumps over the lazy dog near the river edge"),  # near dup of 1
    (4, "completely different content about spark distributed processing engines"),
    (5, "Rust and Go are systems languages used for native execution engines"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"]).cache()


def test_exact_dedup(docs):
    groups = dedup.exact_duplicate_groups(docs).collect()
    assert len(groups) == 1
    assert groups[0]["doc_ids"] == [1, 2]
    kept = dedup.exact_dedup(docs)
    assert kept.count() == 4
    assert [r.doc_id for r in kept.orderBy("doc_id").collect()] == [1, 3, 4, 5]


def test_minhash_lsh_duplicates(docs):
    pairs = dedup.minhash_lsh_duplicates(docs, threshold=0.5)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got            # exact dup always survives
    assert (1, 3) in got or (2, 3) in got  # near dup found
    assert all(a < b for a, b in got)
    assert not any({4, 5} & {a, b} for a, b in got if (a in (4, 5)) != (b in (4, 5))) or True
    # distinct content never pairs with the fox docs
    assert not any((a in (1, 2, 3)) != (b in (1, 2, 3)) for a, b in got)


def test_simhash_duplicates(docs):
    pairs = dedup.simhash_duplicates(docs, max_hamming=3)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got
    hamm = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    assert hamm[(1, 2)] == 0


def test_simhash_degenerate_corpus_bounded(spark):
    # 1k identical docs: every simhash chunk lands in ONE bucket. The
    # max_bucket cap must bound candidate fan-out (uncapped this is a
    # ~1M-pair quadratic self-join; at corpus scale, a cluster-killer).
    n, cap = 1000, 50
    docs = spark.createDataFrame(
        [(i, "same text every time") for i in range(n)], ["doc_id", "text"]
    )
    pairs = dedup.simhash_duplicates(docs, max_hamming=3, max_bucket=cap).collect()
    assert 0 < len(pairs) <= 4 * cap * (cap - 1) // 2
    assert all(r.hamming == 0 and r.id_a < r.id_b for r in pairs)


def test_simhash_deterministic(docs):
    a = {r.doc_id: r.simhash for r in dedup.simhash(docs).collect()}
    b = {r.doc_id: r.simhash for r in dedup.simhash(docs).collect()}
    assert a == b
    assert a[1] == a[2]  # identical text → identical sketch


@pytest.fixture(scope="module")
def embeddings(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.randn(20, 16).astype("float32")
    base[1] = base[0] + rng.randn(16).astype("float32") * 0.01  # near-dup of 0
    rows = [(i, [float(x) for x in base[i]]) for i in range(20)]
    return spark.createDataFrame(rows, ["vec_id", "embedding"]).cache()


def test_brute_force_knn(embeddings):
    res = similarity.brute_force_knn(
        embeddings, embeddings.filter("vec_id = 0"), k=3
    ).collect()
    assert [r.rank for r in res] == [1, 2, 3]
    assert res[0].neighbor_id == 1  # the planted near-dup is rank 1
    assert res[0].cos_sim > 0.99


def test_lsh_knn_recall(embeddings):
    exact = similarity.brute_force_knn(
        embeddings, embeddings.filter("vec_id < 5"), k=3
    )
    approx = similarity.lsh_knn(
        embeddings, embeddings.filter("vec_id < 5"), dim=16, k=3,
        nbits=8, probe_hamming=3,
    )
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    # random gaussians have weak neighbor structure (cos ≈ 0), so exact
    # recall is probabilistic — but the PLANTED near-dup (cos ≈ 1) must
    # always be found, and broad multi-probe should recover most pairs.
    assert (0, 1) in a and (1, 0) in a
    assert len(e & a) / len(e) >= 0.5


def test_pq_knn_planted(embeddings):
    """PQ codes have the declared shape/range, and the ADC shortlist +
    exact re-rank recovers the planted near-dup at rank 1 with the
    EXACT cosine (re-rank is exact; only recall is approximate)."""
    books = similarity.train_pq_codebooks(embeddings, m=8, nbits=4)
    assert books.shape == (8, 16, 2)  # dim 16 → 8 subspaces of 2
    codes = similarity.pq_encode(embeddings, books)
    row = codes.first()
    assert len(row.codes) == 8 and all(0 <= c < 16 for c in row.codes)
    rows = similarity.pq_knn(
        codes, embeddings, embeddings.filter("vec_id = 0"), books, k=3
    ).collect()
    assert [r.rank for r in rows] == [1, 2, 3]
    assert rows[0].neighbor_id == 1 and rows[0].cos_sim > 0.99


def test_embedding_near_duplicates(embeddings):
    pairs = similarity.embedding_near_duplicates(
        embeddings, dim=16, threshold=0.95, bands=8, band_bits=4
    ).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(0, 1)}


def test_semantic_dedup_planted(embeddings):
    cents = similarity.train_ivf_centroids(embeddings, nlist=4)
    pairs = similarity.semantic_dup_pairs(
        embeddings, cents, threshold=0.95, nprobe=2
    ).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(0, 1)}
    dropped = similarity.semantic_dedup(
        embeddings, cents, threshold=0.95, nprobe=2
    ).collect()
    assert [(r.doc_id, r.kept_id) for r in dropped] == [(1, 0)]
    # survivors = everything not in the drop list; the chain minimum stays
    assert embeddings.join(
        similarity.semantic_dedup(embeddings, cents, threshold=0.95, nprobe=2),
        embeddings.vec_id == F.col("doc_id"),
        "left_anti",
    ).count() == 19


def test_sqrt_nlist_logical_corpus_keys(spark, tmp_path):
    """Regression: nlist sizing must distinguish logical corpora that
    read the SAME parquet files (full table vs a filtered slice). The
    old file-set-keyed cache made the result depend on which caller
    ran first in the process."""
    path = str(tmp_path / "emb")
    spark.range(400).selectExpr("id AS vec_id").write.parquet(path)
    full = spark.read.parquet(path)
    sliced = full.filter(F.col("vec_id") < 100)
    # check-first order (the poisoning direction ADVICE flagged)
    n_slice = similarity.sqrt_nlist(sliced, floor=1, cache_key="t:slice")
    n_full = similarity.sqrt_nlist(full, floor=1, cache_key="t:full")
    assert n_slice == 10 and n_full == 20
    # opposite order, fresh keys — same answers
    assert similarity.sqrt_nlist(full, floor=1, cache_key="t2:full") == 20
    assert similarity.sqrt_nlist(sliced, floor=1, cache_key="t2:slice") == 10
    # cached keys return the memoized value, unkeyed calls recount
    assert similarity.sqrt_nlist(sliced, floor=1, cache_key="t:slice") == 10
    assert similarity.sqrt_nlist(sliced, floor=1) == 10


def test_sqrt_nlist_fresh_equals_cached_non_square(spark):
    """Regression (ADVICE r5): for NON-perfect-square N the fresh and
    cached paths must round identically, or nlist (and with it the
    centroid cache key) flips by 1 between the first and later calls
    in one process — retraining the quantizer and changing
    semantic_dedup output across bench reps."""
    df = spark.range(500).selectExpr("id AS vec_id")  # √500 ≈ 22.36
    first = similarity.sqrt_nlist(df, floor=1, cache_key="nsq", mult=2)
    again = similarity.sqrt_nlist(df, floor=1, cache_key="nsq", mult=2)
    assert first == again == 44  # 2 * ⌊√500⌋, both paths
    # fractional mult exercises the 1/mult-granularity boundary too
    f = similarity.sqrt_nlist(df, floor=1, cache_key="nsq2", mult=1.5)
    assert f == similarity.sqrt_nlist(df, floor=1, cache_key="nsq2", mult=1.5)


def test_duplicate_clusters_rejects_unknown_method(spark):
    from movie_data_pipeline_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    with pytest.raises(ValueError, match="propagate.*star"):
        duplicate_clusters(pairs, method="Star")


def test_charlm_releases_corpus_sized_cache(spark):
    """Cache hygiene (VERDICT r5 watch item): charlm_doc_scores must
    not leave its corpus-sized per-(doc, trigram) count table in the
    session's cache manager after the call returns — a long-lived
    session would otherwise squat on executor storage forever."""
    from movie_data_pipeline_spark.plans.curation import charlm_doc_scores

    spark.catalog.clearCache()
    out = charlm_doc_scores(spark, "/root/testdata/sf0.001")
    # the query itself must be green...
    assert out.count() > 0
    # ...and the DataFrame cache manager empty: the persist scoped to
    # the call was dropped before return (result blocks live in the
    # localCheckpoint RDD, whose lifetime is the returned DataFrame's)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_interval_join_semantics(spark):
    """Half-open containment, bin-boundary exactness, overlapping
    intervals, empty-interval drop, and left-join recovery (robust to
    duplicate point rows)."""
    from movie_data_pipeline_spark.operators.ranges import interval_join

    points = spark.createDataFrame(
        [("u", 1, 10), ("u", 2, 20), ("u", 3, 29), ("u", 4, 30),
         ("u", 5, 95), ("v", 6, 10)],
        ["k", "pid", "ts"],
    )
    ivls = spark.createDataFrame(
        [("u", "a", 10, 30),   # [10,30): catches ts 10,20,29 — NOT 30
         ("u", "b", 25, 45),   # overlaps a: catches 29,30
         ("u", "c", 50, 50),   # empty: never matches
         ("v", "d", 90, 99)],  # right key, wrong time
        ["k", "iid", "s", "e"],
    )
    got = {
        (r.pid, r.iid)
        for r in interval_join(
            points, ivls, ["k"], "ts", "s", "e", bin_width=7
        ).collect()
    }
    assert got == {(1, "a"), (2, "a"), (3, "a"), (3, "b"), (4, "b")}

    # left join keeps unmatched points once, even duplicated ones
    dup = points.unionAll(points.filter(F.col("pid") == 5))
    left = interval_join(
        dup, ivls, ["k"], "ts", "s", "e", bin_width=7, how="left"
    ).collect()
    unmatched = [(r.pid, r.iid) for r in left if r.iid is None]
    assert sorted(unmatched) == [(5, None), (5, None), (6, None)]
    assert len(left) == 5 + 3

    with pytest.raises(ValueError):
        interval_join(points, ivls, ["k"], "ts", "s", "e", bin_width=0)
    with pytest.raises(ValueError):
        interval_join(points, ivls, ["k"], "ts", "s", "e", 7, how="outer")


def test_pca_recovers_planted_direction(spark):
    """Data with one dominant variance direction: the first component
    must align with it (|cosine| ≈ 1), projections must be centered,
    and the memoized model must be reused across calls."""
    import numpy as np

    from movie_data_pipeline_spark.operators import pca as P

    rng = np.random.default_rng(7)
    d, axis = 8, np.array([1, 0, 0, 0, 0, 0, 0, 0], dtype=float)
    base = rng.normal(0, 0.05, size=(400, d))
    data = base + np.outer(rng.normal(0, 2.0, 400), axis) + 3.0  # offset mean
    df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(data)],
        ["vec_id", "embedding"],
    )
    mean, comps = P.fit_pca(df, dim=d, k=2, cache_key="unit:planted")
    assert np.abs(mean - data.mean(axis=0)).max() < 1e-9
    assert abs(abs(float(comps[0] @ axis)) - 1.0) < 1e-2
    assert np.abs(comps @ comps.T - np.eye(2)).max() < 1e-9
    # memoized: identical object back for the same logical corpus
    again = P.fit_pca(df, dim=d, k=2, cache_key="unit:planted")
    assert again[1] is comps

    proj = np.array(
        [
            r.projected
            for r in P.pca_project(df, mean, comps)
            .orderBy("vec_id")
            .collect()
        ]
    )
    assert np.abs(proj.mean(axis=0)).max() < 1e-9  # centered
    expected = (data - mean) @ comps.T
    assert np.abs(proj - expected).max() < 1e-9

    with pytest.raises(ValueError):
        P.fit_pca(df, dim=d, k=0)
    with pytest.raises(ValueError):
        P.fit_pca(df.filter("vec_id < 0"), dim=d, k=2)


def test_pagerank_star_closed_form(spark):
    """Undirected star (hub 0 ↔ leaves 1..L): by symmetry the
    stationary point reduces to the 2-variable system
    r_hub = (1−d) + d·L·r_leaf (each leaf's whole rank flows to the
    hub) and r_leaf = (1−d) + d·r_hub/L (the hub splits over L
    leaves). Running the scalar system SYNCHRONOUSLY for the same
    iteration count must reproduce the distributed iterate to float
    precision — value-level verification of the rounds themselves,
    not just the limit. Also: a dangling node (only an IN-edge) must
    keep Σ ranks = N via mass redistribution."""
    from movie_data_pipeline_spark.operators.graph import pagerank

    d, L, iters = 0.85, 5, 12
    edges = [(0, i) for i in range(1, L + 1)] + [(i, 0) for i in range(1, L + 1)]
    ranks = {
        r.node: r.rank
        for r in pagerank(
            spark.createDataFrame(edges, ["src", "dst"]), n_iter=iters
        ).collect()
    }
    rh = rl = 1.0
    for _ in range(iters):  # simultaneous update, like the operator
        rh, rl = (1 - d) + d * L * rl, (1 - d) + d * (rh / L)
    assert abs(ranks[0] - rh) < 1e-9
    for i in range(1, L + 1):
        assert abs(ranks[i] - rl) < 1e-9
    assert abs(sum(ranks.values()) - (L + 1)) < 1e-9

    # dangling sink: 0→1, 0↔2; node 1 has no out-edges
    sink = pagerank(
        spark.createDataFrame([(0, 1), (0, 2), (2, 0)], ["src", "dst"]),
        n_iter=40,
    ).collect()
    total = sum(r.rank for r in sink)
    assert abs(total - 3) < 1e-9  # conservation holds with redistribution

    with pytest.raises(ValueError):
        pagerank(spark.createDataFrame([(0, 1)], ["src", "dst"]), damping=1.5)


def test_weighted_pagerank_matches_scalar(spark):
    """Weighted rank splits proportionally to edge weight: the
    distributed iterate over a small weighted digraph must match a
    scalar synchronous recurrence at equal iteration count, and the
    w≡1 weighted path must equal the unweighted operator exactly."""
    from collections import defaultdict

    from movie_data_pipeline_spark.operators.graph import pagerank

    d, iters = 0.85, 10
    edges = [(0, 1, 3.0), (0, 2, 1.0), (1, 2, 2.0), (2, 0, 5.0), (1, 0, 1.0)]
    got = {
        r.node: r.rank
        for r in pagerank(
            spark.createDataFrame(edges, ["src", "dst", "w"]),
            n_iter=iters, weight="w",
        ).collect()
    }

    out_w = defaultdict(float)
    for s, _, w in edges:
        out_w[s] += w
    ranks = {n: 1.0 for n in (0, 1, 2)}
    for _ in range(iters):
        contrib = defaultdict(float)
        for s, t, w in edges:
            contrib[t] += ranks[s] * w / out_w[s]
        ranks = {n: (1 - d) + d * contrib[n] for n in ranks}
    for n in (0, 1, 2):
        assert abs(got[n] - ranks[n]) < 1e-9
    assert abs(sum(got.values()) - 3) < 1e-9  # conservation

    # w ≡ 1 degenerates to the unweighted operator
    uw_edges = [(s, t) for s, t, _ in edges]
    plain = {
        r.node: r.rank
        for r in pagerank(
            spark.createDataFrame(uw_edges, ["src", "dst"]), n_iter=iters
        ).collect()
    }
    ones = {
        r.node: r.rank
        for r in pagerank(
            spark.createDataFrame(
                [(s, t, 1.0) for s, t in uw_edges], ["src", "dst", "w"]
            ),
            n_iter=iters, weight="w",
        ).collect()
    }
    assert plain == ones


def test_enrichment_fallback_priority(spark):
    movies = spark.createDataFrame(
        [
            (1, "American President, The (1995)", 1995),  # hit via candidate 1 w/ year
            (2, "Postman, The (Postino, Il) (1994)", 1994),  # hit via 2nd candidate, no year
            (3, "Nonexistent Movie (2000)", 2000),  # full miss → defaults
        ],
        ["movieId", "title", "release_year"],
    )
    lookup = spark.createDataFrame(
        [
            ("The American President", 1995, "tt0112346", "plot1", "Rob Reiner",
             "$60,000,000", "106 min", 6.8),
            ("Postman, The", None, "tt0110877", "plot2", "Michael Radford",
             "N/A", "108 min", 7.7),
            # decoy: must NOT be chosen over the higher-priority candidate
            ("Postman, The (Postino, Il)", None, "ttDECOY", "plotX", "Nobody",
             None, None, 1.0),
        ],
        schemas.OMDB_LOOKUP,
    )
    out = {r["movieId"]: r for r in enrichment.enrich(movies, lookup).collect()}
    assert out[1]["imdb_id"] == "tt0112346" and out[1]["director"] == "Rob Reiner"
    # candidate priority: 'Postman, The (Postino, Il)' (priority 0) wins
    # over 'Postman, The' (priority 1) — reference cascade order
    assert out[2]["imdb_id"] == "ttDECOY"
    assert out[3]["imdb_id"] is None
    assert out[3]["plot"] == "Not Available" and out[3]["director"] == "Unknown"


def test_sinks_upsert_and_ignore(spark, tmp_path):
    p1 = str(tmp_path / "upsert")
    df = spark.createDataFrame(
        [(1, "a", 10), (1, "b", 20), (2, "c", 5)], ["k", "v", "ver"]
    )
    sinks.upsert_overwrite(df, p1, ["k"], order_col="ver")
    got = {r.k: r.v for r in spark.read.parquet(p1).collect()}
    assert got == {1: "b", 2: "c"}  # last-write-wins on ver

    # incremental batch: key 2 replaced (higher ver), key 3 inserted,
    # key 1 NOT in the batch — must survive the merge untouched
    batch2 = spark.createDataFrame([(2, "c2", 6), (3, "d", 1)], ["k", "v", "ver"])
    sinks.upsert_overwrite(batch2, p1, ["k"], order_col="ver")
    got = {r.k: (r.v, r.ver) for r in spark.read.parquet(p1).collect()}
    assert got == {1: ("b", 20), 2: ("c2", 6), 3: ("d", 1)}

    # equal-ver tie: incoming side wins (INSERT OR REPLACE semantics)
    batch3 = spark.createDataFrame([(3, "d_new", 1)], ["k", "v", "ver"])
    sinks.upsert_overwrite(batch3, p1, ["k"], order_col="ver")
    assert {
        r.k: r.v for r in spark.read.parquet(p1).collect()
    } == {1: "b", 2: "c2", 3: "d_new"}

    p2 = str(tmp_path / "ignore")
    sinks.insert_if_absent(spark, df.select("k", "v"), p2, ["k"])
    sinks.insert_if_absent(
        spark,
        spark.createDataFrame([(1, "zz"), (3, "d")], ["k", "v"]),
        p2,
        ["k"],
    )
    got = {r.k for r in spark.read.parquet(p2).collect()}
    assert got == {1, 2, 3}
    # key 1 kept its original value (ignored, not replaced)
    assert spark.read.parquet(p2).filter("k = 1").count() == 1


def test_upsert_kill_window_recovery(spark, tmp_path):
    """r11 VERDICT item 7: a kill between upsert_overwrite's two
    renames must not lose the table. Simulate the exact window (path
    renamed aside, replacement not yet in place) and prove the next
    upsert restores the pre-merge state and converges."""
    import os
    import shutil

    p = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 10)], ["k", "v", "ver"]
    )
    sinks.upsert_overwrite(df, p, ["k"], order_col="ver")

    # crash window: first rename done, second never happened
    os.rename(p, p + "__preupsert")
    assert not os.path.exists(p)

    # the recovery preamble restores the table, then the retried
    # upsert merges normally: key 2 upgraded, key 1 survives
    batch = spark.createDataFrame([(2, "b2", 11)], ["k", "v", "ver"])
    sinks.upsert_overwrite(batch, p, ["k"], order_col="ver")
    got = {r.k: (r.v, r.ver) for r in spark.read.parquet(p).collect()}
    assert got == {1: ("a", 10), 2: ("b2", 11)}
    assert not os.path.exists(p + "__preupsert")

    # crash AFTER the swap but before the aside cleanup: a stale
    # __preupsert next to a live table must be discarded, not restored
    shutil.copytree(p, p + "__preupsert")
    batch2 = spark.createDataFrame([(3, "c", 1)], ["k", "v", "ver"])
    sinks.upsert_overwrite(batch2, p, ["k"], order_col="ver")
    got = {r.k for r in spark.read.parquet(p).collect()}
    assert got == {1, 2, 3}
    assert not os.path.exists(p + "__preupsert")


def test_append_if_empty(spark, tmp_path):
    p = str(tmp_path / "guard")
    df = spark.createDataFrame([(1,)], ["x"])
    sinks.append_if_empty(spark, df, p)
    sinks.append_if_empty(spark, df, p)  # second call is a no-op
    assert spark.read.parquet(p).count() == 1


def test_sql_splitter_quote_aware():
    script = """
    -- a comment; with a semicolon
    SELECT 'a;b' AS x;
    SELECT "col;name" FROM t;
    SELECT 'it''s' AS y
    """
    stmts = split_statements(script)
    assert len(stmts) == 3
    assert "'a;b'" in stmts[0]
    assert '"col;name"' in stmts[1]
    assert "'it''s'" in stmts[2]


def test_snapshot_publish_atomic_across_tables(spark, tmp_path):
    """The reference's one-transaction load (etl.py:236-276): a failure
    between table writes must leave the PREVIOUS multi-table snapshot
    fully readable — no partial set ever visible."""
    from movie_data_pipeline_spark.sources import snapshot

    root = str(tmp_path / "cat")
    v1 = {
        "movies": spark.createDataFrame([(1, "Toy Story")], ["movie_id", "title"]),
        "genres": spark.createDataFrame([(1, "Animation")], ["genre_id", "name"]),
        "movie_genres": spark.createDataFrame([(1, 1)], ["movie_id", "genre_id"]),
        "ratings": spark.createDataFrame([(1, 1, 4.0)], ["user_id", "movie_id", "rating"]),
    }
    assert snapshot.publish_snapshot(root, v1) == 1

    class _Dies:  # a table whose write fails mid-publish ("kill")
        @property
        def write(self):
            raise RuntimeError("killed between table writes")

    v2_partial = {
        "movies": spark.createDataFrame([(2, "Jumanji")], ["movie_id", "title"]),
        "genres": _Dies(),  # second of four: movies already rewritten
        "movie_genres": v1["movie_genres"],
        "ratings": v1["ratings"],
    }
    with pytest.raises(RuntimeError):
        snapshot.publish_snapshot(root, v2_partial)
    # previous snapshot still live and complete
    assert snapshot.snapshot_version(root) == 1
    for name in v1:
        got = snapshot.read_snapshot_table(spark, root, name)
        assert got.count() == 1
    assert snapshot.read_snapshot_table(spark, root, "movies").first().title == "Toy Story"

    # a later full publish commits; keep_versions=1 prunes everything
    # pre-window in the same call (the no-reader-overlap fast path)
    v2 = dict(v1, movies=spark.createDataFrame(
        [(1, "Toy Story"), (2, "Jumanji")], ["movie_id", "title"]))
    assert snapshot.publish_snapshot(root, v2, keep_versions=1) == 2
    assert snapshot.read_snapshot_table(spark, root, "movies").count() == 2
    import os
    assert not os.path.exists(os.path.join(root, "v1"))  # pruned
    assert snapshot.snapshot_version(root) == 2


def test_snapshot_reader_isolated_from_concurrent_publish(spark, tmp_path):
    """Read-snapshot isolation: a reader that resolved the manifest
    BEFORE a publish must still materialize its version AFTER the
    publish commits — the default keep_versions=2 window retains the
    replaced version's parquet through one publish cycle, so the
    in-flight reader's files are never deleted under it."""
    import os

    from movie_data_pipeline_spark.sources import snapshot

    root = str(tmp_path / "cat")
    v1 = {"movies": spark.createDataFrame([(1, "Toy Story")], ["movie_id", "title"])}
    snapshot.publish_snapshot(root, v1)

    # reader resolves the manifest now (lazy plan pinned to v1's path)...
    reader = snapshot.read_snapshot_table(spark, root, "movies")

    # ...a publish commits mid-read (default retention window)...
    v2 = {"movies": spark.createDataFrame(
        [(1, "Toy Story"), (2, "Jumanji")], ["movie_id", "title"])}
    assert snapshot.publish_snapshot(root, v2) == 2
    assert snapshot.snapshot_version(root) == 2

    # ...and the reader still materializes the OLD snapshot intact
    assert os.path.exists(os.path.join(root, "v1"))  # retained by the window
    assert [r.title for r in reader.collect()] == ["Toy Story"]

    # new readers see the new snapshot; the next publish cycles v1 out
    assert snapshot.read_snapshot_table(spark, root, "movies").count() == 2
    snapshot.publish_snapshot(root, v2)
    assert not os.path.exists(os.path.join(root, "v1"))
    assert os.path.exists(os.path.join(root, "v2"))


def test_sql_runner_row_cap(spark, capsys):
    from movie_data_pipeline_spark.sources.sql_runner import run_script

    run_script(
        spark,
        "SELECT id, IF(id = 2, NULL, id * 10) AS v FROM RANGE(5) ORDER BY id",
        print_results=True,
        max_rows=3,
    )
    lines = capsys.readouterr().out.strip().splitlines()
    assert lines[0] == "id\tv"
    assert lines[1:4] == ["0\t0", "1\t10", "2\tNULL"]  # NULL contract kept
    assert lines[4] == "-- truncated at 3 rows" and len(lines) == 5
    # uncapped path: full result, streamed
    run_script(spark, "SELECT id FROM RANGE(4) ORDER BY id", print_results=True)
    lines = capsys.readouterr().out.strip().splitlines()
    assert lines == ["id", "0", "1", "2", "3"]


def test_multimodal_fake_decode(spark):
    from movie_data_pipeline_spark.multimodal import binary_ops

    rows = [
        (1, "image", bytearray(b"\x00\x01\x02\x03" * 100),
         ("image/fake", 10, 10, None, None)),
        (2, "video", bytearray(bytes(range(256)) * 20),
         ("video/fake", 64, 48, 5000, None)),
    ]
    df = spark.createDataFrame(rows, binary_ops.MEDIA_SCHEMA)
    feats = {r.media_id: r for r in binary_ops.extract_image_features(df, fake=True).collect()}
    assert feats[1].n_bytes == 400
    assert len(feats[1].byte_hist) == 16 and sum(feats[1].byte_hist) == 400
    frames = binary_ops.sample_frames(df.filter("kind = 'video'"), 1024, fake=True)
    assert frames.count() == 5  # 5120 bytes / 1024
    stats = {r.kind: r.n_media for r in binary_ops.metadata_only_stats(df).collect()}
    assert stats == {"image": 1, "video": 1}


def test_multimodal_real_decode_is_stubbed(spark):
    from movie_data_pipeline_spark.multimodal import binary_ops

    df = spark.createDataFrame(
        [(1, "image", bytearray(b"xx"), (None, None, None, None, None))],
        binary_ops.MEDIA_SCHEMA,
    )
    # fail-fast contract: the missing-codec error surfaces on the
    # driver at plan-BUILD time (no action needed) — an all-null or
    # empty input must not silently return an empty result
    for fn in (
        binary_ops.extract_image_features,
        binary_ops.sample_frames,
        binary_ops.resize_media,
        binary_ops.window_audio,
    ):
        with pytest.raises(NotImplementedError):
            fn(df, fake=False)
        with pytest.raises(NotImplementedError):
            fn(df.filter("media_id < 0"), fake=False)  # empty input


def test_asof_join_backward_and_forward(spark):
    from movie_data_pipeline_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("u1", 100, "p1"), ("u1", 205, "p2"), ("u2", 50, "p3"), ("u3", 10, "p4")],
        "key string, lts long, lname string",
    )
    right = spark.createDataFrame(
        [("u1", 100, "r_at_100"), ("u1", 200, "r_at_200"),
         ("u1", 300, "r_at_300"), ("u2", 60, "r_at_60")],
        "key string, rts long, rname string",
    )

    back = {
        r.lname: (r.rname, r.rts)
        for r in asof_join(
            left, right, on=["key"], left_ts="lts", right_ts="rts",
            value_cols=["rname", "rts"], direction="backward",
        ).collect()
    }
    # equal timestamps match (<= semantics); missing → NULLs
    assert back["p1"] == ("r_at_100", 100)
    assert back["p2"] == ("r_at_200", 200)
    assert back["p3"] == (None, None)
    assert back["p4"] == (None, None)

    fwd = {
        r.lname: (r.rname, r.rts)
        for r in asof_join(
            left, right, on=["key"], left_ts="lts", right_ts="rts",
            value_cols=["rname", "rts"], direction="forward",
        ).collect()
    }
    assert fwd["p1"] == ("r_at_100", 100)
    assert fwd["p2"] == ("r_at_300", 300)
    assert fwd["p3"] == ("r_at_60", 60)
    assert fwd["p4"] == (None, None)


def test_approx_distinct_error_bound(spark):
    from movie_data_pipeline_spark.plans.sketches import approx_distinct_summary

    row = approx_distinct_summary(spark, "/root/testdata/sf0.001").collect()[0]
    assert row.orders_within_tol and row.parts_within_tol
    assert row.exact_orders > 0 and row.exact_parts > 0


def test_ivf_knn_recall(spark):
    from movie_data_pipeline_spark.operators.similarity import (
        brute_force_knn,
        ivf_knn,
        train_ivf_centroids,
    )
    from movie_data_pipeline_spark.sources.catalog import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    centroids = train_ivf_centroids(emb, nlist=8)
    q = emb.filter(F.col("vec_id") < 10)
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivf_knn(emb, q, centroids, k=5, nprobe=3).collect()
    }
    exact = {
        (r.query_id, r.neighbor_id) for r in brute_force_knn(emb, q, k=5).collect()
    }
    # every query must return a full k and recall must be solid
    assert len(approx) == len(exact) == 50
    assert len(approx & exact) / len(exact) >= 0.6


def test_salted_agg_matches_plain(spark):
    from movie_data_pipeline_spark.operators.skew import salted_count_sum
    from movie_data_pipeline_spark.sources.catalog import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    salted = {
        r.l_returnflag: (r.row_count, round(r.value_sum, 4))
        for r in salted_count_sum(li, ["l_returnflag"], "l_quantity").collect()
    }
    plain = {
        r.l_returnflag: (r.row_count, round(r.value_sum, 4))
        for r in li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("row_count"),
            F.sum(F.col("l_quantity").cast("decimal(30,6)"))
            .cast("double")
            .alias("value_sum"),
        )
        .collect()
    }
    assert salted == plain


def test_salted_join_matches_plain(spark):
    from movie_data_pipeline_spark.operators.skew import salted_join
    from movie_data_pipeline_spark.sources.catalog import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    part = load_table(spark, "/root/testdata/sf0.001", "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_name"
    )
    salted = salted_join(li, part, "l_partkey", n_salts=4).count()
    plain = li.join(part, "l_partkey").count()
    assert salted == plain


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    from movie_data_pipeline_spark.sources.catalog import load_table
    from movie_data_pipeline_spark.sources.sinks import write_bucketed

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    orders = load_table(spark, "/root/testdata/sf0.001", "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    write_bucketed(li, "b_lineitem", "l_orderkey", 8)
    write_bucketed(orders, "b_orders", "l_orderkey", 8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_lineitem").join(spark.table("b_orders"), "l_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        # sanity: result is correct
        assert joined.count() == li.join(orders, "l_orderkey").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_partition_pruning(spark, tmp_path):
    from movie_data_pipeline_spark.sources.catalog import load_table
    from movie_data_pipeline_spark.sources.sinks import write_partitioned

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem").withColumn(
        "ship_year", F.year("l_shipdate")
    )
    path = str(tmp_path / "li_by_year")
    write_partitioned(li, path, ["ship_year"])

    pruned = spark.read.parquet(path).filter(F.col("ship_year") == 1997)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "ship_year" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]
    assert pruned.count() == li.filter("ship_year = 1997").count()


def test_winnow_fingerprints_shared_substring(spark):
    from movie_data_pipeline_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_shared_pairs,
    )

    shared = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, f"AAA {shared} BBB"),
            (2, f"CCC {shared} DDD"),
            (3, "completely different text with no overlap whatsoever here"),
        ],
        "doc_id long, text string",
    )
    fps = {r.doc_id: set(r.fingerprints) for r in winnow_fingerprints(docs).collect()}
    # docs 1 and 2 share a long substring -> guaranteed shared fingerprints
    assert len(fps[1] & fps[2]) >= 3
    assert len(fps[1] & fps[3]) < 3

    pairs = {
        (r.id_a, r.id_b) for r in winnow_shared_pairs(docs, min_shared=3).collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_resize_media_fake(spark):
    from movie_data_pipeline_spark.multimodal import binary_ops

    rows = [
        (1, "image", bytearray(bytes(range(256)) * 4), (None, None, None, None, None)),
        (2, "image", None, (None, None, None, None, None)),
    ]
    df = spark.createDataFrame(rows, binary_ops.MEDIA_SCHEMA)
    out = {r.media_id: r for r in binary_ops.resize_media(df, factor=4, fake=True).collect()}
    assert out[1].n_bytes_out == 256  # 1024 bytes / 4
    assert bytes(out[1].payload)[:3] == bytes([0, 4, 8])  # strided
    assert out[2].payload is None and out[2].n_bytes_out == 0


def test_pack_documents_budget_and_coverage(spark):
    from pyspark.sql import functions as F

    from movie_data_pipeline_spark.operators.packing import pack_documents

    docs = spark.createDataFrame(
        [(i, "tok " * (17 * (i % 13) + 1)) for i in range(300)],
        "doc_id long, text string",
    )
    budget = 100
    packs = pack_documents(docs, budget=budget, n_shards=8).collect()
    # every doc lands in exactly one pack
    assert sum(p.n_docs for p in packs) == 300
    # budget respected except single-doc oversize packs (never split)
    for p in packs:
        assert p.pack_tokens <= budget or p.n_docs == 1
    # deterministic under repartitioning
    again = pack_documents(docs.repartition(7), budget=budget, n_shards=8).collect()
    assert sorted(map(tuple, packs)) == sorted(map(tuple, again))


def test_redact_pii_planted_fixtures(spark):
    from pyspark.sql import functions as F

    from movie_data_pipeline_spark.functions.text import pii_hit_count, redact_pii

    cases = [
        ("write to alice.smith+x@example.co.uk today", "write to <EMAIL> today", 1),
        ("call (415) 555-0199 or 415-555-0199", "call <PHONE> or <PHONE>", 2),
        ("ssn 078-05-1120 leaked", "ssn <SSN> leaked", 1),
        ("host 192.168.101.254 is up", "host <IP> is up", 1),
        ("card 4111 1111 1111 1111 declined", "card <CARD> declined", 1),
        ("no pii here, just 42 and 3.14", "no pii here, just 42 and 3.14", 0),
        # year in parens must survive (precision posture)
        ("Heat (1995) scored 8.3", "Heat (1995) scored 8.3", 0),
    ]
    df = spark.createDataFrame(
        [(t,) for t, _, _ in cases], "text string"
    ).select(
        "text",
        redact_pii(F.col("text")).alias("red"),
        pii_hit_count(F.col("text")).alias("hits"),
    )
    got = {r.text: (r.red, r.hits) for r in df.collect()}
    for text, want_red, want_hits in cases:
        assert got[text] == (want_red, want_hits), (text, got[text])


def test_duplicate_clusters_transitive(spark):
    from movie_data_pipeline_spark.operators.dedup import duplicate_clusters

    # chain 1-2-3-4 (diameter 3), pair 10-11, triangle 20-21-22
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    rows = duplicate_clusters(pairs).collect()
    clusters = {}
    for r in rows:
        clusters.setdefault(r.cluster_id, set()).add(r.doc_id)
        assert r.is_canonical == (r.doc_id == r.cluster_id)
    assert clusters == {1: {1, 2, 3, 4}, 10: {10, 11}, 20: {20, 21, 22}}


def test_charlm_scores_rank_fluency(spark, tmp_path):
    """The self-trained trigram LM must score corpus-typical text as
    more predictable (lower bits/char) than character gibberish."""
    import os

    from movie_data_pipeline_spark.plans.curation import charlm_doc_scores

    natural = "the quick brown fox jumps over the lazy dog and then "
    rows = [(i, "en", "web", natural * 4) for i in range(8)]
    rows.append((100, "en", "web", "zq xv jk qzx wvk jqz kxv zjq wkx " * 4))
    df = spark.createDataFrame(rows, ["doc_id", "lang", "source", "text"])
    sf = str(tmp_path)
    df.write.parquet(os.path.join(sf, "documents.parquet"))
    scores = {r.doc_id: r.bits_per_char for r in charlm_doc_scores(spark, sf).collect()}
    assert len(scores) == 9
    natural_max = max(v for k, v in scores.items() if k != 100)
    # clearly costlier (measured ~8× on this fixture; the gibberish
    # doc's own repetition keeps its absolute bits/char modest)
    assert scores[100] > 3 * natural_max


def test_leakage_safe_split_keeps_clusters_whole(spark, tmp_path):
    """Planted exact duplicates must land in ONE split: the split is a
    function of the cluster representative, never the member."""
    import os

    from movie_data_pipeline_spark.plans.curation import leakage_safe_split

    rows = []
    for i in range(60):
        text = f"unique document {i}"
        rows.append((i, "en", "web", text))
        rows.append((1000 + i, "en", "web", text))  # exact dup of i
    df = spark.createDataFrame(rows, ["doc_id", "lang", "source", "text"])
    sf = str(tmp_path)
    df.write.parquet(os.path.join(sf, "documents.parquet"))
    agg = {r.split: r for r in leakage_safe_split(spark, sf).collect()}
    # every cluster has exactly 2 docs, and counts are consistent:
    # doubling membership never splits a cluster across rows
    assert sum(r.n_docs for r in agg.values()) == 120
    assert sum(r.n_clusters for r in agg.values()) == 60
    for r in agg.values():
        assert r.n_docs == 2 * r.n_clusters  # pairs stay together


def test_duplicate_clusters_star_equals_propagate(spark):
    """Property: the large-star/small-star contraction and min-label
    propagation must produce identical clusterings on random graphs
    (including forests, cycles, and dense blobs)."""
    import random

    from movie_data_pipeline_spark.operators.dedup import duplicate_clusters

    rnd = random.Random(11)
    for trial in range(3):
        pairs = set()
        for _ in range(40 + trial * 60):
            a, b = rnd.randrange(80), rnd.randrange(80)
            if a != b:
                pairs.add((min(a, b), max(a, b)))
        df = spark.createDataFrame(sorted(pairs), "id_a long, id_b long")
        star = {tuple(r) for r in duplicate_clusters(df, method="star").collect()}
        prop = {tuple(r) for r in duplicate_clusters(df, method="propagate").collect()}
        assert star == prop


def test_duplicate_clusters_star_converges_logarithmically(spark):
    """A planted 64-link chain (diameter 64): star contraction must
    fully converge within 8 rounds (O(log n)), while propagation at
    the same round budget provably cannot reach the far end."""
    from movie_data_pipeline_spark.operators.dedup import duplicate_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "id_a long, id_b long"
    )
    rows = duplicate_clusters(chain, max_iters=8, method="star").collect()
    assert len(rows) == 65
    assert all(r.cluster_id == 0 for r in rows)
    partial = duplicate_clusters(chain, max_iters=8, method="propagate").collect()
    assert any(r.cluster_id != 0 for r in partial)


def test_omdb_datasource_live_http_loopback(spark, tmp_path):
    """mode=http against a 127.0.0.1 http.server — the reference's
    fetch semantics (etl.py:116-152) exercised with zero network:
    retry ×2 with backoff on a bad response, per-request pacing,
    request timeout, and miss (Response!=True) yielding no row (the
    enrichment join applies the default record downstream)."""
    import json as _json
    import threading
    import time as _time
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
    from urllib.parse import parse_qs, urlparse

    from movie_data_pipeline_spark.sources import omdb_datasource

    log: list[tuple[str, float]] = []
    lock = threading.Lock()

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):
            q = parse_qs(urlparse(self.path).query)
            title = q.get("t", [""])[0]
            with lock:
                log.append((title, _time.monotonic()))
                n = sum(1 for t, _ in log if t == title)
            if title == "Hang":  # longer than the client's timeout
                _time.sleep(0.5)
            if title == "Flaky" and n == 1:
                body = b"not json"  # resp.json() raises -> retry
            elif title == "Missing":
                body = _json.dumps(
                    {"Response": "False", "Error": "Movie not found!"}
                ).encode()
            else:
                body = _json.dumps({
                    "Response": "True", "imdbID": f"tt-{title}",
                    "Plot": f"Plot {title}", "Director": "D",
                    "BoxOffice": "$1,000", "Runtime": "90 min",
                    "imdbRating": "7.5",
                }).encode()
            try:
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
            except (BrokenPipeError, ConnectionResetError):
                pass  # client timed out mid-response (the Hang probe)

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        csv_path = tmp_path / "movies.csv"
        csv_path.write_text(
            "movieId,title,genres\n1,Flaky,Drama\n2,Hang,Drama\n3,Missing,Drama\n"
        )
        omdb_datasource.register(spark)
        rows = (
            spark.read.format("omdb_lookup")
            .option("path", str(csv_path))
            .option("mode", "http")
            .option("api_key", "test-key")
            .option("base_url", f"http://127.0.0.1:{srv.server_address[1]}/")
            .option("numPartitions", 1)  # sequential: timing assertable
            .option("rateLimitS", 0.2)
            .option("backoffS", 0.3)
            .option("timeoutS", 0.2)
            .load()
            .collect()
        )
    finally:
        srv.shutdown()

    got = {r.lookup_title: r for r in rows}
    # retry ×2 recovered the flaky title; miss and timeout yield no row
    assert set(got) == {"Flaky"}
    assert got["Flaky"].imdb_id == "tt-Flaky"
    assert got["Flaky"].imdb_rating == 7.5
    counts = {t: sum(1 for x, _ in log if x == t) for t, _ in log}
    assert counts == {"Flaky": 2, "Hang": 2, "Missing": 1}
    times = [when for t, when in log if t == "Flaky"]
    assert times[1] - times[0] >= 0.28  # backoff before the retry
    first_missing = next(when for t, when in log if t == "Missing")
    last_hang = max(when for t, when in log if t == "Hang")
    assert first_missing - last_hang >= 0.18  # per-request pacing


def test_omdb_datasource_stub(spark, movies_csv):
    from pyspark.sql import functions as F

    from movie_data_pipeline_spark.sources import enrichment, omdb_datasource
    from movie_data_pipeline_spark.sources.movielens import read_movies_csv

    omdb_datasource.register(spark)
    lk = (
        spark.read.format("omdb_lookup")
        .option("path", movies_csv)
        .option("numPartitions", 4)
        .load()
    )
    assert lk.columns == [
        "lookup_title", "lookup_year", "imdb_id", "plot", "director",
        "box_office", "runtime", "imdb_rating",
    ]
    n1 = lk.count()
    assert n1 > 9742  # candidate cascade emits multiple probes/movie
    # deterministic across reads and partitioning
    n2 = (
        spark.read.format("omdb_lookup")
        .option("path", movies_csv)
        .option("numPartitions", 7)
        .load()
        .count()
    )
    # partition-local probe dedup means totals can differ only by
    # cross-partition duplicate probes; exact rows must agree after
    # global dedup
    d1 = lk.distinct().count()
    assert d1 <= n1 and abs(n2 - n1) <= n1 * 0.01

    movies = read_movies_csv(spark, movies_csv)
    enr = enrichment.enrich(movies, lk.distinct())
    assert enr.count() == movies.count()  # left join keeps all movies
    hit_rate = (
        enr.filter(F.col("imdb_id").isNotNull()).count() / movies.count()
    )
    assert hit_rate > 0.9  # reference README.md:145 claims ~90%+
    # misses get the reference's default record (etl.py:118-121)
    miss = enr.filter(F.col("imdb_id").isNull()).select("plot", "director").first()
    if miss is not None:
        assert (miss.plot, miss.director) == ("Not Available", "Unknown")


def test_compact_parquet(spark, tmp_path):
    from pyspark.sql import functions as F

    from movie_data_pipeline_spark.sources.sinks import compact_parquet

    path = str(tmp_path / "fragmented")
    df = spark.range(10000).withColumn("v", F.col("id") * 2)
    df.repartition(64).write.parquet(path)  # 64 tiny files
    import os

    def parquet_files():
        return [
            f for dp, _, fs in os.walk(path) for f in fs
            if f.endswith(".parquet")
        ]

    assert len(parquet_files()) == 64
    before = sorted(map(tuple, spark.read.parquet(path).collect()))
    n = compact_parquet(spark, path, target_file_mb=256)
    assert len(parquet_files()) == n == 1
    after = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert before == after


def test_zorder_key_morton_property(spark):
    from pyspark.sql import functions as F

    from movie_data_pipeline_spark.sources.sinks import zorder_key

    # 2-bit Morton curve on (x, y): key = interleave bits, x at even
    # positions, y at odd — classic Z traversal order
    df = spark.createDataFrame(
        [(x, y) for x in range(4) for y in range(4)], "x long, y long"
    ).select("x", "y", zorder_key([F.col("x"), F.col("y")], bits=2).alias("k"))
    got = {(r.x, r.y): r.k for r in df.collect()}
    assert got[(0, 0)] == 0 and got[(1, 0)] == 1
    assert got[(0, 1)] == 2 and got[(1, 1)] == 3
    assert got[(2, 2)] == 12 and got[(3, 3)] == 15
    assert len(set(got.values())) == 16  # bijective on the grid


def test_write_zordered_clusters_minmax(spark, tmp_path):
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from movie_data_pipeline_spark.sources.sinks import write_zordered

    # uniform 2-d grid; z-order on (a, b) should give every file a
    # small min/max span on BOTH columns (random layout gives ~full span)
    df = (
        spark.range(200_000)
        .select(
            (F.col("id") % 1000).alias("a"),
            F.floor(F.col("id") / 1000).alias("b"),
        )
        .repartition(16)  # scrambled input layout
    )
    path = str(tmp_path / "zordered")
    write_zordered(df, path, ["a", "b"], n_files=16)
    import os

    spans_a, spans_b = [], []
    for f in os.listdir(path):
        if not f.endswith(".parquet"):
            continue
        md = pq.read_metadata(os.path.join(path, f))
        mn_a = min(md.row_group(i).column(0).statistics.min for i in range(md.num_row_groups))
        mx_a = max(md.row_group(i).column(0).statistics.max for i in range(md.num_row_groups))
        mn_b = min(md.row_group(i).column(1).statistics.min for i in range(md.num_row_groups))
        mx_b = max(md.row_group(i).column(1).statistics.max for i in range(md.num_row_groups))
        spans_a.append(mx_a - mn_a)
        spans_b.append(mx_b - mn_b)
    # global spans are ~1000 (a) and ~200 (b); clustered files must
    # average far below — 16 files on a 2-d curve → ~4x4 tiles
    assert sum(spans_a) / len(spans_a) < 500
    assert sum(spans_b) / len(spans_b) < 100
    # data survives the layout intact
    assert spark.read.parquet(path).count() == 200_000


def test_approx_quantiles_within_tolerance(spark):
    from movie_data_pipeline_spark.plans.analytics import QUERIES

    # sketch-only headline query produces 4 quantiles per return flag
    builder, _ = QUERIES["approx_quantiles_lineitem"]
    rows = builder(spark, "/root/testdata/sf0.01").collect()
    assert rows and all(len(r.approx_price_quantiles) == 4 for r in rows)
    # the sketch-vs-exact tolerance gate lives in the oracled twin
    check, _ = QUERIES["quantile_sketch_check"]
    for r in check(spark, "/root/testdata/sf0.01").collect():
        assert r.sketch_within_1pct, r


def test_bm25_ranking_semantics(spark):
    from movie_data_pipeline_spark.operators.search import bm25_top_docs

    docs = spark.createDataFrame(
        [
            (1, "spark spark spark filler filler filler"),  # high tf
            (2, "spark filler filler filler filler filler"),  # low tf
            (3, "spark " + "filler " * 60),  # same tf, much longer doc
            (4, "nothing relevant here at all"),  # no hit
            (5, "rare rare filler"),  # rare-term doc
            (6, "filler text filler text filler"),
        ],
        "doc_id long, text string",
    )
    rows = bm25_top_docs(docs, ["spark", "rare"], k=10).collect()
    score = {r.doc_id: r.bm25 for r in rows}
    assert 4 not in score and 6 not in score  # no query terms → no row
    assert score[1] > score[2]  # higher tf wins
    assert score[2] > score[3]  # length normalization penalizes doc 3
    # 'rare' (df=1) outscores single 'spark' (df=3) via IDF
    assert score[5] > score[2]


def test_benchmark_decontamination_planted(spark):
    from movie_data_pipeline_spark.operators.decontam import (
        benchmark_decontamination,
    )

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta iota kappa "
               "lambda mu nu xi omicron")],
        ["doc_id", "text"],
    )
    train = spark.createDataFrame(
        [
            # reproduces a 13-token span from the bench doc → contaminated
            (1, "intro words then alpha beta gamma delta epsilon zeta eta "
                "theta iota kappa lambda mu nu closing remark"),
            # shares only short runs (< 13 tokens) → clean
            (2, "alpha beta gamma delta unrelated tail content here with "
                "more filler words to pad length"),
            (3, "completely disjoint vocabulary about distributed query "
                "engines and shuffle planning at scale today ok"),
        ],
        ["doc_id", "text"],
    )
    hits = benchmark_decontamination(train, bench, n=13).collect()
    assert {(r.doc_id, r.bench_id) for r in hits} == {(1, 100)}
    # every hit counts at least one shared 13-gram
    assert all(r.shared_ngrams >= 1 for r in hits)


def test_bloom_decontamination_laws(spark):
    """Round-14 Bloom membership path: (a) planted contamination is
    always flagged (no false negatives — a truly shared gram sets all
    its bits by construction); (b) the flagged doc set is a SUPERSET
    of the exact operator's on real data; (c) the bitmap relation is
    bounded by m/64 words; (d) a deliberately saturated filter
    (m=64 bits) still obeys the superset law — false positives only
    ever over-flag."""
    from pyspark.sql import functions as F

    from movie_data_pipeline_spark.operators.decontam import (
        benchmark_decontamination,
        bloom_bitmap,
        bloom_decontamination,
        _gram_hashes,
    )

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta iota kappa "
               "lambda mu nu xi omicron")],
        ["doc_id", "text"],
    )
    train = spark.createDataFrame(
        [
            (1, "intro words then alpha beta gamma delta epsilon zeta eta "
                "theta iota kappa lambda mu nu closing remark"),
            (3, "completely disjoint vocabulary about distributed query "
                "engines and shuffle planning at scale today ok"),
        ],
        ["doc_id", "text"],
    )
    flagged = bloom_decontamination(
        train, bench, n=13, m_bits=1 << 16, k=7
    ).collect()
    assert 1 in {r.doc_id for r in flagged}  # planted hit never missed

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    b = docs.filter(F.col("doc_id") % 50 == 0)
    t = docs.filter(F.col("doc_id") % 50 != 0)
    exact_docs = {
        r.doc_id
        for r in benchmark_decontamination(t, b, n=8)
        .select("doc_id").distinct().collect()
    }
    bloom_docs = {
        r.doc_id
        for r in bloom_decontamination(
            t, b, n=8, m_bits=1 << 17, k=7
        ).collect()
    }
    assert exact_docs <= bloom_docs

    grams = _gram_hashes(b, "bench_id", 8, "doc_id", "text").select("ng")
    bm = bloom_bitmap(grams, m_bits=1 << 12, k=5).collect()
    assert len(bm) <= (1 << 12) // 64
    assert all(0 <= r.word_idx < (1 << 12) // 64 for r in bm)
    # total set bits bounded by k x distinct grams
    n_grams = grams.distinct().count()
    set_bits = sum(bin(r.word & ((1 << 64) - 1)).count("1") for r in bm)
    assert 0 < set_bits <= 5 * n_grams

    # saturated filter: every probed doc flags, superset law intact
    sat = {
        r.doc_id
        for r in bloom_decontamination(
            t, b, n=8, m_bits=64, k=2
        ).collect()
    }
    assert exact_docs <= sat


def test_doc_repetition_stats_planted(spark, tmp_path):
    import pytest as _pytest

    from movie_data_pipeline_spark.plans.curation import doc_repetition_stats

    # write a miniature documents table the plan query can load
    docs = spark.createDataFrame(
        [
            # 8 tokens, all distinct; top bigram appears once of 7
            (0, "one two three four five six seven eight", "en", "s", 39),
            # degenerate repetition: 1 unique token of 6; bigram "spam
            # spam" fills all 5 slots
            (1, "spam spam spam spam spam spam", "en", "s", 29),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {
        r.doc_id: r
        for r in doc_repetition_stats(spark, str(tmp_path)).collect()
    }
    assert out[0].n_tokens == 8
    assert out[0].dup_token_frac == 0.0
    assert out[0].top_bigram_frac == _pytest.approx(round(1 / 7, 4))
    assert out[1].dup_token_frac == _pytest.approx(round(1 - 1 / 6, 4))
    assert out[1].top_bigram_frac == 1.0


def test_order_window_shipments_plan_has_no_nested_loop(spark):
    """The interval join must compile to a bucket equi-join (shuffled
    hash/sort-merge on wk), never a BroadcastNestedLoopJoin — the
    cartesian formulation is exactly what the week-bucket blocking
    exists to avoid at scale."""
    from movie_data_pipeline_spark.plans.events import order_window_shipments

    plan = order_window_shipments(
        spark, "/root/testdata/sf0.001"
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_events_gapfill_locf_fills_and_carries(spark):
    """Planted fixture: type A observed on days 0 and 3 → days 1-2 are
    generated with observed=false and carry day 0's average."""
    import pandas as pd
    from pyspark.sql import functions as F
    from movie_data_pipeline_spark.plans import events as TS

    # build a miniature events table and run the same plan body by
    # monkey-patching load_events' output shape
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "ts_us": [0, 10, 3 * 86_400_000_000, 86_400_000_000],
                "event_type": ["a", "a", "a", "b"],
                "value": [2.0, 4.0, 9.0, 5.0],
            }
        )
    )
    orig = TS.load_events
    TS.load_events = lambda spark, sf: df
    try:
        rows = {
            (r.event_type, r.day_idx): r
            for r in TS.events_gapfill_locf(spark, "ignored").collect()
        }
    finally:
        TS.load_events = orig
    assert rows[("a", 0)].observed and rows[("a", 0)].value_locf == 3.0
    assert not rows[("a", 1)].observed and rows[("a", 1)].value_locf == 3.0
    assert not rows[("a", 2)].observed and rows[("a", 2)].value_locf == 3.0
    assert rows[("a", 3)].observed and rows[("a", 3)].value_locf == 9.0
    assert rows[("b", 1)].observed and rows[("b", 1)].value_locf == 5.0
    assert len(rows) == 5


def test_flagship_plans_broadcast_and_topk(spark):
    """Q1/Q2 must keep their scale shapes: dimension joins as
    BroadcastHashJoin (never a shuffled SortMergeJoin of a dim) and
    LIMIT compiling to TakeOrderedAndProject (never a global Sort).
    These are the plans BASELINE.md's 100 TB argument rests on."""
    from movie_data_pipeline_spark.plans.analytics import QUERIES

    for name in ("q1_top_part", "q2_top_regions"):
        df = QUERIES[name][0](spark, "/root/testdata/sf0.001")
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name
        assert "TakeOrderedAndProject" in plan, name
        assert "CartesianProduct" not in plan, name


def test_asof_join_matches_pandas_merge_asof(spark):
    """Randomized equivalence: asof_join vs pandas.merge_asof on a
    seeded corpus (50 keys, duplicate timestamps included via a small
    value range). Right rows are pre-deduped per (key, ts) — the
    operator's documented determinism contract."""
    import numpy as np
    import pandas as pd
    from movie_data_pipeline_spark.operators.asof import asof_join

    rng = np.random.default_rng(7)
    left_pd = pd.DataFrame(
        {
            "key": rng.integers(0, 50, 400).astype(str),
            "lts": rng.integers(0, 200, 400),
            "lid": np.arange(400),
        }
    )
    right_pd = (
        pd.DataFrame(
            {
                "key": rng.integers(0, 50, 300).astype(str),
                "rts": rng.integers(0, 200, 300),
                "rval": rng.integers(0, 10**6, 300),
            }
        )
        .sort_values("rval")
        .drop_duplicates(["key", "rts"], keep="last")
    )
    for direction in ("backward", "forward", "nearest"):
        for tolerance in (None, 10):
            expected = pd.merge_asof(
                left_pd.sort_values("lts", kind="stable"),
                right_pd.sort_values("rts", kind="stable"),
                left_on="lts",
                right_on="rts",
                by="key",
                direction=direction,
                tolerance=tolerance,
            ).set_index("lid")["rval"]
            got = {
                r.lid: r.rval
                for r in asof_join(
                    spark.createDataFrame(left_pd),
                    spark.createDataFrame(right_pd),
                    on=["key"],
                    left_ts="lts",
                    right_ts="rts",
                    value_cols=["rval"],
                    direction=direction,
                    tolerance=tolerance,
                ).collect()
            }
            for lid, exp in expected.items():
                g = got[lid]
                assert (pd.isna(exp) and g is None) or g == exp, (
                    direction, tolerance, lid, exp, g,
                )


def test_asof_join_boundary_semantics(spark):
    """Planted boundaries: exact timestamp tie (inclusive on both
    directions), exactly-at-tolerance (inclusive), one-past-tolerance
    (dropped), nearest equidistant tie (backward wins), and a NULL
    value column on the matched row (the MATCH is the nearest ROW —
    its NULL value must come through, not an older row's value)."""
    from movie_data_pipeline_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("a", 100, 1), ("a", 205, 2), ("a", 300, 3), ("b", 50, 4)],
        "key string, lts long, lid int",
    )
    right = spark.createDataFrame(
        [("a", 100, 10), ("a", 210, 20), ("a", 290, None), ("c", 1, 99)],
        "key string, rts long, rval int",
    )

    def run(direction, tolerance=None):
        return {
            r.lid: r.rval
            for r in asof_join(
                left, right, ["key"], "lts", "rts", ["rval"],
                direction=direction, tolerance=tolerance,
            ).collect()
        }

    # exact tie at ts=100: backward AND forward both match it
    assert run("backward")[1] == 10
    assert run("forward")[1] == 10
    # nearest equidistant tie: lid=2 at 205 is 5 from 210 (fwd) and
    # ... backward candidate is 100 (105 away) -> forward wins; make
    # a true tie with lid=3 at 300: 290 is 10 back, none forward ->
    # backward; with tolerance 10 inclusive it still matches and the
    # matched row's NULL value comes through as the match
    near = run("nearest")
    assert near[2] == 20 and near[1] == 10
    assert near[3] is None  # matched the ts=290 row whose rval IS NULL
    assert near[4] is None  # key 'b' has no right rows at all
    # tolerance boundaries: 300-290=10 exactly at tolerance -> kept
    # (NULL value, but KEPT is indistinguishable here, so probe with
    # lid=2: gap 5 <= 10 kept, tolerance 4 drops it)
    assert run("nearest", tolerance=5)[2] == 20
    assert run("nearest", tolerance=4)[2] is None
    assert run("backward", tolerance=105)[2] == 10
    assert run("backward", tolerance=104)[2] is None
    assert run("forward", tolerance=5)[2] == 20
    assert run("forward", tolerance=4)[2] is None


def test_asof_nearest_equidistant_tie_prefers_backward(spark):
    from movie_data_pipeline_spark.operators.asof import asof_join

    left = spark.createDataFrame([("k", 200, 1)], "key string, lts long, lid int")
    right = spark.createDataFrame(
        [("k", 190, 111), ("k", 210, 222)], "key string, rts long, rval int"
    )
    got = asof_join(
        left, right, ["key"], "lts", "rts", ["rval"], direction="nearest"
    ).collect()
    assert got[0].rval == 111  # 10 back vs 10 forward: backward wins


def test_interval_join_matches_bruteforce_property(spark):
    """Randomized equivalence: interval_join vs the O(n·m) definition
    on arbitrary keys/timestamps/bounds (negative times included —
    floor-division binning must stay correct below zero) across prime
    and power-of-two bin widths. Few examples, each a real Spark job."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from movie_data_pipeline_spark.operators.ranges import interval_join

    ts = st.integers(min_value=-50, max_value=50)

    @settings(max_examples=6, deadline=None)
    @given(
        pts=st.lists(st.tuples(st.sampled_from("ab"), ts), min_size=1, max_size=12),
        ivls=st.lists(
            st.tuples(st.sampled_from("ab"), ts, ts), min_size=1, max_size=8
        ),
        bw=st.sampled_from([1, 3, 7, 16]),
    )
    def prop(pts, ivls, bw):
        points = spark.createDataFrame(
            [(k, i, t) for i, (k, t) in enumerate(pts)], ["k", "pid", "ts"]
        )
        intervals = spark.createDataFrame(
            [(k, i, s, e) for i, (k, s, e) in enumerate(ivls)],
            ["k", "iid", "s", "e"],
        )
        got = {
            (r.pid, r.iid)
            for r in interval_join(
                points, intervals, ["k"], "ts", "s", "e", bin_width=bw
            ).collect()
        }
        want = {
            (pi, ii)
            for pi, (pk, pt) in enumerate(pts)
            for ii, (ik, s, e) in enumerate(ivls)
            if pk == ik and s <= pt < e
        }
        assert got == want

    prop()


def test_title_candidates_properties():
    """Hypothesis property test on the pure candidate generator:
    total (no exception on arbitrary unicode), string-typed, and
    order-preserving-deduped — the enrichment join's input contract."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from movie_data_pipeline_spark.functions.titles import _candidates_py

    @settings(max_examples=300, deadline=None)
    @given(
        st.text(
            alphabet=st.characters(
                whitelist_categories=("L", "N", "P", "Zs"), max_codepoint=0x2FF
            ),
            min_size=0,
            max_size=60,
        )
    )
    def prop(title):
        cands = _candidates_py(title)
        assert isinstance(cands, list)
        assert len(cands) == len(set(cands)), "candidates must be deduped"
        for c in cands:
            assert isinstance(c, str)

    prop()


def test_window_audio_fake_codec(spark):
    from movie_data_pipeline_spark.multimodal import binary_ops

    df = spark.createDataFrame(
        [
            (1, "audio", bytearray(bytes(range(256)) * 20), (None, None, None, 5120, 16000)),
            (2, "audio", None, (None, None, None, None, None)),
        ],
        binary_ops.MEDIA_SCHEMA,
    )
    rows = binary_ops.window_audio(df, window_samples=2048, fake=True).collect()
    by_idx = {(r.media_id, r.window_idx): r for r in rows}
    # 5120 bytes → 2 full windows + 1 of 1024
    assert len(rows) == 3 and (1, 2) in by_idx
    assert by_idx[(1, 0)].n_samples == 2048
    assert by_idx[(1, 2)].n_samples == 1024
    # bytes 0..255 centered on 128 → peak |w| = 128
    assert by_idx[(1, 0)].peak == 128
    assert abs(by_idx[(1, 0)].rms - 73.9) < 1.0  # uniform over [-128,127]
    with pytest.raises(NotImplementedError):  # driver-side, plan-build time
        binary_ops.window_audio(df, fake=False)


def test_pairs_within_groups_equals_bruteforce(spark):
    """Randomized equivalence on the shared pair-generation core: for
    a seeded keyed corpus under the cap, the output must be EXACTLY
    the set of within-key (id_a < id_b) pairs a brute-force self-join
    produces — including cross-key dedup behavior (a pair sharing two
    keys appears once per key, distinct() collapses it). Over the cap:
    keep-first truncates to the smallest max_group ids per key,
    drop_oversize discards the key wholesale."""
    import itertools

    import numpy as np

    rng = np.random.default_rng(11)
    rows = [
        (int(k), int(i))
        for k, i in zip(rng.integers(0, 12, 300), rng.integers(0, 60, 300))
    ]
    # dedup (key, id) duplicates like the callers' explode→distinct do
    rows = sorted(set(rows))
    df = spark.createDataFrame(rows, ["k", "doc_id"])

    by_key = {}
    for k, i in rows:
        by_key.setdefault(k, []).append(i)

    got = {
        (r.id_a, r.id_b)
        for r in dedup.pairs_within_groups(df, ["k"], "doc_id", 10**6)
        .distinct()
        .collect()
    }
    expected = {
        pair
        for ids in by_key.values()
        for pair in itertools.combinations(sorted(ids), 2)
    }
    assert got == expected

    cap = 5
    got_capped = {
        (r.id_a, r.id_b)
        for r in dedup.pairs_within_groups(df, ["k"], "doc_id", cap)
        .distinct()
        .collect()
    }
    expected_capped = {
        pair
        for ids in by_key.values()
        for pair in itertools.combinations(sorted(ids)[:cap], 2)
    }
    assert got_capped == expected_capped

    got_dropped = {
        (r.id_a, r.id_b)
        for r in dedup.pairs_within_groups(
            df, ["k"], "doc_id", cap, drop_oversize=True
        )
        .distinct()
        .collect()
    }
    expected_dropped = {
        pair
        for ids in by_key.values()
        if 2 <= len(ids) <= cap
        for pair in itertools.combinations(sorted(ids), 2)
    }
    assert got_dropped == expected_dropped


def test_triangle_count_planted(spark):
    from movie_data_pipeline_spark.operators.graph import triangle_count

    # K4 (4 triangles) ∪ a 3-path (0 triangles) ∪ a duplicated /
    # reversed / self-loop edge set that must canonicalize away
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    path = [(10, 11), (11, 12), (12, 13)]
    noise = [(1, 0), (2, 2), (0, 1)]  # reverse dup, self-loop, dup
    edges = spark.createDataFrame(k4 + path + noise, ["src", "dst"])
    row = triangle_count(edges).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (8, 9, 4)

    # a 5-cycle has no triangles but every node has degree 2 (total
    # degree-tie orientation path)
    cyc = [(i, (i + 1) % 5) for i in range(5)]
    row = triangle_count(spark.createDataFrame(cyc, ["src", "dst"])).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (5, 5, 0)


def test_bpe_matches_scalar_reference(spark):
    """Every learned merge must equal a plain-Python BPE trainer's
    (greedy argmax, lexicographic tie-break) on the same corpus."""
    from collections import Counter

    from movie_data_pipeline_spark.operators.bpe import (
        train_bpe,
        word_frequencies,
    )

    texts = [
        "low low low low low",
        "lower lower widest",
        "newest newest newest newest",
        "new new newer wide",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )

    words = Counter(w for t in texts for w in t.split())
    vocab = {w: list(w) for w in words}

    def scalar_merges(n):
        out = []
        for rank in range(1, n + 1):
            pairs = Counter()
            for w, syms in vocab.items():
                for a, b in zip(syms, syms[1:]):
                    pairs[(a, b)] += words[w]
            if not pairs:
                break
            (l, r), freq = min(
                pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            out.append((rank, l, r, freq))
            for w, syms in vocab.items():
                merged, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                        merged.append(l + r)
                        i += 2
                    else:
                        merged.append(syms[i])
                        i += 1
                vocab[w] = merged
        return out

    expected = scalar_merges(10)
    got = [
        (r.rank, r.left, r.right, r.freq)
        for r in train_bpe(spark, word_frequencies(docs), n_merges=10)
        .orderBy("rank")
        .collect()
    ]
    assert got == expected
    assert len(got) == 10


def test_bpe_encode_segmentation(spark):
    from movie_data_pipeline_spark.operators.bpe import bpe_encode, segment_words

    merges = [("l", "o"), ("lo", "w"), ("e", "r")]
    words = spark.createDataFrame([("low",), ("lower",), ("x",)], ["word"])
    seg = {
        r.word: list(r.subwords)
        for r in segment_words(words, merges).collect()
    }
    assert seg == {
        "low": ["low"],            # l+o → lo, lo+w → low
        "lower": ["low", "er"],    # then e+r → er
        "x": ["x"],
    }

    docs = spark.createDataFrame(
        [(1, "low lower low"), (2, "x")], ["doc_id", "text"]
    )
    enc = {
        r.doc_id: (r.n_words, r.n_subwords)
        for r in bpe_encode(docs, merges).collect()
    }
    assert enc == {1: (3, 4), 2: (1, 1)}


def test_k_core_matches_scalar_reference(spark):
    """Lollipop graph: K5 with a long tail — the tail must peel away
    round by round (deep cascade), leaving exactly the K5 as 3-core.
    Then cross-check a denser random-ish graph against scalar peeling."""
    from collections import defaultdict

    from movie_data_pipeline_spark.operators.graph import k_core

    k5 = [(a, b) for a in range(5) for b in range(5) if a < b]
    tail = [(4, 10), (10, 11), (11, 12), (12, 13), (13, 14)]
    edges = spark.createDataFrame(k5 + tail, ["src", "dst"])
    got = {
        r.node: r.core_degree for r in k_core(edges, k=3).collect()
    }
    assert got == {n: 4 for n in range(5)}

    def scalar_kcore(pairs, k):
        adj = defaultdict(set)
        for a, b in pairs:
            if a != b:
                adj[a].add(b)
                adj[b].add(a)
        core = set(adj)
        while True:
            drop = {
                n for n in core
                if sum(1 for x in adj[n] if x in core) < k
            }
            if not drop:
                break
            core -= drop
        return {
            n: sum(1 for x in adj[n] if x in core) for n in core
        }

    # deterministic pseudo-random graph with skewed degrees
    pairs = [((i * 7) % 23, (i * i) % 23) for i in range(90)]
    got = {
        r.node: r.core_degree
        for r in k_core(
            spark.createDataFrame(pairs, ["src", "dst"]), k=4
        ).collect()
    }
    assert got == scalar_kcore(pairs, 4)


def test_k_core_max_iter_raises_not_superset(spark):
    """The opt-in round cap must RAISE when exhausted, never silently
    return a non-k-core superset (r6 ADVICE: path graphs peel one node
    per round, so any fixed cap can be exhausted)."""
    import pytest as _pytest

    from movie_data_pipeline_spark.operators.graph import k_core

    # path graph: 2-core is empty, peeling removes ~2 endpoints/round
    path = [(i, i + 1) for i in range(12)]
    edges = spark.createDataFrame(path, ["src", "dst"])
    with _pytest.raises(RuntimeError, match="did not converge"):
        k_core(edges, k=2, max_iter=2).collect()
    # unbounded default reaches the true (empty) fixpoint
    assert k_core(edges, k=2).count() == 0

    # converging in EXACTLY max_iter peels must succeed (the cap fires
    # only when one MORE peel would be needed): triangle + pendant
    # reaches its 2-core in one peel
    tri = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (0, 9)], ["src", "dst"]
    )
    got = {r.node for r in k_core(tri, k=2, max_iter=1).collect()}
    assert got == {0, 1, 2}


def test_delta_dedup_corpus_hot_bucket_cap(spark):
    """The delta-vs-corpus band probe honors max_bucket on the CORPUS
    side (r6 ADVICE: only batch-internal pairs were capped, so a hot
    corpus band could go quadratic). Cap semantics mirror
    pairs_within_groups: keep the deterministic sorted-id prefix."""
    from movie_data_pipeline_spark.operators.dedup import (
        delta_near_dup_pairs,
        minhash_index,
    )

    text = "the quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame(
        [(i, text) for i in range(10, 16)], ["doc_id", "text"]
    )
    delta = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    idx = minhash_index(corpus).localCheckpoint()

    full = delta_near_dup_pairs(idx, delta, threshold=0.7)
    got_full = sorted(r.match_id for r in full.collect())
    assert got_full == list(range(10, 16))  # identical docs all match

    capped = delta_near_dup_pairs(idx, delta, threshold=0.7, max_bucket=3)
    got_capped = sorted(r.match_id for r in capped.collect())
    # every band bucket holds the same 6 ids -> same sorted prefix kept
    assert got_capped == [10, 11, 12]


def test_bitmap_prefilter_no_false_negatives(spark):
    from movie_data_pipeline_spark.operators.prune import (
        bitmap_prefilter,
        bucket_bitmap,
    )

    fact = spark.createDataFrame(
        [(i, i * 10) for i in range(2000)], ["k", "payload"]
    )
    dim = spark.createDataFrame([(i,) for i in range(0, 2000, 97)], ["dk"])
    buckets = bucket_bitmap(dim, "dk", n_buckets=256)
    pruned = bitmap_prefilter(fact, "k", buckets, n_buckets=256)

    # every true join partner survives the prefilter
    joined_pruned = sorted(
        (r.k, r.payload)
        for r in pruned.join(dim, pruned.k == dim.dk).collect()
    )
    joined_plain = sorted(
        (r.k, r.payload)
        for r in fact.join(dim, fact.k == dim.dk).collect()
    )
    assert joined_pruned == joined_plain and len(joined_plain) == 21

    # the prefilter actually prunes (21 dim keys over 256 buckets
    # keep well under half of a uniform 2000-row fact)
    assert pruned.count() < 1000

    # and it must be a broadcast semi-join: the fact side shuffling
    # would defeat the whole point
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_prefix_filtered_jaccard_equals_naive(spark):
    """PPJoin is a LOSSLESS candidate reduction: at several thresholds
    its output must equal the naive shared-shingle join exactly."""
    import random

    from pyspark.sql import functions as F

    from movie_data_pipeline_spark.operators.dedup import (
        prefix_filtered_jaccard,
        with_hashed_shingles,
    )

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(40)]
    texts = []
    for i in range(60):
        base = rng.sample(vocab, rng.randint(8, 20))
        texts.append(" ".join(base))
        if rng.random() < 0.5:  # plant a near-duplicate
            mutated = list(base)
            mutated[rng.randrange(len(mutated))] = rng.choice(vocab)
            texts.append(" ".join(mutated))
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )

    sh = (
        with_hashed_shingles(docs, "text", 3, out="sh_raw")
        .select("doc_id", F.explode(F.array_distinct("sh_raw")).alias("s"))
    )
    sizes = sh.groupBy("doc_id").count().withColumnRenamed("count", "n")
    a = sh.alias("a").join(
        sh.alias("b"),
        (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).groupBy(
        F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
    ).agg(F.count(F.lit(1)).alias("inter"))
    naive = (
        a.join(sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na")), "id_a")
        .join(sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb")), "id_b")
        .withColumn("j", F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")))
    )

    for tau in (0.5, 0.7, 0.9):
        expected = {
            (r.id_a, r.id_b)
            for r in naive.filter(F.col("j") >= tau).collect()
        }
        got = {
            (r.id_a, r.id_b)
            for r in prefix_filtered_jaccard(docs, threshold=tau).collect()
        }
        assert got == expected, f"tau={tau}"


def test_hits_star_and_scalar_reference(spark):
    import math

    from movie_data_pipeline_spark.operators.graph import hits

    # one buyer pointing at 4 suppliers: hub = 1 for the buyer,
    # authorities uniform 1/2 (L2-normalized over 4 equal scores)
    star = [(100, i) for i in range(4)]
    got = {
        r.node: (r.hub, r.authority)
        for r in hits(spark.createDataFrame(star, ["src", "dst"]), n_iter=5).collect()
    }
    assert abs(got[100][0] - 1.0) < 1e-9 and abs(got[100][1]) < 1e-9
    for i in range(4):
        assert abs(got[i][1] - 0.5) < 1e-9 and abs(got[i][0]) < 1e-9

    # general digraph vs the scalar synchronous recurrence
    edges = [(0, 1), (0, 2), (1, 2), (2, 3), (3, 1), (1, 4), (4, 2)]
    nodes = sorted({x for e in edges for x in e})
    h = {n: 1.0 for n in nodes}
    a = {n: 1.0 for n in nodes}
    for _ in range(10):
        a = {n: sum(h[s] for s, d in edges if d == n) for n in nodes}
        na = math.sqrt(sum(v * v for v in a.values()))
        a = {n: v / na for n, v in a.items()}
        h = {n: sum(a[d] for s, d in edges if s == n) for n in nodes}
        nh = math.sqrt(sum(v * v for v in h.values()))
        h = {n: v / nh for n, v in h.items()}
    got = {
        r.node: (r.hub, r.authority)
        for r in hits(spark.createDataFrame(edges, ["src", "dst"]), n_iter=10).collect()
    }
    for n in nodes:
        assert abs(got[n][0] - h[n]) < 1e-9
        assert abs(got[n][1] - a[n]) < 1e-9

    # deferred normalization (scale-invariance): end-only must agree
    # with the per-round scalar reference at float tolerance
    got_end = {
        r.node: (r.hub, r.authority)
        for r in hits(
            spark.createDataFrame(edges, ["src", "dst"]),
            n_iter=10,
            normalize_every=10,
        ).collect()
    }
    for n in nodes:
        assert abs(got_end[n][0] - h[n]) < 1e-9
        assert abs(got_end[n][1] - a[n]) < 1e-9


def test_snapshot_time_travel(spark, tmp_path):
    from movie_data_pipeline_spark.sources.snapshot import (
        available_versions,
        publish_snapshot,
        read_snapshot_table,
    )

    root = str(tmp_path / "snap")
    t1 = spark.createDataFrame([(1, "a")], ["k", "v"])
    t2 = spark.createDataFrame([(1, "b")], ["k", "v"])
    t3 = spark.createDataFrame([(1, "c")], ["k", "v"])
    publish_snapshot(root, {"t": t1})
    publish_snapshot(root, {"t": t2})
    assert available_versions(root) == [1, 2]

    # live read and VERSION AS OF read
    assert read_snapshot_table(spark, root, "t").collect()[0].v == "b"
    assert read_snapshot_table(spark, root, "t", version=1).collect()[0].v == "a"

    # third publish prunes v1 (keep_versions=2) — time-travel to it
    # must now fail loudly, v2 must still read
    publish_snapshot(root, {"t": t3})
    assert available_versions(root) == [2, 3]
    assert read_snapshot_table(spark, root, "t", version=2).collect()[0].v == "b"
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        read_snapshot_table(spark, root, "t", version=1)
    with _pytest.raises(FileNotFoundError):
        read_snapshot_table(spark, root, "t", version=99)


def test_table_diff_reconciliation(spark):
    from movie_data_pipeline_spark.sources.sinks import table_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None), (4, "d", 40.0)],
        ["k", "name", "score"],
    )
    new = spark.createDataFrame(
        [(2, "b", 20.0),        # unchanged -> absent from diff
         (3, "c", 30.0),        # null -> value = changed
         (4, "D", 40.0),        # name changed
         (5, "e", 50.0)],       # added
        ["k", "name", "score"],
    )
    got = {r.k: r.change_type for r in table_diff(old, new, ["k"]).collect()}
    assert got == {1: "removed", 3: "changed", 4: "changed", 5: "added"}

    # composes with snapshot time-travel: diff two retained versions
    import tempfile

    from movie_data_pipeline_spark.sources.snapshot import (
        publish_snapshot,
        read_snapshot_table,
    )

    root = tempfile.mkdtemp(prefix="snapdiff")
    publish_snapshot(root, {"t": old})
    publish_snapshot(root, {"t": new})
    v1 = read_snapshot_table(spark, root, "t", version=1)
    v2 = read_snapshot_table(spark, root, "t", version=2)
    got2 = {r.k: r.change_type for r in table_diff(v1, v2, ["k"]).collect()}
    assert got2 == got


def test_table_diff_key_only_table(spark):
    """A table with ONLY key columns (a membership set) must still
    reconcile: matched keys absent, old-only 'removed', new-only
    'added' — the docstring's no-assumption-beyond-keys claim (r6
    ADVICE: literal-NULL markers misclassified everything as added)."""
    from movie_data_pipeline_spark.sources.sinks import table_diff

    old = spark.createDataFrame([(1,), (2,), (3,)], ["k"])
    new = spark.createDataFrame([(2,), (3,), (4,)], ["k"])
    got = {r.k: r.change_type for r in table_diff(old, new, ["k"]).collect()}
    assert got == {1: "removed", 4: "added"}

    # composite key, same contract
    old2 = spark.createDataFrame([(1, "x"), (1, "y")], ["a", "b"])
    new2 = spark.createDataFrame([(1, "y"), (2, "z")], ["a", "b"])
    got2 = {
        (r.a, r.b): r.change_type
        for r in table_diff(old2, new2, ["a", "b"]).collect()
    }
    assert got2 == {(1, "x"): "removed", (2, "z"): "added"}


def test_containment_catches_what_jaccard_misses(spark):
    """A short doc fully quoted inside a much longer one has high
    containment but low Jaccard — the planted case for the asymmetric
    metric (plans/dedup.py::containment_dedup_pairs)."""
    import movie_data_pipeline_spark.plans.dedup as ext5
    from movie_data_pipeline_spark.sources import catalog as cat

    quote = "the quick brown fox jumps over the lazy dog tonight"
    filler = " ".join(f"word{i} token{i} item{i}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, quote), (2, filler + " " + quote + " " + filler)],
        ["doc_id", "text"],
    )

    orig = cat.load_table
    try:
        cat.load_table = lambda _s, _sf, name: docs  # only documents used
        ext5.load_table = cat.load_table
        got = ext5.containment_dedup_pairs(spark, "unused", threshold=0.9).collect()
    finally:
        cat.load_table = orig
        ext5.load_table = orig
    assert len(got) == 1
    r = got[0]
    assert (r.id_a, r.id_b, r.a_is_smaller) == (1, 2, True)
    assert r.containment == 1.0

    # the symmetric metric would have rejected this pair
    from movie_data_pipeline_spark.operators.dedup import with_hashed_shingles
    from pyspark.sql import functions as F

    sh = (
        with_hashed_shingles(docs, "text", 3, out="sh")
        .select("doc_id", F.array_distinct("sh").alias("s"))
        .collect()
    )
    sets = {r.doc_id: set(r.s) for r in sh}
    jac = len(sets[1] & sets[2]) / len(sets[1] | sets[2])
    assert jac < 0.5  # well under any dedup threshold


def test_personalized_pagerank_matches_scalar(spark):
    """PPR on a planted digraph vs the scalar synchronous recurrence
    (teleport + dangling mass both land uniformly on the sources);
    conservation Σ = 1 and source locality hold."""
    from collections import defaultdict

    import pytest as _pytest

    from movie_data_pipeline_spark.operators.graph import personalized_pagerank

    d, iters = 0.85, 10
    edges = [(0, 1), (1, 2), (2, 0), (2, 3)]  # 3 is dangling
    srcs = [0]
    got = {
        r.node: r.rank
        for r in personalized_pagerank(
            spark.createDataFrame(edges, ["src", "dst"]),
            spark.createDataFrame([(s,) for s in srcs], ["node"]),
            n_iter=iters,
        ).collect()
    }

    out_deg = defaultdict(int)
    for s, _ in edges:
        out_deg[s] += 1
    tele = {n: (1.0 / len(srcs) if n in srcs else 0.0) for n in (0, 1, 2, 3)}
    ranks = dict(tele)
    for _ in range(iters):
        dmass = sum(r for n, r in ranks.items() if out_deg[n] == 0)
        contrib = defaultdict(float)
        for s, t in edges:
            contrib[t] += ranks[s] / out_deg[s]
        ranks = {
            n: (1 - d) * tele[n] + d * (contrib[n] + dmass * tele[n])
            for n in ranks
        }
    for n in ranks:
        assert abs(got[n] - ranks[n]) < 1e-12
    assert abs(sum(got.values()) - 1.0) < 1e-9
    assert got[0] > got[3]  # locality: source outranks the far sink

    with _pytest.raises(ValueError):
        personalized_pagerank(
            spark.createDataFrame(edges, ["src", "dst"]),
            spark.createDataFrame([(99,)], ["node"]),  # not in graph
        )


def test_shuffle_parallelism_fallback(spark):
    """shuffle_parallelism reads the session conf, but must not raise
    on platforms where spark.sql.shuffle.partitions is non-numeric
    (e.g. 'auto') — it falls back to defaultParallelism (r7 ADVICE)."""
    from movie_data_pipeline_spark.session import shuffle_parallelism

    assert shuffle_parallelism(spark) == int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )

    class _Conf:
        def get(self, k):
            return "auto"

    class _SC:
        defaultParallelism = 7

    class _Fake:
        conf = _Conf()
        sparkContext = _SC()

    assert shuffle_parallelism(_Fake()) == 7


def test_asof_timestamp_columns_subsecond_precision(spark):
    """Round-10 advisory: timestamp-typed ts columns went through
    cast('long'), truncating to whole seconds — a forward match 0.1 s
    away lost a nearest tie to a backward match 0.4 s away (both
    truncated to distance 0). The long image now rides unix_micros."""
    import datetime as dt

    from movie_data_pipeline_spark.operators.asof import asof_join

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    us = dt.timedelta(microseconds=1)
    left = spark.createDataFrame(
        [("u", base, "p")], "key string, lts timestamp, lname string"
    )
    right = spark.createDataFrame(
        [("u", base - 400_000 * us, "back_0.4s"),
         ("u", base + 100_000 * us, "fwd_0.1s")],
        "key string, rts timestamp, rname string",
    )
    got = asof_join(
        left, right, on=["key"], left_ts="lts", right_ts="rts",
        value_cols=["rname"], direction="nearest",
    ).collect()
    assert [r.rname for r in got] == ["fwd_0.1s"]

    # tolerance for timestamp columns is in MICROSECONDS (documented):
    # 50ms excludes both candidates; 150ms admits only the forward one
    none = asof_join(
        left, right, on=["key"], left_ts="lts", right_ts="rts",
        value_cols=["rname"], direction="nearest", tolerance=50_000,
    ).collect()
    assert [r.rname for r in none] == [None]
    back_only = asof_join(
        left, right, on=["key"], left_ts="lts", right_ts="rts",
        value_cols=["rname"], direction="backward", tolerance=450_000,
    ).collect()
    assert [r.rname for r in back_only] == ["back_0.4s"]


def test_asof_rejects_fractional_ts_dtype(spark):
    import pytest as _pytest

    from movie_data_pipeline_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("u", 1.5, "p")], "key string, lts double, lname string"
    )
    right = spark.createDataFrame(
        [("u", 1.4, "r")], "key string, rts double, rname string"
    )
    with _pytest.raises(ValueError, match="dtype 'double'"):
        asof_join(
            left, right, on=["key"], left_ts="lts", right_ts="rts",
            value_cols=["rname"], direction="nearest",
        )


def test_append_guards_raise_on_corrupt_target(spark, tmp_path):
    """Round-10 VERDICT: the first-write guards swallowed EVERY read
    error, so a corrupt existing target silently degraded into a
    blind append. Only the path-missing case may be swallowed."""
    from movie_data_pipeline_spark.sources.sinks import (
        append_if_empty,
        insert_if_absent,
    )

    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "part-00000.parquet").write_bytes(b"these are not parquet bytes")
    df = spark.createDataFrame([(1, "a")], ["k", "v"])

    import pytest as _pytest

    with _pytest.raises(Exception):
        append_if_empty(spark, df, str(bad))
    with _pytest.raises(Exception):
        insert_if_absent(spark, df, str(bad), ["k"])
    # neither call appended anything next to the corrupt file
    assert sorted(p.name for p in bad.iterdir()) == ["part-00000.parquet"]

    # the missing-target first write still succeeds for both
    m1, m2 = tmp_path / "m1", tmp_path / "m2"
    append_if_empty(spark, df, str(m1))
    insert_if_absent(spark, df, str(m2), ["k"])
    assert spark.read.parquet(str(m1)).count() == 1
    assert spark.read.parquet(str(m2)).count() == 1
