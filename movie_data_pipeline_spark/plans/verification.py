"""Driver-enforceable verification twins for every rows-only operator
family: minhash LSH, simhash, sign-LSH / IVF ANN, winnowing, quantile
sketches, sequence packing, and iterative connected components.

The approximate algorithms are all deterministic (seeded hyperplanes,
seeded samples, fixed hash permutations), so their outputs are fixed
for a given corpus — but they are not SQL-expressible, which round 1
left as weaker rows-only driver rows. These check queries close the
gap with a tolerance-predicate pattern:

- Spark side: run the approximate operator AND its exact brute-force
  twin in one plan; emit the exact-computable measures (pair / query
  counts) plus recall / precision PREDICATES as booleans.
- Oracle side: DuckDB recomputes the exact measures independently and
  states the predicates' expected values as literals.

The driver's exact value-hash compare then enforces recall ≥ τ AND
precision = 1 as a hard gate — not a rows-only count. Thresholds sit
with margin below recall measured at sf{0.001,0.01,0.1} (deterministic
per corpus; figures in each docstring).

The brute-force twins are verification harnesses bounded to test scale
factors (cartesian pair generation over ≤ a few thousand sketch/vector
rows); the approximate operators remain the 100 TB path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vectors import cosine
from ..sources.catalog import load_table
from .curation import BPE_CHECK_SQL, BPE_ENCODE_CHECK_SQL, bpe_check, bpe_encode_check
from .dedup import ngram_jaccard_exact
from .graphs import (
    HITS_CHECK_SQL,
    KCORE_CHECK_SQL,
    PAGERANK_CHECK_SQL,
    hits_check,
    kcore_check,
    pagerank_check,
)
from .sketches import (
    BLOOM_DECONTAM_CHECK_SQL,
    CMS_CHECK_SQL,
    bloom_decontam_check,
    cms_check,
    kmv_overlap_check,
)
from .stats import pca_check


def _one_row(*dfs: DataFrame) -> DataFrame:
    """Cross-join 1-row aggregates into a single row (all sides are
    single rows — the joins are literal-sized)."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.crossJoin(d)
    return out


# ---------------------------------------------------------------------------
# MinHash LSH vs exact n-gram Jaccard (recall ≥ 0.9, precision = 1)
# ---------------------------------------------------------------------------

def minhash_recall_check(spark: SparkSession, sf: str) -> DataFrame:
    """Measured recall at τ=0.7: 24/25 (sf0.01), 252/256 (sf0.1) —
    banding misses only pairs hugging the threshold (catch prob
    1−(1−j⁴)⁸ ≈ 0.89 at j=0.7, ≈ 1 at j≥0.9). Precision is exactly 1
    by construction: every candidate is verified with the same exact
    Jaccard the brute-force twin uses."""
    from ..operators.dedup import minhash_lsh_duplicates
    docs = load_table(spark, sf, "documents")
    exact = ngram_jaccard_exact(spark, sf, threshold=0.7).select("id_a", "id_b")
    lsh = minhash_lsh_duplicates(docs, threshold=0.7).select("id_a", "id_b")
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_found = exact.join(lsh, ["id_a", "id_b"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_found")
    )
    n_fp = lsh.join(exact, ["id_a", "id_b"], "left_anti").agg(
        F.count(F.lit(1)).alias("n_fp")
    )
    return _one_row(n_exact, n_found, n_fp).select(
        "n_exact",
        (F.col("n_found") >= 0.9 * F.col("n_exact")).alias("recall_ok"),
        (F.col("n_fp") == 0).alias("precision_ok"),
    )


MINHASH_RECALL_SQL = r"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(
           CASE WHEN len(toks) >= 3
                THEN list_transform(range(1, len(toks) - 1),
                                    i -> array_to_string(toks[i:i+2], ' '))
                ELSE [array_to_string(toks, ' ')] END) AS shset
  FROM (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '[^\w'']+'),
                       x -> x != '') AS toks
    FROM documents
  )
),
e AS (SELECT doc_id, len(shset) AS n_sh, unnest(shset) AS shingle FROM sh),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter,
         any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb
  FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
       TRUE AS recall_ok, TRUE AS precision_ok
FROM p
WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.7
"""


# ---------------------------------------------------------------------------
# SimHash banding vs exact all-pairs Hamming (recall = 1 by pigeonhole,
# precision = 1 by popcount verify)
# ---------------------------------------------------------------------------

def simhash_recall_check(spark: SparkSession, sf: str) -> DataFrame:
    """Hamming ≤ 3 over 4×16-bit chunks: ≤ 3 flipped bits touch ≤ 3
    chunks, so every true pair shares a chunk — full recall is a
    THEOREM, not a probability, as long as no candidate bucket
    overflows max_bucket (none do at test SFs: the corpus has no
    exact dups, so chunk buckets stay tiny). The exact twin is an
    all-pairs popcount over the (doc_id, simhash) sketch table —
    cartesian in pair count but over 8-byte sketches, fine at test
    SFs, verification-only."""
    from ..operators.dedup import simhash, simhash_duplicates

    docs = load_table(spark, sf, "documents")
    sk = simhash(docs).select("doc_id", "simhash")
    a = sk.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sh_a"))
    b = sk.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sh_b"))
    exact = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))) <= 3
        )
        .select("id_a", "id_b")
    )
    approx = simhash_duplicates(docs, max_hamming=3).select("id_a", "id_b")
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    n_missed = exact.join(approx, ["id_a", "id_b"], "left_anti").agg(
        F.count(F.lit(1)).alias("n_missed")
    )
    n_fp = approx.join(exact, ["id_a", "id_b"], "left_anti").agg(
        F.count(F.lit(1)).alias("n_fp")
    )
    return _one_row(n_docs, n_missed, n_fp).select(
        "n_docs",
        (F.col("n_missed") == 0).alias("recall_one"),
        (F.col("n_fp") == 0).alias("precision_one"),
    )


SIMHASH_RECALL_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       TRUE AS recall_one, TRUE AS precision_one
FROM documents
"""


# ---------------------------------------------------------------------------
# LSH / IVF KNN vs exact brute-force top-k (recall@5)
# ---------------------------------------------------------------------------

def knn_recall_check(spark: SparkSession, sf: str) -> DataFrame:
    """Overall recall@5 across the 10 query vectors, approximate vs
    exact. Check params are recall-tuned (they scan more than the
    headline queries' scale-tuned params — that is the point of a
    recall gate): LSH nbits=6/probe=3 measured 0.78/0.90/0.74 across
    sf{0.001,0.01,0.1} → assert ≥ 0.7; IVF nprobe=10/16 lists
    measured 0.84/0.90/0.86 → assert ≥ 0.8. This synthetic corpus is
    near-uniform (max pairwise cosine ~0.5), the hardest regime for
    ANN — on clustered real embeddings the same machinery clears the
    bar with far less probing."""
    from ..operators.similarity import (
        brute_force_knn,
        get_ivf_centroids,
        ivf_knn,
        lsh_knn,
    )

    emb = load_table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = brute_force_knn(emb, q, k=5).select("query_id", "neighbor_id")
    lsh = lsh_knn(emb, q, dim=64, k=5, nbits=6, probe_hamming=3).select(
        "query_id", "neighbor_id"
    )
    ivf = ivf_knn(
        emb, q, get_ivf_centroids(emb, sf, nlist=16), k=5, nprobe=10
    ).select("query_id", "neighbor_id")

    n_queries = q.agg(F.count(F.lit(1)).alias("n_queries"))
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    lsh_found = exact.join(lsh, ["query_id", "neighbor_id"], "left_semi").agg(
        F.count(F.lit(1)).alias("lsh_found")
    )
    ivf_found = exact.join(ivf, ["query_id", "neighbor_id"], "left_semi").agg(
        F.count(F.lit(1)).alias("ivf_found")
    )
    return _one_row(n_queries, n_exact, lsh_found, ivf_found).select(
        "n_queries",
        (F.col("lsh_found") >= 0.7 * F.col("n_exact")).alias("lsh_recall_ok"),
        (F.col("ivf_found") >= 0.8 * F.col("n_exact")).alias("ivf_recall_ok"),
    )


KNN_RECALL_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       TRUE AS lsh_recall_ok, TRUE AS ivf_recall_ok
FROM embeddings WHERE vec_id < 10
"""


def pq_recall_check(spark: SparkSession, sf: str) -> DataFrame:
    """PQ ANN recall@5 vs brute force over the full corpus, 10 query
    vectors — same harness shape as `knn_recall_check`. Production
    params (m=16, nbits=8, shortlist_mult=8): measured 1.0 recall at
    all three SFs (coarser m=8 codes measured 0.74 at sf0.1, which is
    why the operator defaults to 16 sub-codes) → assert ≥ 0.8. The
    exact re-rank makes returned similarities exact; only a missing
    true neighbor (outside the ADC shortlist) can lower recall."""
    from ..operators.similarity import (
        brute_force_knn,
        get_pq_codebooks,
        pq_encode,
        pq_knn,
    )

    emb = load_table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = brute_force_knn(emb, q, k=5).select("query_id", "neighbor_id")
    books = get_pq_codebooks(emb, sf, m=16, nbits=8)
    approx = pq_knn(pq_encode(emb, books), emb, q, books, k=5).select(
        "query_id", "neighbor_id"
    )
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_found = exact.join(approx, ["query_id", "neighbor_id"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_found")
    )
    return _one_row(n_exact, n_found).select(
        "n_exact",
        (F.col("n_found") >= 0.8 * F.col("n_exact")).alias("pq_recall_ok"),
    )


PQ_RECALL_SQL = """
SELECT CAST(5 * COUNT(*) AS BIGINT) AS n_exact, TRUE AS pq_recall_ok
FROM embeddings WHERE vec_id < 10
"""


def ivfpq_recall_check(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-PQ (composed index, round 7) recall@5 vs brute force —
    same harness as `pq_recall_check`. The compounding error sources
    are (a) a true neighbor's list not probed and (b) ADC dropping it
    from the shortlist; nprobe=10 + the exact re-rank measured 1.0
    recall at all three SFs on this corpus → assert ≥ 0.8."""
    from ..operators.similarity import (
        brute_force_knn,
        get_ivf_centroids,
        get_pq_codebooks,
        ivfpq_knn,
    )

    emb = load_table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = brute_force_knn(emb, q, k=5).select("query_id", "neighbor_id")
    approx = ivfpq_knn(
        emb, q,
        get_ivf_centroids(emb, sf, nlist=16),
        get_pq_codebooks(emb, sf, m=16, nbits=8),
        k=5, nprobe=10,
    ).select("query_id", "neighbor_id")
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_found = exact.join(approx, ["query_id", "neighbor_id"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_found")
    )
    return _one_row(n_exact, n_found).select(
        "n_exact",
        (F.col("n_found") >= 0.8 * F.col("n_exact")).alias("ivfpq_recall_ok"),
    )


IVFPQ_RECALL_SQL = """
SELECT CAST(5 * COUNT(*) AS BIGINT) AS n_exact, TRUE AS ivfpq_recall_ok
FROM embeddings WHERE vec_id < 10
"""


# ---------------------------------------------------------------------------
# Banded sign-LSH near-dup vs exact brute-force cosine pairs
# ---------------------------------------------------------------------------

def embedding_neardup_check(spark: SparkSession, sf: str) -> DataFrame:
    """Exact side restricted to vec_id < 500 on both ends so the
    brute-force pair count stays bounded at every SF (≤ 125k pairs);
    the banded operator runs on the same slice. Measured full-corpus
    recall at τ=0.45: 6/7 (sf0.001), 14/14 (sf0.01), 142/144 (sf0.1)
    → assert ≥ 0.8; precision is exactly 1 (exact-cosine verify).
    n_exact is recomputed independently by DuckDB, which also
    cross-checks the two engines' cosine threshold decisions."""
    from ..operators.similarity import embedding_near_duplicates

    emb = load_table(spark, sf, "embeddings").filter(F.col("vec_id") < 500)
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    exact = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cs",
            cosine(F.col("va").cast("array<double>"), F.col("vb").cast("array<double>")),
        )
        .filter(F.col("cs") >= 0.45)
        .select("id_a", "id_b")
    )
    approx = embedding_near_duplicates(emb, dim=64, threshold=0.45).select(
        "id_a", "id_b"
    )
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_found = exact.join(approx, ["id_a", "id_b"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_found")
    )
    n_fp = approx.join(exact, ["id_a", "id_b"], "left_anti").agg(
        F.count(F.lit(1)).alias("n_fp")
    )
    return _one_row(n_exact, n_found, n_fp).select(
        "n_exact",
        (
            (F.col("n_exact") == 0)
            | (F.col("n_found") >= 0.8 * F.col("n_exact"))
        ).alias("recall_ok"),
        (F.col("n_fp") == 0).alias("precision_ok"),
    )


EMBEDDING_NEARDUP_CHECK_SQL = """
-- FLOAT[] before DOUBLE[] mirrors load_table's array<float>
-- normalization: both engines must see float-rounded vectors even if
-- the corpus ships array<double>, or borderline τ=0.45 pairs diverge
SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
       TRUE AS recall_ok, TRUE AS precision_ok
FROM embeddings a JOIN embeddings b
  ON a.vec_id < b.vec_id AND a.vec_id < 500 AND b.vec_id < 500
WHERE list_cosine_similarity(CAST(CAST(a.embedding AS FLOAT[]) AS DOUBLE[]),
                             CAST(CAST(b.embedding AS FLOAT[]) AS DOUBLE[])) >= 0.45
"""


# ---------------------------------------------------------------------------
# SemDeDup k-means blocking vs exact brute-force cosine pairs
# ---------------------------------------------------------------------------

def semantic_dedup_check(spark: SparkSession, sf: str) -> DataFrame:
    """Same bounded slice (vec_id < 500) and τ=0.45 as the sign-LSH
    check above, but candidates come from the k-means soft-assignment
    blocking (nlist=2⌈√N⌉, nprobe=6) that `semantic_dedup_docs` uses.
    Measured slice recall at that operating point: 7/7 (sf0.001),
    14/14 (sf0.01), 13/13 (sf0.1) → assert ≥ 0.8; full-corpus recall
    1.0 / 1.0 / 0.938 (see semantic_dup_pairs docstring); precision
    exactly 1 (exact-cosine verify).
    Centroids train on the slice itself (seeded, deterministic) so the
    check is self-contained."""
    from ..operators.similarity import (
        get_ivf_centroids,
        semantic_dup_pairs,
        sqrt_nlist,
    )

    emb = load_table(spark, sf, "embeddings").filter(F.col("vec_id") < 500)
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    exact = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cs",
            cosine(F.col("va").cast("array<double>"), F.col("vb").cast("array<double>")),
        )
        .filter(F.col("cs") >= 0.45)
        .select("id_a", "id_b")
    )
    centroids = get_ivf_centroids(
        emb,
        f"slice500:{sf}",
        nlist=sqrt_nlist(emb, cache_key=f"slice500:{sf}", mult=2),
    )
    approx = semantic_dup_pairs(emb, centroids, threshold=0.45).select(
        "id_a", "id_b"
    )
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_found = exact.join(approx, ["id_a", "id_b"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_found")
    )
    n_fp = approx.join(exact, ["id_a", "id_b"], "left_anti").agg(
        F.count(F.lit(1)).alias("n_fp")
    )
    return _one_row(n_exact, n_found, n_fp).select(
        "n_exact",
        (
            (F.col("n_exact") == 0)
            | (F.col("n_found") >= 0.8 * F.col("n_exact"))
        ).alias("recall_ok"),
        (F.col("n_fp") == 0).alias("precision_ok"),
    )


SEMANTIC_DEDUP_CHECK_SQL = """
-- FLOAT[] before DOUBLE[]: see EMBEDDING_NEARDUP_CHECK_SQL
SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
       TRUE AS recall_ok, TRUE AS precision_ok
FROM embeddings a JOIN embeddings b
  ON a.vec_id < b.vec_id AND a.vec_id < 500 AND b.vec_id < 500
WHERE list_cosine_similarity(CAST(CAST(a.embedding AS FLOAT[]) AS DOUBLE[]),
                             CAST(CAST(b.embedding AS FLOAT[]) AS DOUBLE[])) >= 0.45
"""


# ---------------------------------------------------------------------------
# Sequence packing invariants (exact-measure oracle)
# ---------------------------------------------------------------------------

def packing_check(spark: SparkSession, sf: str) -> DataFrame:
    """The greedy pack assignment itself is not SQL-derivable, but its
    conservation laws are: every doc packed exactly once (Σ n_docs =
    corpus count) and no token lost (Σ pack_tokens = Σ per-doc
    whitespace tokens) — both EXACT values DuckDB recomputes
    independently. budget_ok states the greedy invariant (a pack
    exceeds the budget only when it holds a single oversized doc)."""
    from ..operators.packing import pack_documents

    docs = load_table(spark, sf, "documents")
    packs = pack_documents(docs, budget=512)
    return packs.agg(
        F.sum("n_docs").alias("n_docs_packed"),
        F.sum("pack_tokens").alias("total_tokens"),
        F.bool_and(
            (F.col("pack_tokens") <= 512) | (F.col("n_docs") == 1)
        ).alias("budget_ok"),
    )


PACKING_CHECK_SQL = r"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs_packed,
       CAST(SUM(len(list_filter(string_split_regex(trim(text), '\s+'),
                                x -> x != ''))) AS BIGINT) AS total_tokens,
       TRUE AS budget_ok
FROM documents
"""


# ---------------------------------------------------------------------------
# Quantile sketch vs exact percentiles (tolerance-predicate oracle)
# ---------------------------------------------------------------------------

def quantile_sketch_check(spark: SparkSession, sf: str) -> DataFrame:
    """percentile_approx at accuracy 10000 lands within 1% of the
    exact percentile at every test SF (rank error ≤ 1/accuracy); the
    exact values themselves are not emitted because the two engines'
    interpolation arithmetic differs in the last float bits — the
    predicate is the stable cross-engine statement."""
    li = load_table(spark, sf, "lineitem")
    qs = "array(0.25D, 0.5D, 0.75D, 0.99D)"
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr(
                f"percentile_approx(l_extendedprice, {qs}, 10000)"
            ).alias("a"),
            F.expr(f"percentile(l_extendedprice, {qs})").alias("e"),
        )
        .select(
            "l_returnflag",
            "n_rows",
            F.forall(
                F.zip_with(
                    "a", "e", lambda a, e: F.abs(a - e) <= 0.01 * F.abs(e)
                ),
                lambda ok: ok,
            ).alias("sketch_within_1pct"),
        )
        .orderBy("l_returnflag")
    )


QUANTILE_SKETCH_SQL = """
SELECT l_returnflag, COUNT(*) AS n_rows, TRUE AS sketch_within_1pct
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# Winnowing guarantee (recall = 1 theorem vs exact char-23-gram pairs)
# ---------------------------------------------------------------------------

def winnow_guarantee_check(spark: SparkSession, sf: str) -> DataFrame:
    """Schleimer et al.'s guarantee: any shared substring of length
    ≥ k + w − 1 (= 23 here) yields a shared fingerprint. The exact
    twin is the set of doc pairs sharing a character 23-gram — every
    such pair MUST appear among winnowing candidates when no
    document-frequency cap drops fingerprints (check-tuned max_df;
    the production cap trades exactly this tail for boundedness).
    Hash collisions only ever ADD candidates, so recall is a theorem.
    DuckDB recomputes n_exact independently."""
    from ..operators.dedup import pairs_within_groups, winnow_shared_pairs

    L = 23
    docs = load_table(spark, sf, "documents").filter(F.length("text") >= L)
    grams = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.length("text") - (L - 1)),
                    lambda i: F.col("text").substr(i, F.lit(L)),
                )
            )
        ).alias("g"),
    )
    exact = (
        pairs_within_groups(grams, ["g"], "doc_id", 10**6)
        .select("id_a", "id_b")
        .distinct()
    )
    approx = winnow_shared_pairs(
        docs, min_shared=1, max_df=10**9
    ).select("id_a", "id_b")
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_missed = exact.join(approx, ["id_a", "id_b"], "left_anti").agg(
        F.count(F.lit(1)).alias("n_missed")
    )
    return _one_row(n_exact, n_missed).select(
        "n_exact", (F.col("n_missed") == 0).alias("recall_one")
    )


WINNOW_GUARANTEE_SQL = """
WITH g AS (
  SELECT doc_id,
         unnest(list_distinct(
           list_transform(range(1, length(text) - 21),
                          i -> substr(text, i, 23)))) AS g
  FROM documents WHERE length(text) >= 23
),
p AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_exact, TRUE AS recall_one FROM p
"""


# ---------------------------------------------------------------------------
# Connected components vs DuckDB recursive-CTE closure (full-output
# oracle: the one iterative operator, checked value-for-value)
# ---------------------------------------------------------------------------

def cluster_check(spark: SparkSession, sf: str) -> DataFrame:
    """duplicate_clusters over SQL-derivable input (exact-Jaccard
    pairs at τ=0.7) so the ENTIRE cluster assignment — every (doc_id,
    cluster_id, is_canonical) row — is value-compared against DuckDB's
    recursive-CTE transitive closure. Unlike the recall twins this is
    a full-output equality check of an iterative algorithm."""
    from ..operators.dedup import duplicate_clusters
    pairs = ngram_jaccard_exact(spark, sf, threshold=0.7).select(
        "id_a", "id_b"
    )
    return duplicate_clusters(pairs).orderBy("doc_id")


CLUSTER_CHECK_SQL = r"""
WITH RECURSIVE
sh AS (
  SELECT doc_id,
         list_distinct(
           CASE WHEN len(toks) >= 3
                THEN list_transform(range(1, len(toks) - 1),
                                    i -> array_to_string(toks[i:i+2], ' '))
                ELSE [array_to_string(toks, ' ')] END) AS shset
  FROM (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '[^\w'']+'),
                       x -> x != '') AS toks
    FROM documents
  )
),
ex AS (SELECT doc_id, len(shset) AS n_sh, unnest(shset) AS shingle FROM sh),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING CAST(COUNT(*) AS DOUBLE)
         / (any_value(a.n_sh) + any_value(b.n_sh) - COUNT(*)) >= 0.7
),
e AS (SELECT id_a AS src, id_b AS dst FROM p
      UNION SELECT id_b, id_a FROM p),
reach(node, r) AS (
  SELECT DISTINCT src, src FROM e
  UNION
  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.node
)
SELECT node AS doc_id, MIN(r) AS cluster_id,
       node = MIN(r) AS is_canonical
FROM reach GROUP BY node ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Combined suite: every one-row twin above, normalized to a uniform
# (family, m1, m2, ok_a, ok_b) row and unioned. The driver's
# correctness gate records only a bounded prefix of the registry, so
# this single entry carries all NINETEEN family gates (ten
# approximate families including the round-7 IVF-PQ gate + the six
# round-6 iterative/ML gates + the round-11 KMV overlap gate + the
# round-14 Bloom-decontamination and count-min gates) in one driver
# row-set; the individual twins stay registered for local runs.
# ---------------------------------------------------------------------------

def approx_suite_check(spark: SparkSession, sf: str) -> DataFrame:
    def norm(df, family, m1, m2, ok_a, ok_b):
        return df.select(
            F.lit(family).alias("family"),
            F.col(m1).cast("long").alias("m1"),
            (F.col(m2).cast("long") if m2 else F.lit(0).cast("long")).alias("m2"),
            F.col(ok_a).alias("ok_a"),
            (F.col(ok_b) if ok_b else F.lit(True)).alias("ok_b"),
        )

    qs = (
        quantile_sketch_check(spark, sf)
        .agg(
            F.sum("n_rows").alias("m1"),
            F.count(F.lit(1)).alias("m2"),
            F.bool_and("sketch_within_1pct").alias("ok_a"),
        )
        .select(
            F.lit("quantile_sketch").alias("family"),
            F.col("m1").cast("long"),
            F.col("m2").cast("long"),
            "ok_a",
            F.lit(True).alias("ok_b"),
        )
    )
    parts = [
        norm(minhash_recall_check(spark, sf), "minhash",
             "n_exact", None, "recall_ok", "precision_ok"),
        norm(simhash_recall_check(spark, sf), "simhash",
             "n_docs", None, "recall_one", "precision_one"),
        norm(knn_recall_check(spark, sf), "knn",
             "n_queries", None, "lsh_recall_ok", "ivf_recall_ok"),
        norm(embedding_neardup_check(spark, sf), "embedding_neardup",
             "n_exact", None, "recall_ok", "precision_ok"),
        norm(semantic_dedup_check(spark, sf), "semantic_dedup",
             "n_exact", None, "recall_ok", "precision_ok"),
        norm(packing_check(spark, sf), "packing",
             "n_docs_packed", "total_tokens", "budget_ok", None),
        norm(winnow_guarantee_check(spark, sf), "winnow",
             "n_exact", None, "recall_one", None),
        # 9th family (round 6): the PQ ANN gate, driver-enforced like
        # its siblings — engine and SQL sides change together
        norm(pq_recall_check(spark, sf), "pq",
             "n_exact", None, "pq_recall_ok", None),
        # 16th family (round 7): the composed IVF-PQ gate
        norm(ivfpq_recall_check(spark, sf), "ivfpq",
             "n_exact", None, "ivfpq_recall_ok", None),
        qs,
    ]
    # Families 10-15 (round 6): the iterative/ML gates, normalized the
    # same way so BPE training+encoding, k-core, HITS, PageRank and
    # PCA are driver-enforced inside this one frozen slot. Exact
    # measures (merge counts, round-1 merge frequency, graph
    # cardinalities, vector counts) are DuckDB-recomputed on the SQL
    # side; algorithm invariants ride the ok predicates. String-valued
    # checks (the first merge PAIR itself) stay in the per-entry local
    # oracles, which carry richer columns than this digest schema.
    parts += [
        norm(bpe_check(spark, sf), "bpe_train",
             "n_merges", "first_freq", "freqs_positive", None),
        norm(bpe_encode_check(spark, sf), "bpe_encode",
             "n_docs", "total_words", "reconstruction_ok", "bounds_ok"),
        norm(kcore_check(spark, sf), "kcore",
             "n_edges", "n_deg_ge_k", "core_sound_ok", "core_bounded_ok"),
        norm(hits_check(spark, sf), "hits",
             "n_nodes", "n_edges", "hub_norm_ok", "auth_norm_ok"),
        norm(pagerank_check(spark, sf), "pagerank",
             "n_nodes", "n_edges", "rank_conserved", "rank_floor_ok"),
        norm(pca_check(spark, sf), "pca",
             "n_vectors", None, "centered_ok", "ordered_ok"),
    ]
    # 18th family (round 14): Bloom-filter decontamination — exact
    # doc/pair counts DuckDB-recomputed; the no-false-negative and
    # fp-bound laws ride the ok predicates.
    parts.append(
        norm(bloom_decontam_check(spark, sf), "bloom_decontam",
             "n_exact_docs", "n_exact_pairs", "no_false_neg",
             "fp_bound_ok")
    )
    # 19th family (round 14): count-min sketch — fact/probe counts
    # DuckDB-recomputed; the no-underestimate and collision-mass
    # bound laws ride the ok predicates.
    parts.append(
        norm(cms_check(spark, sf), "cms",
             "n_rows", "n_probes", "no_underestimate", "bound_ok")
    )
    # 17th family (round 11): KMV distinct-sketch set algebra — the
    # pairwise overlap estimates must land inside the theoretical
    # bottom-k error bounds (exact pair counts DuckDB-recomputed).
    parts.append(
        norm(
            kmv_overlap_check(spark, sf)
            .agg(
                F.count(F.lit(1)).alias("n_pairs"),
                F.sum("exact_inter").alias("sum_inter"),
                F.bool_and(
                    F.col("distinct_in_bound") & F.col("union_in_bound")
                ).alias("card_ok"),
                F.bool_and("inter_in_bound").alias("inter_ok"),
            ),
            "kmv", "n_pairs", "sum_inter", "card_ok", "inter_ok",
        )
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.union(p)
    return out.orderBy("family")


def _suite_member(family: str, inner: str, m1: str, m2: str | None,
                  ok_a: str, ok_b: str | None) -> str:
    return (
        f"SELECT '{family}' AS family, {m1} AS m1, "
        f"{'CAST(' + m2 + ' AS BIGINT)' if m2 else 'CAST(0 AS BIGINT)'} AS m2, "
        f"{ok_a} AS ok_a, {ok_b or 'TRUE'} AS ok_b FROM ({inner})"
    )


APPROX_SUITE_SQL = "\nUNION ALL\n".join(
    [
        _suite_member("minhash", MINHASH_RECALL_SQL,
                      "n_exact", None, "recall_ok", "precision_ok"),
        _suite_member("simhash", SIMHASH_RECALL_SQL,
                      "n_docs", None, "recall_one", "precision_one"),
        _suite_member("knn", KNN_RECALL_SQL,
                      "n_queries", None, "lsh_recall_ok", "ivf_recall_ok"),
        _suite_member("embedding_neardup", EMBEDDING_NEARDUP_CHECK_SQL,
                      "n_exact", None, "recall_ok", "precision_ok"),
        _suite_member("semantic_dedup", SEMANTIC_DEDUP_CHECK_SQL,
                      "n_exact", None, "recall_ok", "precision_ok"),
        _suite_member("packing", PACKING_CHECK_SQL,
                      "n_docs_packed", "total_tokens", "budget_ok", None),
        _suite_member("winnow", WINNOW_GUARANTEE_SQL,
                      "n_exact", None, "recall_one", None),
        _suite_member("pq", PQ_RECALL_SQL,
                      "n_exact", None, "pq_recall_ok", None),
        _suite_member("ivfpq", IVFPQ_RECALL_SQL,
                      "n_exact", None, "ivfpq_recall_ok", None),
        (
            "SELECT 'quantile_sketch' AS family, CAST(COUNT(*) AS BIGINT) AS m1, "
            "CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS m2, "
            "TRUE AS ok_a, TRUE AS ok_b FROM lineitem"
        ),
        # families 10-15 (round 6): iterative/ML gates — SQL twins
        # imported from their home modules (curation/graphs are
        # import-cycle-safe; stats is not, so PCA's 1-row twin is the
        # inline literal below, kept in sync with stats.PCA_CHECK_SQL)
        _suite_member("bpe_train", BPE_CHECK_SQL,
                      "n_merges", "first_freq", "freqs_positive", None),
        _suite_member("bpe_encode", BPE_ENCODE_CHECK_SQL,
                      "n_docs", "total_words", "reconstruction_ok", "bounds_ok"),
        _suite_member("kcore", KCORE_CHECK_SQL,
                      "n_edges", "n_deg_ge_k", "core_sound_ok", "core_bounded_ok"),
        _suite_member("hits", HITS_CHECK_SQL,
                      "n_nodes", "n_edges", "hub_norm_ok", "auth_norm_ok"),
        _suite_member("pagerank", PAGERANK_CHECK_SQL,
                      "n_nodes", "n_edges", "rank_conserved", "rank_floor_ok"),
        (
            "SELECT 'pca' AS family, CAST(COUNT(*) AS BIGINT) AS m1, "
            "CAST(0 AS BIGINT) AS m2, TRUE AS ok_a, TRUE AS ok_b "
            "FROM embeddings"
        ),
        # 18th family (round 14): Bloom decontamination — exact
        # doc/pair counts recomputed; the Bloom laws ride ok_*
        _suite_member("bloom_decontam", BLOOM_DECONTAM_CHECK_SQL,
                      "n_exact_docs", "n_exact_pairs", "no_false_neg",
                      "fp_bound_ok"),
        # 19th family (round 14): count-min — fact/probe counts
        # recomputed; the CMS laws ride ok_*
        _suite_member("cms", CMS_CHECK_SQL,
                      "n_rows", "n_probes", "no_underestimate",
                      "bound_ok"),
        # 17th family (round 11): KMV overlap — pair count + exact
        # intersection mass recomputed; the bound predicates ride ok_*
        (
            "SELECT 'kmv' AS family, CAST(COUNT(*) AS BIGINT) AS m1, "
            "CAST(SUM(exact_inter) AS BIGINT) AS m2, "
            "TRUE AS ok_a, TRUE AS ok_b FROM ("
            "  SELECT COUNT(*) AS exact_inter"
            "  FROM (SELECT DISTINCT o_orderpriority AS p, o_custkey AS c"
            "        FROM orders) x"
            "  JOIN (SELECT DISTINCT o_orderpriority AS p, o_custkey AS c"
            "        FROM orders) y ON x.c = y.c AND x.p < y.p"
            "  GROUP BY x.p, y.p)"
        ),
    ]
) + "\nORDER BY family"
