"""Retrieval and multimodal plans: exact, LSH, IVF, PQ and IVF-PQ
nearest neighbours over ``embeddings``, embedding near-duplicates,
Johnson-Lindenstrauss projections, TF-IDF, BM25 and phrase search,
reciprocal-rank fusion, ranking quality (NDCG, rank-biased overlap),
item-item co-purchase affinity, and the oracle-checkable slice of the
multimodal path (image metadata, video frame samples and dHash
duplicates, audio windows).

Approximate nearest-neighbour entries are rows-only; their recall is
gated by the checks in plans/verification.py.

Every entry is a (builder, SQL twin) pair registered in
plans/analytics.py and follows the determinism rules stated there.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.similarity import brute_force_knn
from ..sources.catalog import load_table
from .columns import SIGMOID_SCORE_SQL, dec_sum, sigmoid_score


def lsh_knn_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.similarity import lsh_knn

    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return lsh_knn(emb, queries, dim=64, k=5, nbits=8, probe_hamming=2).select(
        "query_id", "neighbor_id", F.col("rank").cast("int").alias("rank")
    )


def embedding_neardup_pairs(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.similarity import embedding_near_duplicates

    # τ = 0.45: this synthetic corpus's max pairwise cosine is ~0.5-0.6,
    # so any higher threshold returns zero rows and verifies nothing
    # (round-1 lesson). At τ this close to the background similarity
    # (random pairs ~0.5 collision prob per bit) banding cannot prune
    # much — information-theoretic, not a plan defect — so the demo
    # runs on the same bounded vec_id<500 slice the recall check
    # gates. At real near-dup thresholds (τ ≥ 0.9) the same operator
    # prunes to ~1e-5 of the pair space with band_bits=16.
    emb = load_table(spark, sf, "embeddings").filter(F.col("vec_id") < 500)
    return embedding_near_duplicates(emb, dim=64, threshold=0.45)


# ---------------------------------------------------------------------------
# Similarity search: exact brute-force KNN (ids + rank only — float
# scores stay out of the hash; ordering is verified via the rank)
# ---------------------------------------------------------------------------

def embedding_knn(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    knn = brute_force_knn(emb, queries, k=5)
    return knn.select(
        "query_id", "neighbor_id", F.col("rank").cast("int").alias("rank")
    )


EMBEDDING_KNN_SQL = """
-- embeddings funnel through FLOAT[] before DOUBLE[] to mirror the
-- engine's load_table normalization (Spark stores array<float>, then
-- computes cosine in double): if the driver corpus ever ships
-- array<double>, both engines must see the same float-rounded vectors
-- or borderline top-k ranks diverge.
WITH q AS (SELECT vec_id AS query_id,
                  CAST(CAST(embedding AS FLOAT[]) AS DOUBLE[]) AS q_vec
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id,
             CAST(CAST(embedding AS FLOAT[]) AS DOUBLE[]) AS c_vec
      FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         list_cosine_similarity(q_vec, c_vec) AS cs
  FROM q CROSS JOIN c
  WHERE query_id != neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cs DESC, neighbor_id ASC) AS INT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# Multimodal: the oracle-checkable slice — payload byte length + sha256
# computed through the real mapInPandas plumbing (binary column, Arrow
# batches), cross-checked against DuckDB's blob functions.
# ---------------------------------------------------------------------------

def multimodal_meta(spark: SparkSession, sf: str) -> DataFrame:
    from ..multimodal.binary_ops import extract_image_features

    docs = load_table(spark, sf, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    return extract_image_features(media, fake=True).select(
        "media_id", "n_bytes", "sha256"
    )


MULTIMODAL_META_SQL = """
SELECT doc_id AS media_id,
       octet_length(encode(text)) AS n_bytes,
       sha256(text) AS sha256
FROM documents
"""


def frame_samples(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-stride 'frame' sampling over binary payloads (video-shaped
    path; byte-slice chunks under the fake codec). Fully oracled — the
    fake frame IS a byte slice of the UTF-8 payload, so DuckDB derives
    frame count/index from octet_length and the content hash itself
    via sha256(substring(text, …)). Precondition (checked at all
    shipped SFs): the documents corpus is pure ASCII, so DuckDB's
    character slicing equals the engine's byte slicing; a non-ASCII
    corpus drift would flag this row loudly rather than silently
    diverge."""
    from ..multimodal.binary_ops import sample_frames

    docs = load_table(spark, sf, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    return sample_frames(media, every_n_bytes=256, fake=True)\
        .sortWithinPartitions("media_id", "frame_idx")


def frame_dhash_dupes(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicate-frame detection across media via 64-bit perceptual
    difference hashes (multimodal/binary_ops.py::frame_dhash): groups
    of frames sharing a dhash, with how many media they span. Fully
    oracled — under the fake codec the hash is a pure byte function
    DuckDB recomputes bit for bit (same ASCII precondition as
    frame_samples; measured dup groups 15/11/146 at the shipped
    SFs)."""
    from ..multimodal.binary_ops import frame_dhash

    docs = load_table(spark, sf, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    return (
        frame_dhash(media, frame_bytes=256, fake=True)
        .groupBy("dhash")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.countDistinct("media_id").alias("n_media"),
        )
        .filter(F.col("n_frames") >= 2)
        .sortWithinPartitions("dhash")
    )


FRAME_DHASH_DUPES_SQL = """
WITH b AS (SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents),
w AS (SELECT doc_id, i,
             substring(text, CAST(i * 256 + 1 AS BIGINT), 256) AS frame
      FROM b, LATERAL (SELECT unnest(range(CAST(ceil(n / 256.0) AS BIGINT))) AS i)
      WHERE n > 0),
ff AS (SELECT doc_id, i, frame FROM w WHERE octet_length(encode(frame)) = 256),
dh AS (
  SELECT doc_id, i,
         string_agg(CASE WHEN unicode(substr(frame, CAST(4*j+1 AS BIGINT), 1))
                            > unicode(substr(frame, CAST(4*j+4 AS BIGINT), 1))
                    THEN '1' ELSE '0' END, '' ORDER BY j) AS dhash
  FROM ff, LATERAL (SELECT unnest(range(64)) AS j)
  GROUP BY doc_id, i
)
SELECT dhash, CAST(COUNT(*) AS BIGINT) AS n_frames,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_media
FROM dh
GROUP BY dhash
HAVING COUNT(*) >= 2
ORDER BY dhash
"""


FRAME_SAMPLES_SQL = """
WITH b AS (SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents),
w AS (SELECT doc_id, text, n,
             unnest(range(CAST(ceil(n / 256.0) AS BIGINT))) AS i
      FROM b WHERE n > 0)
SELECT doc_id AS media_id, CAST(i AS INT) AS frame_idx,
       sha256(substring(text, CAST(i * 256 + 1 AS BIGINT), 256)) AS frame_sha256
FROM w ORDER BY media_id, frame_idx
"""


def audio_windows(spark: SparkSession, sf: str) -> DataFrame:
    """Audio-shaped path: fixed-length PCM windowing (window_audio)
    over binary payloads, FULLY oracled including the energy features:
    under the fake 8-bit-PCM codec every output column is a pure
    function of the payload bytes, which DuckDB re-derives — window
    structure from octet_length, rms/peak from the per-character code
    points of the window substring (valid under the same checked
    ASCII precondition frame_samples documents). The rms comparison
    is exact, not approximate: (byte−128)² values are integers whose
    window sums stay < 2⁵³, so numpy's pairwise mean and DuckDB's
    sequential AVG produce the identical double before the shared
    sqrt/round — summation order cannot flip the hash."""
    from ..multimodal.binary_ops import window_audio

    docs = load_table(spark, sf, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    return (
        window_audio(media, window_samples=2048, fake=True)
        .select(
            "media_id",
            "window_idx",
            "n_samples",
            (F.round(F.col("rms"), 6) + 0.0).alias("rms"),
            "peak",
        )
        .sortWithinPartitions("media_id", "window_idx")
    )


AUDIO_WINDOWS_SQL = """
WITH b AS (SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents),
w AS (SELECT doc_id, text, n,
             unnest(range(CAST(ceil(n / 2048.0) AS BIGINT))) AS i
      FROM b WHERE n > 0),
s AS (SELECT doc_id, i,
             substring(text, CAST(i * 2048 + 1 AS BIGINT), 2048) AS win
      FROM w),
c AS (SELECT doc_id, i,
             unnest(list_transform(range(1, length(win) + 1),
                    j -> ascii(substring(win, CAST(j AS BIGINT), 1)) - 128)) AS v
      FROM s)
SELECT doc_id AS media_id, CAST(i AS INT) AS window_idx,
       CAST(COUNT(*) AS INT) AS n_samples,
       ROUND(sqrt(AVG(CAST(v * v AS DOUBLE))), 6) + 0.0 AS rms,
       CAST(MAX(abs(v)) AS INT) AS peak
FROM c GROUP BY doc_id, i ORDER BY media_id, window_idx
"""


# ---------------------------------------------------------------------------
# IVF ANN (rows-only): k-means coarse quantizer + probed-list re-rank —
# the second approximate-similarity index family beside sign-LSH
# ---------------------------------------------------------------------------

def ivf_knn_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.similarity import get_ivf_centroids, ivf_knn

    emb = load_table(spark, sf, "embeddings")
    # index construction happens once per (corpus, nlist) — cached
    centroids = get_ivf_centroids(emb, sf, nlist=16)
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_knn(emb, queries, centroids, k=5, nprobe=4).select(
        "query_id", "neighbor_id", F.col("rank").cast("int").alias("rank")
    )


def pq_knn_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    """Rows-only: product-quantization ANN (Jégou et al. 2011) — the
    memory-bound index family beside sign-LSH and IVF. 64-dim float32
    vectors compress to 16 one-byte sub-codes (16×); the scan reads
    codes, ADC lookup tables score them, and only a per-query
    shortlist touches raw vectors for the exact re-rank. Measured
    recall@5 vs brute force at m=16/nbits=8/shortlist_mult=8: 1.0 at
    sf0.001, sf0.01 AND sf0.1 (the near-uniform regime where coarser
    m=8 codes drop to 0.74) — gated by `pq_recall_check`."""
    from ..operators.similarity import get_pq_codebooks, pq_encode, pq_knn

    emb = load_table(spark, sf, "embeddings")
    books = get_pq_codebooks(emb, sf, m=16, nbits=8)
    queries = emb.filter(F.col("vec_id") < 10)
    return pq_knn(pq_encode(emb, books), emb, queries, books, k=5).select(
        "query_id", "neighbor_id", F.col("rank").cast("int").alias("rank")
    )


def ivfpq_knn_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    """Rows-only: the COMPOSED IVF-PQ index (round 7) — coarse
    k-means routing to probed lists, PQ/ADC scoring inside them, the
    classic Faiss IndexIVFPQ pairing that bounds BOTH the scan (only
    probed lists) and the bytes per candidate (m codes). nprobe=10 of
    nlist=16 at the test corpus's near-uniform geometry (same probe
    breadth knn_recall_check uses for IVF-Flat); gated by
    `ivfpq_recall_check` in the driver suite."""
    from ..operators.similarity import (
        get_ivf_centroids,
        get_pq_codebooks,
        ivfpq_knn,
    )

    emb = load_table(spark, sf, "embeddings")
    centroids = get_ivf_centroids(emb, sf, nlist=16)
    books = get_pq_codebooks(emb, sf, m=16, nbits=8)
    queries = emb.filter(F.col("vec_id") < 10)
    return ivfpq_knn(
        emb, queries, centroids, books, k=5, nprobe=10
    ).select(
        "query_id", "neighbor_id", F.col("rank").cast("int").alias("rank")
    )


# ---------------------------------------------------------------------------
# TF-IDF: term frequency × inverse document frequency, top-3 terms per
# doc. Two linear shuffles (tf groupBy, df groupBy) + a broadcast-able
# join of the term-df table; the per-doc top-k is one keyed window.
# ln() agrees to the ulp across engines; scores round at 6 digits.
# ---------------------------------------------------------------------------

def tfidf_top_terms(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions.text import bpe_ish_tokens
    from ..operators.topk import top_k_per_group

    docs = load_table(spark, sf, "documents")
    n_docs = docs.count()  # scalar for idf; one cheap count-only scan

    terms = docs.select(
        "doc_id", F.explode(bpe_ish_tokens(F.col("text"))).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_tbl = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(df_tbl, "term").withColumn(
        "tfidf",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
        ),
    )
    return top_k_per_group(
        scored,
        ["doc_id"],
        [F.col("tfidf").desc(), F.col("term").asc()],
        3,
    ).select("doc_id", "term", "tfidf", F.col("rank").cast("int").alias("rank"))


TFIDF_SQL = r"""
WITH terms AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '[^\w'']+'),
                            x -> x != '')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, term, tfidf,
         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                 ORDER BY tfidf DESC, term ASC) AS INT) AS rank
  FROM scored
)
SELECT doc_id, term, tfidf, rank FROM ranked WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# BM25 ranked retrieval — the query-side complement of tfidf_top_terms.
# Scores rounded BEFORE ranking and ties broken on doc_id so both
# engines make the same top-k cut (raw float ULP noise can't flip it).
# ---------------------------------------------------------------------------

_BM25_TERMS = ["spark", "join", "window"]


def bm25_top_docs_q(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.search import bm25_top_docs

    d = load_table(spark, sf, "documents")
    return bm25_top_docs(d, _BM25_TERMS, k=10)


BM25_SQL = r"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '[^\w'']+'),
                       x -> x != '') AS t
    FROM documents
), lengths AS (
    SELECT doc_id, len(t) AS dl FROM toks
), stats AS (
    SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM lengths
), postings AS (
    SELECT doc_id, term, COUNT(*) AS tf
    FROM (SELECT doc_id, unnest(t) AS term FROM toks)
    WHERE term IN ('spark', 'join', 'window')
    GROUP BY doc_id, term
), dfs AS (
    SELECT term, COUNT(DISTINCT doc_id) AS df FROM postings GROUP BY term
)
SELECT doc_id,
       ROUND(SUM(idf * (tf * 2.2)
                 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 3) AS bm25
FROM (
    SELECT p.doc_id, p.tf, l.dl, s.n_docs, s.avgdl,
           ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) AS idf
    FROM postings p
    JOIN dfs d USING (term)
    JOIN lengths l USING (doc_id)
    CROSS JOIN stats s
)
GROUP BY doc_id
ORDER BY bm25 DESC, doc_id ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# Per-label embedding centroids as long-form (label, dim, mean) — the
# array-analytics shape behind IVF/k-means: posexplode the vector,
# one groupBy over (label, dim). Long form keeps the oracle exact
# (no array-of-float compare) and the plan a single shuffle.
# ---------------------------------------------------------------------------

def embedding_dim_means(spark: SparkSession, sf: str) -> DataFrame:
    e = load_table(spark, sf, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("dim0", "v"))
        .select("label", (F.col("dim0") + 1).alias("dim"), "v")
        .groupBy("label", "dim")
        .agg(
            # Exact decimal sum (order-independent) then round; `+ 0.0`
            # collapses IEEE -0.0 to 0.0 — a mean of negatives that
            # rounds to zero keeps its sign on one engine and not the
            # other (round-1 sf0.001 failure).
            (
                F.round(
                    F.sum(F.col("v").cast("decimal(30,12)")).cast("double")
                    / F.count(F.col("v")),
                    4,
                )
                + F.lit(0.0)
            ).alias("mean_v"),
            F.count(F.lit(1)).alias("n_vectors"),
        )
        .orderBy("label", "dim")
    )


EMBEDDING_DIM_MEANS_SQL = """
WITH nums AS (SELECT CAST(range AS INT) AS dim FROM range(1, 100000)),
exploded AS (
    -- FLOAT before DOUBLE mirrors load_table's array<float>
    -- normalization (guards an array<double> corpus drift)
    SELECT e.label, n.dim, CAST(CAST(e.embedding[n.dim] AS FLOAT) AS DOUBLE) AS v
    FROM embeddings e JOIN nums n ON n.dim <= len(e.embedding)
)
SELECT label, dim,
       ROUND(CAST(SUM(CAST(v AS DECIMAL(30,12))) AS DOUBLE) / COUNT(v), 4) + 0.0
           AS mean_v,
       COUNT(*) AS n_vectors
FROM exploded
GROUP BY label, dim
ORDER BY label, dim
"""


# ---------------------------------------------------------------------------
# Johnson–Lindenstrauss random projection, 64 → 16 dims: y_j =
# (Σ_i x_i·s_ij)/√16 with a DETERMINISTIC ±1 matrix derived from
# md5(i||'_'||j) (Achlioptas 2003 sign matrices need only 4-wise
# independence, which a cryptographic digest over-delivers; md5 is
# the one hash both engines compute identically, the same trick as
# the repo's md5-uniform weighted sampling). Everything is bit-exact:
# the per-component fold runs in fixed index order (Spark F.aggregate
# ≡ DuckDB list_reduce, both sequential), products and adds are IEEE
# doubles in identical order, and the final /4 is an exact binary
# scaling. No Python, no shuffle — one narrow map over the vectors;
# at 100 TB this is embarrassingly parallel and the 1,024-entry sign
# matrix is a plan-time constant.
# ---------------------------------------------------------------------------

_JL_IN, _JL_OUT = 64, 16


def _jl_signs(j: int) -> list[float]:
    """Column j of the ±1 matrix, derived ONCE at plan-build time from
    md5('i_j') (hashlib md5 ≡ the engines' md5 — the ORACLE recomputes
    these in-engine, cross-checking this derivation). Baking the 1,024
    constants into the plan removes 1,280 runtime digest evaluations
    per row (measured 6.1 s → sub-second at sf0.1)."""
    import hashlib

    return [
        1.0 if hashlib.md5(f"{i}_{j}".encode()).hexdigest()[0] < "8" else -1.0
        for i in range(_JL_IN)
    ]


def _jl_comp(x: F.Column, j: int) -> F.Column:
    """Component j of the projection of vector column ``x``."""
    signs = F.array(*[F.lit(s) for s in _jl_signs(j)])
    return (
        F.aggregate(
            F.sequence(F.lit(0), F.lit(_JL_IN - 1)),
            F.lit(0.0),
            lambda acc, i: acc
            + F.element_at(x, i + 1).cast("double")
            * F.element_at(signs, i + 1),
        )
        / F.lit(4.0)  # √16 — exact binary scaling
    )


def jl_project_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    x = F.col("embedding")

    # two projections so each component is EVALUATED ONCE: the norm
    # reads the materialized y columns instead of re-expanding 16 more
    # fold trees (a single-select formulation re-evaluated every comp
    # inside the norm — measured 2.1 s; a fully unrolled 1,280-term
    # chain was worse still, 6.9 s, blowing the codegen budget).
    norm = F.lit(0.0)
    for j in range(_JL_OUT):
        norm = norm + F.col(f"y{j}") * F.col(f"y{j}")
    return (
        emb.select(
            "vec_id", *[_jl_comp(x, j).alias(f"y{j}") for j in range(_JL_OUT)]
        )
        .select("vec_id", "y0", "y1", "y2", "y3", norm.alias("proj_sq_norm"))
        .sortWithinPartitions("vec_id")
    )


def _jl_sql_comp(j: int) -> str:
    return (
        "list_reduce(list_transform(range(0, 64), i -> "
        "CAST(embedding[i + 1] AS DOUBLE) * "
        f"(CASE WHEN substring(md5(CAST(i AS VARCHAR) || '_' || '{j}'), 1, 1)"
        " < '8' THEN 1.0 ELSE -1.0 END)), (a, b) -> a + b) / 4.0"
    )


JL_PROJECT_SQL = (
    "SELECT vec_id, "
    + ", ".join(f"{_jl_sql_comp(j)} AS y{j}" for j in range(4))
    + ", list_reduce(list_transform(["
    + ", ".join(_jl_sql_comp(j) for j in range(_JL_OUT))
    + "], y -> y * y), (a, b) -> a + b) AS proj_sq_norm"
    + " FROM embeddings ORDER BY vec_id"
)


# ---------------------------------------------------------------------------
# JL distortion gate: the projection above is only useful if it
# preserves pairwise geometry, so this check computes the
# squared-distance ratio proj²/orig² for every pair among the first
# 16 vectors (120 pairs — a bounded sample independent of corpus
# size) and pins: the exact pair count, ratio extremes inside a
# generous JL band for k=16, and the mean ratio near 1 (the JL
# expectation E[‖Py‖²/‖y‖²] = 1). All distances are fixed-order
# in-row folds (bit-exact cross-engine, like the projection); the
# mean is an exact decimal sum of ratios over the pair count.
# ---------------------------------------------------------------------------

def jl_distortion_check(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings").filter(F.col("vec_id") < 16)

    def proj_cols(side: str):
        x = F.col(f"{side}_emb")
        return F.array(*[_jl_comp(x, j) for j in range(_JL_OUT)])

    a = emb.select(F.col("vec_id").alias("ida"), F.col("embedding").alias("a_emb"))
    b = emb.select(F.col("vec_id").alias("idb"), F.col("embedding").alias("b_emb"))
    pairs = (
        a.join(b, F.col("ida") < F.col("idb"))
        .withColumn("pa", proj_cols("a"))
        .withColumn("pb", proj_cols("b"))
        .withColumn(
            "d_orig",
            F.aggregate(
                F.sequence(F.lit(0), F.lit(_JL_IN - 1)),
                F.lit(0.0),
                lambda acc, i: acc
                + (
                    F.element_at(F.col("a_emb"), i + 1).cast("double")
                    - F.element_at(F.col("b_emb"), i + 1).cast("double")
                )
                * (
                    F.element_at(F.col("a_emb"), i + 1).cast("double")
                    - F.element_at(F.col("b_emb"), i + 1).cast("double")
                ),
            ),
        )
        .withColumn(
            "d_proj",
            F.aggregate(
                F.sequence(F.lit(0), F.lit(_JL_OUT - 1)),
                F.lit(0.0),
                lambda acc, j: acc
                + (
                    F.element_at(F.col("pa"), j + 1)
                    - F.element_at(F.col("pb"), j + 1)
                )
                * (
                    F.element_at(F.col("pa"), j + 1)
                    - F.element_at(F.col("pb"), j + 1)
                ),
            ),
        )
        .withColumn("ratio", F.col("d_proj") / F.col("d_orig"))
    )
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.min("ratio"), 6).alias("min_ratio"),
        F.round(F.max("ratio"), 6).alias("max_ratio"),
        (
            (F.sum(F.col("ratio").cast("decimal(30,12)")).cast("double")
             / F.count(F.lit(1)))
            .between(0.7, 1.3)
        ).alias("mean_ratio_ok"),
        (F.min("ratio") > 0.1).alias("lower_ok"),
        (F.max("ratio") < 3.0).alias("upper_ok"),
    )


_JL_SQL_PROJ = (
    "["
    + ", ".join(
        "list_reduce(list_transform(range(0, 64), i -> "
        "CAST(e[i + 1] AS DOUBLE) * (CASE WHEN "
        f"substring(md5(CAST(i AS VARCHAR) || '_' || '{j}'), 1, 1) < '8' "
        "THEN 1.0 ELSE -1.0 END)), (x, y) -> x + y) / 4.0"
        for j in range(_JL_OUT)
    )
    + "]"
)


JL_DISTORTION_SQL = f"""
WITH v AS (
  SELECT vec_id, embedding AS e, {_JL_SQL_PROJ.replace('e[', 'embedding[')} AS p
  FROM embeddings WHERE vec_id < 16
),
pairs AS (
  SELECT a.vec_id AS ida, b.vec_id AS idb,
         list_reduce(list_transform(range(0, 64), i ->
           (CAST(a.e[i + 1] AS DOUBLE) - CAST(b.e[i + 1] AS DOUBLE))
           * (CAST(a.e[i + 1] AS DOUBLE) - CAST(b.e[i + 1] AS DOUBLE))),
           (x, y) -> x + y) AS d_orig,
         list_reduce(list_transform(range(0, 16), j ->
           (a.p[j + 1] - b.p[j + 1]) * (a.p[j + 1] - b.p[j + 1])),
           (x, y) -> x + y) AS d_proj
  FROM v a JOIN v b ON a.vec_id < b.vec_id
),
r AS (SELECT d_proj / d_orig AS ratio FROM pairs)
SELECT COUNT(*) AS n_pairs,
       ROUND(MIN(ratio), 6) AS min_ratio,
       ROUND(MAX(ratio), 6) AS max_ratio,
       CAST(SUM(CAST(ratio AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*)
         BETWEEN 0.7 AND 1.3 AS mean_ratio_ok,
       MIN(ratio) > 0.1 AS lower_ok,
       MAX(ratio) < 3.0 AS upper_ok
FROM r
"""


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of BM25 and embedding KNN.
#
# The two source rankings are the registry's own proven-deterministic
# retrieval queries (bm25_top_docs rounds scores to 3 before ranking;
# brute_force_knn breaks cosine ties on neighbor id — both
# hash-green against DuckDB for multiple rounds), truncated at
# k_list=50. Fusion is rank-only arithmetic (1/(60+r): int inputs,
# one IEEE division each, one fixed-order double add), so the fused
# score is bit-identical across engines before the final round.
#
# Scale posture: each list is top-k-bounded by construction
# (TakeOrderedAndProject on the lexical side, per-query top-k on the
# vector side), so the fusion join touches ≤2k rows regardless of
# corpus size — the corpus-sized work lives in the upstream retrieval
# operators, which are independently scale-shaped.
# ---------------------------------------------------------------------------

_RRF_K = 60          # Cormack et al.'s constant


_RRF_LIST = 50       # per-list truncation


_RRF_TERMS = ["spark", "join", "window"]  # the registry's BM25 query


_RRF_QVEC = 0        # query = embedding of vec_id 0


def rank_lists(spark: SparkSession, sf: str) -> tuple[DataFrame, DataFrame]:
    """The two ≤``_RRF_LIST``-row rankings fused by RRF (and compared
    by RBO in ranking_rbo): (lexical doc_id+r_lex, vector
    doc_id+r_vec)."""
    from ..operators.search import bm25_top_docs
    from ..operators.similarity import brute_force_knn

    docs = load_table(spark, sf, "documents")
    lex = bm25_top_docs(docs, _RRF_TERMS, k=_RRF_LIST)
    # rank within a ≤50-row relation: the single-partition window is
    # bounded by the list size, not the corpus (warning-free key)
    from ..operators.ranks import constant_partition_key

    lex_w = Window.partitionBy(constant_partition_key("doc_id")).orderBy(
        F.desc("bm25"), F.asc("doc_id")
    )
    lexr = lex.select(
        "doc_id", F.row_number().over(lex_w).cast("int").alias("r_lex")
    )

    emb = load_table(spark, sf, "embeddings")
    knn = brute_force_knn(
        emb, emb.filter(F.col("vec_id") == _RRF_QVEC), k=_RRF_LIST
    )
    vecr = knn.select(
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").cast("int").alias("r_vec"),
    )
    return lexr, vecr


def hybrid_search_rrf(spark: SparkSession, sf: str) -> DataFrame:
    lexr, vecr = rank_lists(spark, sf)
    fused = lexr.join(vecr, "doc_id", "full_outer")
    rrf = (
        F.coalesce(1.0 / (F.lit(_RRF_K) + F.col("r_lex")), F.lit(0.0))
        + F.coalesce(1.0 / (F.lit(_RRF_K) + F.col("r_vec")), F.lit(0.0))
    )
    return (
        fused.select(
            "doc_id", "r_lex", "r_vec", F.round(rrf, 6).alias("rrf")
        )
        .orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(20)
    )


# The lexical/vector rank-list CTE block is shared with the RBO
# entry below (same two rankings, different combiner).
RANKLISTS_CTE = rf"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '[^\w'']+'),
                       x -> x != '') AS t
    FROM documents
), lengths AS (
    SELECT doc_id, len(t) AS dl FROM toks
), stats AS (
    SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM lengths
), postings AS (
    SELECT doc_id, term, COUNT(*) AS tf
    FROM (SELECT doc_id, unnest(t) AS term FROM toks)
    WHERE term IN ('spark', 'join', 'window')
    GROUP BY doc_id, term
), dfs AS (
    SELECT term, COUNT(DISTINCT doc_id) AS df FROM postings GROUP BY term
), bm25 AS (
    SELECT doc_id,
           ROUND(SUM(idf * (tf * 2.2)
                     / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 3)
               AS bm25
    FROM (
        SELECT p.doc_id, p.tf, l.dl, s.n_docs, s.avgdl,
               ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) AS idf
        FROM postings p
        JOIN dfs d USING (term)
        JOIN lengths l USING (doc_id)
        CROSS JOIN stats s
    )
    GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id ASC
    LIMIT {_RRF_LIST}
), lexr AS (
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS INT)
               AS r_lex
    FROM bm25
), q AS (
    SELECT vec_id AS query_id,
           CAST(CAST(embedding AS FLOAT[]) AS DOUBLE[]) AS q_vec
    FROM embeddings WHERE vec_id = {_RRF_QVEC}
), c AS (
    SELECT vec_id AS neighbor_id,
           CAST(CAST(embedding AS FLOAT[]) AS DOUBLE[]) AS c_vec
    FROM embeddings
), vecr AS (
    SELECT neighbor_id AS doc_id, r_vec FROM (
        SELECT neighbor_id,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY list_cosine_similarity(q_vec, c_vec) DESC,
                            neighbor_id ASC) AS INT) AS r_vec
        FROM q CROSS JOIN c
        WHERE query_id != neighbor_id
    ) WHERE r_vec <= {_RRF_LIST}
)
"""


HYBRID_RRF_SQL = RANKLISTS_CTE + f"""
SELECT COALESCE(lexr.doc_id, vecr.doc_id) AS doc_id, r_lex, r_vec,
       ROUND(COALESCE(1.0 / ({_RRF_K} + r_lex), 0.0)
             + COALESCE(1.0 / ({_RRF_K} + r_vec), 0.0), 6) AS rrf
FROM lexr FULL OUTER JOIN vecr ON lexr.doc_id = vecr.doc_id
ORDER BY rrf DESC, doc_id ASC
LIMIT 20
"""


# ---------------------------------------------------------------------------
# NDCG@20 for the deterministic sigmoid scorer (the
# model-evaluation family in plans/stats.py) against the graded 0–9 labels: DCG with
# gains 2^label − 1 over the top-20 by (rounded score, id), IDCG over
# the label-ideal ordering, both TakeOrderedAndProject cuts (no
# global window — only the k survivors ever see a rank). The
# per-position discount 1/log2(pos+1) is precomputed in Python and
# embedded as the SAME double literals in both engines, because
# Spark's LOG2 (Math.log(x)/Math.log(2)) and DuckDB's std::log2 are
# not guaranteed to agree in the last ulp. Gains are exact ints,
# gain·weight is one IEEE multiply rounded to 6 before the exact
# decimal sum.
# ---------------------------------------------------------------------------

_NDCG_K = 20


# positions 1..20 → shortest round-trip double literals (both engines
# parse decimal literals to the nearest double, so the values are
# bit-identical)
_NDCG_W = [1.0 / math.log2(p + 1) for p in range(1, _NDCG_K + 1)]


def _pos_weight(pos_col: F.Column) -> F.Column:
    expr = F.lit(0.0)
    for p, w in enumerate(_NDCG_W, start=1):
        expr = F.when(pos_col == p, F.lit(w)).otherwise(expr)
    return expr


def score_ndcg(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    s = emb.select(
        "vec_id",
        F.round(sigmoid_score(), 6).alias("score"),
        (F.pow(F.lit(2.0), F.col("label")) - 1.0).alias("gain"),
        F.col("label"),
    )

    def dcg(ordered: DataFrame, *keys: F.Column) -> DataFrame:
        top = ordered.orderBy(*keys).limit(_NDCG_K)
        # row_number inside the ≤20-row cut (single partition of 20
        # rows, bounded by k); re-sorting by the same keys inside the
        # window keeps positions identical to the cut order
        from ..operators.ranks import constant_partition_key

        w = Window.partitionBy(constant_partition_key("vec_id")).orderBy(
            *keys
        )
        return top.select(
            F.round(
                F.col("gain") * _pos_weight(F.row_number().over(w)), 6
            ).alias("term")
        ).agg(F.round(dec_sum(F.col("term"), 6).cast("double"), 6).alias("v"))

    model = dcg(s, F.desc("score"), F.asc("vec_id"))
    ideal = dcg(s, F.desc("label"), F.asc("vec_id"))
    return (
        model.select(F.col("v").alias("dcg"))
        .crossJoin(F.broadcast(ideal.select(F.col("v").alias("idcg"))))
        .select(
            "dcg",
            "idcg",
            F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg"),
        )
    )


def _ndcg_weight_case(pos_expr: str) -> str:
    arms = " ".join(
        f"WHEN {p} THEN {w!r}" for p, w in enumerate(_NDCG_W, start=1)
    )
    return f"CASE {pos_expr} {arms} ELSE 0.0 END"


SCORE_NDCG_SQL = f"""
WITH s AS (
    SELECT vec_id, ROUND({SIGMOID_SCORE_SQL}, 6) AS score,
           2.0 ** label - 1.0 AS gain, label
    FROM embeddings
), model_top AS (
    SELECT gain,
           ROW_NUMBER() OVER (ORDER BY score DESC, vec_id ASC) AS pos
    FROM s ORDER BY score DESC, vec_id ASC LIMIT {_NDCG_K}
), ideal_top AS (
    SELECT gain,
           ROW_NUMBER() OVER (ORDER BY label DESC, vec_id ASC) AS pos
    FROM s ORDER BY label DESC, vec_id ASC LIMIT {_NDCG_K}
), m AS (
    SELECT ROUND(CAST(SUM(CAST(ROUND(gain * {_ndcg_weight_case("pos")}, 6)
                               AS DECIMAL(30,6))) AS DOUBLE), 6) AS dcg
    FROM model_top
), i AS (
    SELECT ROUND(CAST(SUM(CAST(ROUND(gain * {_ndcg_weight_case("pos")}, 6)
                               AS DECIMAL(30,6))) AS DOUBLE), 6) AS idcg
    FROM ideal_top
)
SELECT dcg, idcg, ROUND(dcg / idcg, 6) AS ndcg FROM m CROSS JOIN i
"""


# ---------------------------------------------------------------------------
# Item-item co-purchase affinity: parts bought by the same customer,
# scored by cosine over the binary customer-incidence vectors —
# cos(i,j) = |C_i ∩ C_j| / √(|C_i|·|C_j|) — the memory-based
# collaborative-filtering similarity. Dataflow: distinct (customer,
# part) incidence → within-customer pair expansion (p1 < p2) → pair
# co-counts ⋈ per-part degrees → exact top-k. The pair expansion is
# quadratic in per-customer basket size, so the frame function takes
# a DIMSUM-style ``max_basket`` cap: each oversized basket keeps the
# max_basket parts with the smallest md5(cust:part) — a deterministic
# per-customer uniform sample (md5 is the repo's engine-identical
# hash), selected IN-ROW on the already-collected basket so the plan
# gains no shuffle.
#
# Recall contract (stated like the dedup hot-bucket caps): with
# cap m, a pair co-bought by a customer with basket b > m survives
# that customer's basket with P ≈ (m/b)·((m−1)/(b−1)); co-counts are
# LOWER bounds, exact for every pair all of whose supporting baskets
# are ≤ m. Degrees (the cosine denominator) are always computed from
# the FULL incidence. max_basket=None (the library default) is exact.
# The registry entry caps at 64 — p99 basket is ~77 at the shipped
# SFs, so the cap provably exercises the capped semantics against
# the DuckDB oracle, which mirrors the same md5 selection.
# Degrees join un-hinted: the part dimension scales with SF, so AQE
# picks the strategy (the r6 broadcast-hint lesson).
# ---------------------------------------------------------------------------

_AFFINITY_MIN_CO = 2


_AFFINITY_K = 50


_AFFINITY_MAX_BASKET = 64


def part_affinity_frame(
    cp: DataFrame, max_basket: int | None = None
) -> DataFrame:
    """Top-k part pairs by incidence-cosine from a distinct
    (cust, part) incidence frame. ``max_basket`` bounds every
    customer's pair contribution to max_basket·(max_basket−1)/2 —
    the skew guard a heavy-tailed key needs at scale (see the recall
    contract above); None is exact."""
    cp = cp.localCheckpoint()  # feeds the expansion AND the degrees
    # pair expansion ARRAY-SIDE: one groupBy(cust) shuffle of the
    # incidence rows, then in-row combinations of the sorted basket
    # (p1 < p2 by sort order) — vs the naive equi-self-join, which
    # shuffles the incidence twice and pushes every expanded pair row
    # through join machinery before any partial aggregation
    # (measured: 14.9 → 6.6-8.7 s at sf0.1; 123 → 34 s at the 10×
    # stress warehouse, ratio 8.2× → 3.9×).
    baskets = cp.groupBy("cust").agg(
        F.sort_array(F.collect_set("part")).alias("ps")
    )
    if max_basket is not None:
        m = int(max_basket)
        # in-row capped selection: smallest m by (md5(cust:part), part)
        # — deterministic, partition-invariant, and mirrored verbatim
        # by the oracle's ROW_NUMBER-over-md5 window
        baskets = baskets.select(
            "cust",
            F.expr(
                "CASE WHEN size(ps) <= "
                f"{m} THEN ps ELSE array_sort(transform(slice(array_sort("
                "transform(ps, p -> struct(md5(concat(cast(cust AS string),"
                " ':', cast(p AS string))) AS h, p AS p))), 1, "
                f"{m}), s -> s.p)) END"
            ).alias("ps"),
        )
    # each pair rides the shuffle as ONE packed long (p1·2³² + p2 —
    # partkeys are far below 2³¹ at any shipped SF), halving shuffle
    # width vs a two-long struct and making the aggregate key a
    # primitive
    pair_expr = F.expr(
        "flatten(transform(ps, (x, i) ->"
        " transform(slice(ps, i + 2, size(ps)), y ->"
        " x * 4294967296L + y)))"
    )
    co = (
        baskets.select(F.explode(pair_expr).alias("pk"))
        # r15 (guide §1.1 measured, §2.2): the pair keys are ~97%
        # UNIQUE (12.34M distinct of 12.73M at sf0.1 — co >= 2 is the
        # rare case by construction), so the default partial+final
        # aggregate built two rounds of ~12M-entry hash tables to
        # remove 3% of the shuffle rows. Repartitioning by the key
        # FIRST moves the exchange below the aggregate (the planner
        # reuses the partitioning; net exchange count unchanged) and
        # ships the raw 8-byte longs instead: measured 7.7-8.1 s ->
        # 5.8-5.9 s for the explode+count subplan, interleaved, and
        # identical counts (placement-only change). Data-dependent
        # trade, documented: a corpus whose pairs repeat heavily
        # (multiplicity >> 1) would prefer the map-side-combine shape
        # this replaces; the basket cap keeps multiplicity near 1
        # (mean 1.03 measured) at every shipped SF.
        .repartition("pk")
        .groupBy("pk")
        .agg(F.count(F.lit(1)).alias("co"))
        .filter(F.col("co") >= _AFFINITY_MIN_CO)
        .select(
            F.expr("pk DIV 4294967296L").alias("p1"),
            F.expr("pk % 4294967296L").alias("p2"),
            "co",
        )
    )
    deg = cp.groupBy("part").agg(F.count(F.lit(1)).alias("d"))
    scored = (
        co.join(deg.select(F.col("part").alias("p1"), F.col("d").alias("d1")), "p1")
        .join(deg.select(F.col("part").alias("p2"), F.col("d").alias("d2")), "p2")
        .select(
            "p1",
            "p2",
            F.col("co").cast("long").alias("co"),
            F.round(
                F.col("co")
                / F.sqrt((F.col("d1") * F.col("d2")).cast("double")),
                6,
            ).alias("cosine"),
        )
    )
    return scored.orderBy(
        F.desc("cosine"), F.asc("p1"), F.asc("p2")
    ).limit(_AFFINITY_K)


def part_affinity_cosine(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    cp = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part")
        )
        .distinct()
    )
    return part_affinity_frame(cp, max_basket=_AFFINITY_MAX_BASKET)


PART_AFFINITY_SQL = f"""
WITH cp AS (
    SELECT DISTINCT o_custkey AS cust, l_partkey AS part
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), capped AS (
    -- mirror of the Spark in-row cap: per customer keep the
    -- {_AFFINITY_MAX_BASKET} parts with the smallest
    -- (md5(cust:part), part)
    SELECT cust, part FROM (
        SELECT cust, part,
               ROW_NUMBER() OVER (
                   PARTITION BY cust
                   ORDER BY md5(CAST(cust AS VARCHAR) || ':' ||
                                CAST(part AS VARCHAR)), part) AS rn
        FROM cp)
    WHERE rn <= {_AFFINITY_MAX_BASKET}
), co AS (
    SELECT a.part AS p1, b.part AS p2, COUNT(*) AS co
    FROM capped a JOIN capped b ON a.cust = b.cust AND a.part < b.part
    GROUP BY a.part, b.part
    HAVING COUNT(*) >= {_AFFINITY_MIN_CO}
), deg AS (
    -- degrees from the FULL incidence (cosine denominator is exact)
    SELECT part, COUNT(*) AS d FROM cp GROUP BY part
)
SELECT p1, p2, CAST(co AS BIGINT) AS co,
       ROUND(co / sqrt(CAST(d1.d * d2.d AS DOUBLE)), 6) AS cosine
FROM co
JOIN deg d1 ON d1.part = co.p1
JOIN deg d2 ON d2.part = co.p2
ORDER BY cosine DESC, p1 ASC, p2 ASC
LIMIT {_AFFINITY_K}
"""


# ---------------------------------------------------------------------------
# Rank-biased overlap at depth D (Webber/Moffat/Zobel, TOIS'10,
# eq. 5 truncated): RBO@D = (1−p) Σ_{d=1..D} p^{d−1} · X_d / d,
# where X_d = |A₁..d ∩ B₁..d|. A pair present in both lists at ranks
# (r_a, r_b) contributes to every depth d ≥ max(r_a, r_b), so X_d is
# one ≤|pairs|×D bounded join against a D-row literal depth frame —
# nothing here scales with the corpus (the lists are top-k-bounded
# by construction, like the RRF fusion).
#
# Cross-engine exactness: the p^{d−1} weights are Python double
# literals embedded in BOTH plans (p**(d−1) is repeated
# multiplication neither engine is guaranteed to reproduce
# bit-identically); each depth term is one division and one multiply
# rounded to 9 before the exact decimal sum (9, not 6: terms are
# O(p^49) ≈ 0.006 and 6 digits would quantize away the tail).
# ---------------------------------------------------------------------------

_RBO_P = 0.9


def ranking_rbo(spark: SparkSession, sf: str) -> DataFrame:
    lexr, vecr = rank_lists(spark, sf)
    pairs = lexr.join(vecr, "doc_id").select(
        F.greatest("r_lex", "r_vec").alias("m")
    )
    depths = spark.range(1, _RRF_LIST + 1).select(
        F.col("id").cast("int").alias("d")
    )
    weight = F.lit(0.0)
    for d in range(1, _RRF_LIST + 1):
        weight = F.when(F.col("d") == d, F.lit(_RBO_P ** (d - 1))).otherwise(
            weight
        )
    xd = (
        depths.join(F.broadcast(pairs), F.col("m") <= F.col("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    terms = xd.select(
        "d", F.round(weight * (F.col("x") / F.col("d")), 9).alias("term")
    )
    return terms.agg(
        F.lit(_RRF_LIST).cast("int").alias("depth"),
        F.round(
            (1.0 - _RBO_P) * dec_sum(F.col("term"), 9).cast("double"), 6
        ).alias("rbo"),
    )


_RBO_WEIGHT_CASE = "CASE d " + " ".join(
    f"WHEN {d} THEN CAST({(_RBO_P ** (d - 1))!r} AS DOUBLE)"
    for d in range(1, 51)
) + " ELSE CAST(0.0 AS DOUBLE) END"


def _rbo_sql() -> str:
    return RANKLISTS_CTE + f"""
, pairs AS (
    SELECT GREATEST(r_lex, r_vec) AS m
    FROM lexr JOIN vecr ON lexr.doc_id = vecr.doc_id
), depths AS (
    SELECT unnest(range(1, {_RRF_LIST + 1})) AS d
), xd AS (
    SELECT d, COUNT(*) AS x
    FROM depths JOIN pairs ON m <= d
    GROUP BY d
), terms AS (
    SELECT ROUND(({_RBO_WEIGHT_CASE}) * (CAST(x AS DOUBLE) / d), 9) AS term
    FROM xd
)
SELECT CAST({_RRF_LIST} AS INT) AS depth,
       ROUND({1.0 - _RBO_P!r} * CAST(SUM(CAST(term AS DECIMAL(30,9)))
                                     AS DOUBLE), 6) AS rbo
FROM terms
"""


RBO_SQL = _rbo_sql()


# ---------------------------------------------------------------------------
# Exact phrase search, regex-side (r15): the match count for a
# two-word phrase over bpe_ish tokens (maximal [\w']+ runs of
# lower(text)) equals regexp_count(lower(text),
# "(?<![\w'])w1[^\w']+w2(?![\w'])") — the lookarounds force whole
# tokens, the separator class is EXACTLY the tokenizer's split class,
# and for w1 != w2 non-overlapping consumption cannot lose a match (a
# match occupies tokens i, i+1; the next candidate needs t[j] = w1
# with j >= i+2 either way, which is where the regex resumes). One
# regex scan per document replaces tokenize + array build + in-row
# filter — still one narrow map per doc, no posexplode, no shuffle
# before the top-k. Equivalence evidence: zero diffs vs the array
# formulation on every document at sf0.01 AND sf0.1 plus 19 crafted
# boundary cases (apostrophes, punctuation separators, shared-prefix
# non-tokens — tests/test_ext10.py); as a bonus the regex form cannot
# hit the array form's latent ANSI INVALID_ARRAY_INDEX on documents
# with < 2 tokens (sequence(1, size-1) descends when size <= 1).
# Integer output — the hash needs no float discipline.
# ---------------------------------------------------------------------------

_PHRASE = ("table", "scan")


_PHRASE_K = 25


def phrase_match_counts(spark: SparkSession, sf: str) -> DataFrame:
    w1, w2 = _PHRASE
    # real raise, not assert (assert strips under -O); isascii matters
    # because Java regex \w is ASCII-only while str.isalnum is Unicode
    # — a non-ASCII word char would be a SEPARATOR to the tokenizer
    # but a literal to the regex, breaking the equivalence proof
    if not (
        w1 != w2
        and all(w.isascii() and w.isalnum() for w in (w1, w2))
    ):
        raise ValueError(
            "phrase words must be distinct ASCII-alphanumeric tokens "
            "for the regexp_count formulation's equivalence proof"
        )
    pat = rf"(?<![\w']){w1}[^\w']+{w2}(?![\w'])"
    docs = load_table(spark, sf, "documents")
    counted = docs.select(
        "doc_id",
        F.regexp_count(F.lower(F.col("text")), F.lit(pat))
        .cast("int")
        .alias("n_matches"),
    )
    return (
        counted.filter(F.col("n_matches") > 0)
        .orderBy(F.desc("n_matches"), F.asc("doc_id"))
        .limit(_PHRASE_K)
    )


PHRASE_SQL = rf"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '[^\w'']+'),
                       x -> x != '') AS t
    FROM documents
)
SELECT doc_id,
       CAST(len(list_filter(range(1, len(t)),
                i -> t[i] = '{_PHRASE[0]}' AND t[i+1] = '{_PHRASE[1]}'))
            AS INT) AS n_matches
FROM toks
WHERE len(list_filter(range(1, len(t)),
          i -> t[i] = '{_PHRASE[0]}' AND t[i+1] = '{_PHRASE[1]}')) > 0
ORDER BY n_matches DESC, doc_id ASC
LIMIT {_PHRASE_K}
"""
