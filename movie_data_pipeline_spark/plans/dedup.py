"""Duplicate detection: exact and fingerprint dedup, n-gram Jaccard,
MinHash and SimHash LSH, winnowing, Jaccard and containment joins with
prefix filtering, connected-component clusters and survivor
selection, Levenshtein entity resolution over part names, exact
repeated-span and duplicate-sentence detection with the C4 sentence
rewrite, IVF semantic dedup and incremental dedup of a delta batch.

Approximate entries (LSH, semantic dedup) are rows-only; their recall
and precision are gated by the checks in plans/verification.py.

Every entry is a (builder, SQL twin) pair registered in
plans/analytics.py and follows the determinism rules stated there.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions import text as TX
from ..sources.catalog import load_table
from .text import _SENT_LEN, _sentenced, doc_quality


# ---------------------------------------------------------------------------
# Dedup family (exact) + fingerprinting
# ---------------------------------------------------------------------------

def dedup_exact_docs(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return (
        docs.withColumn("content_md5", TX.content_hash(F.col("text")))
        .groupBy("content_md5")
        .agg(F.count(F.lit(1)).alias("dup_count"), F.min("doc_id").alias("min_doc_id"))
        .filter(F.col("dup_count") > 1)
    )


DEDUP_EXACT_SQL = """
SELECT md5(text) AS content_md5, COUNT(*) AS dup_count, MIN(doc_id) AS min_doc_id
FROM documents
GROUP BY md5(text)
HAVING COUNT(*) > 1
"""


def fingerprint_distinct(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return docs.agg(
        F.countDistinct(TX.fingerprint(F.col("text"))).alias("n_fingerprints"),
        F.count(F.lit(1)).alias("n_docs"),
    )


# Oracle counts distinct normalized text — equal unless xxhash64 collides
# (2^-64-scale probability at this cardinality).
FINGERPRINT_SQL = r"""
SELECT COUNT(DISTINCT trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS n_fingerprints,
       COUNT(*) AS n_docs
FROM documents
"""


# ---------------------------------------------------------------------------
# Dedup family (near-dup): exact n-gram Jaccard — the oracle-able one.
# Candidate generation by shingle self-join is EXHAUSTIVE (a pair with
# jaccard > 0 shares ≥1 shingle), so unlike the LSH families this
# matches a brute-force oracle exactly. The LSH variants (registered
# rows-only below) are the probabilistic scale path.
# ---------------------------------------------------------------------------

def ngram_jaccard_exact(
    spark: SparkSession, sf: str, threshold: float = 0.5
) -> DataFrame:
    """Exact all-pairs Jaccard ≥ τ via a count-based shingle self-join.

    Plan shape (one shingle computation, two shuffles):
    1. shingle once, explode to (doc_id, n_sh, shingle), persist —
       the self-join reads the cached 1-pass result on both sides;
    2. self-join on shingle + length filter (J ≥ τ ⇒ τ·|A| ≤ |B| ≤
       |A|/τ) + id_a < id_b;
    3. groupBy pair: COUNT(*) IS the intersection size (shingles are
       distinct per doc), so jaccard = inter / (na + nb − inter) with
       no second join and no array intersection work.

    Scale note: candidate volume is Σ_s C(df(s), 2). This corpus's
    hottest shingle hits only ~25 docs, so the exhaustive join is
    cheap and exactly matches the brute-force oracle. At web scale a
    PPJoin-style rarity-ordered prefix filter bounds step 2 (only the
    ⌊(1−τ)·|S|⌋+1 globally-rarest shingles of each doc enter the
    join), and the LSH families (minhash_dedup_pairs) are the
    sub-quadratic path.
    """
    from ..operators.dedup import with_hashed_shingles

    docs = load_table(spark, sf, "documents")
    # repartition: single-file sources otherwise shingle on one core.
    # Cache BEFORE the explode: 5k array rows compress into the
    # columnar cache ~2× faster than 260k exploded rows, and
    # re-exploding from cache is a cheap narrow op per join side.
    # Grams are 8-byte xxhash64 folds, not strings (dedup.py::
    # with_hashed_shingles) — set semantics identical modulo 2⁻⁶⁴
    # collisions; the string-n-gram DuckDB oracle pins equivalence.
    sh0 = (
        with_hashed_shingles(
            docs.repartition(spark.sparkContext.defaultParallelism),
            "text", 3, out="sh_raw",
        )
        .select("doc_id", F.array_distinct("sh_raw").alias("sh"))
        .withColumn("n_sh", F.size("sh"))
        .persist()
    )
    e = sh0.select(
        "doc_id", "n_sh", F.explode("sh").alias("shingle")
    )

    a = e.select(
        F.col("doc_id").alias("id_a"), F.col("n_sh").alias("na"), "shingle"
    )
    b = e.select(
        F.col("doc_id").alias("id_b"), F.col("n_sh").alias("nb"), "shingle"
    )
    pairs = (
        a.join(b, "shingle")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("nb") >= F.lit(threshold) * F.col("na"))
            & (F.col("nb") <= F.col("na") / F.lit(threshold))
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.max("na").alias("na"),
            F.max("nb").alias("nb"),
        )
    )
    jac = F.col("inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("inter")
    )
    return pairs.filter(jac >= threshold).select(
        "id_a", "id_b", F.round(jac, 6).alias("jaccard")
    )


NGRAM_JACCARD_SQL = r"""
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
SELECT id_a, id_b,
       ROUND(CAST(inter AS DOUBLE) / (na + nb - inter), 6) AS jaccard
FROM p
WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5
"""


# ---------------------------------------------------------------------------
# Rows-only queries (no SQL oracle — probabilistic/LSH operators; the
# driver records a weaker rows-only check, and tests/test_operators.py
# verifies their semantics on planted fixtures)
# ---------------------------------------------------------------------------

def minhash_dedup_pairs(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.dedup import minhash_lsh_duplicates

    docs = load_table(spark, sf, "documents")
    return minhash_lsh_duplicates(docs, threshold=0.7)


def simhash_dedup_pairs(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.dedup import simhash_duplicates

    docs = load_table(spark, sf, "documents")
    return simhash_duplicates(docs, max_hamming=3)


# Winnowing fingerprints are index state (one expensive UDF pass over
# the corpus, tiny output): build the parquet index once per corpus and
# answer pair queries from it. Round 1 re-fingerprinted per invocation.
# The writer's schema is kept next to the path, so a re-read runs no
# footer-reading job.
_WINNOW_INDEX_PATHS: dict[str, tuple[str, StructType]] = {}


def _winnow_index(spark: SparkSession, sf: str) -> DataFrame:
    import hashlib
    import os

    if sf not in _WINNOW_INDEX_PATHS:
        from ..operators.dedup import winnow_fingerprints

        tag = hashlib.md5(sf.encode()).hexdigest()[:10]
        path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.dirname(__file__))),
            ".index_cache",
            f"winnow_{tag}",
        )
        docs = load_table(spark, sf, "documents")
        index = winnow_fingerprints(docs).select("doc_id", "fingerprints")
        index.write.mode("overwrite").parquet(path)
        _WINNOW_INDEX_PATHS[sf] = path, index.schema
    path, schema = _WINNOW_INDEX_PATHS[sf]
    return spark.read.schema(schema).parquet(path)


def winnow_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Rows-only: winnowing (rolling-hash) fingerprint pairs — doc
    pairs sharing substrings of length ≥ k + w − 1. min_shared=12 sits
    above the p99.9 of the background shared-count distribution on
    this corpus (common phrasing shares a few fingerprints; true
    near-dups share dozens). Served from the persisted fingerprint
    index (see _winnow_index)."""
    from ..operators.dedup import winnow_pairs_from_fingerprints

    return winnow_pairs_from_fingerprints(_winnow_index(spark, sf), min_shared=12)


# ---------------------------------------------------------------------------
# Duplicate clusters (rows-only: iterative connected components is not
# SQL-expressible) — near-dup pairs → transitive groups → the actual
# keep/drop dedup decision per doc.
# ---------------------------------------------------------------------------

def dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.dedup import duplicate_clusters, minhash_lsh_duplicates

    d = load_table(spark, sf, "documents")
    pairs = minhash_lsh_duplicates(d, threshold=0.7)
    return duplicate_clusters(pairs).orderBy("cluster_id", "doc_id")


# ---------------------------------------------------------------------------
# Record linkage (entity resolution) by blocking + edit distance: link
# near-identical part names without the all-pairs compare. Candidates
# are generated only WITHIN a block (shared leading token), the
# classic linkage discipline — at 100 TB you block on a cheap
# deterministic key (phonetic code, sorted-neighborhood window, first
# token) and the quadratic compare collapses to per-block pair
# generation, here over the distinct-name relation (dimension-bounded:
# 64 names regardless of fact size), never the fact table. The
# levenshtein compare itself is an exact integer both engines agree on.
# ---------------------------------------------------------------------------

def part_name_linkage(spark: SparkSession, sf: str) -> DataFrame:
    part = load_table(spark, sf, "part")
    names = part.groupBy("p_name").agg(F.count(F.lit(1)).alias("n_parts"))
    blocked = names.withColumn("block", F.split(F.col("p_name"), " ")[0])
    a, b = blocked.alias("a"), blocked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .withColumn(
            "lev_dist", F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
        )
        .filter(F.col("lev_dist") <= 3)
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            F.col("lev_dist").cast("int").alias("lev_dist"),
            F.col("a.n_parts").alias("n_parts_a"),
            F.col("b.n_parts").alias("n_parts_b"),
        )
        .orderBy("name_a", "name_b")
    )


PART_NAME_LINKAGE_SQL = """
WITH names AS (
    SELECT p_name, COUNT(*) AS n_parts FROM part GROUP BY p_name
), blocked AS (
    SELECT p_name, n_parts, string_split(p_name, ' ')[1] AS block FROM names
)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS lev_dist,
       a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
FROM blocked a JOIN blocked b
  ON a.block = b.block AND a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= 3
ORDER BY name_a, name_b
"""


# ---------------------------------------------------------------------------
# PPJoin: the prefix-filtered EXACT similarity join (operators/
# dedup.py::prefix_filtered_jaccard) — same output as the naive
# shared-shingle join at τ=0.7, so the oracle is the naive DuckDB SQL
# with the threshold swapped in. Registered as its own entry to keep
# the two plans (naive: every shingle joins; PPJoin: only rarest-
# prefix shingles join) separately timed and separately verified.
# ---------------------------------------------------------------------------

def ppjoin_jaccard_pairs(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.dedup import prefix_filtered_jaccard

    docs = load_table(spark, sf, "documents")
    return prefix_filtered_jaccard(docs, threshold=0.7).orderBy("id_a", "id_b")


# Literal twin of NGRAM_JACCARD_SQL above at τ=0.7.
PPJOIN_JACCARD_SQL = r"""
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
SELECT id_a, id_b,
       ROUND(CAST(inter AS DOUBLE) / (na + nb - inter), 6) AS jaccard
FROM p
WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.7
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# Asymmetric CONTAINMENT near-dup join: C(A→B) = |A∩B| / |A| ≥ τ over
# word-trigram shingle sets, emitted for the direction where the
# SMALLER set is (near-)contained in the larger. This is the
# quote/boilerplate-inclusion case symmetric Jaccard misses: a 50-line
# doc fully quoted inside a 5,000-line doc has J ≈ 0.01 but C = 1.
# Candidates come from the shared-shingle equi-join (the same
# bucket-local discipline as ngram_jaccard_exact — at web scale the
# prefix-filter variant applies unchanged because containment obeys
# the same pigeonhole bound on the smaller side's prefix).
# ---------------------------------------------------------------------------

def containment_dedup_pairs(
    spark: SparkSession, sf: str, threshold: float = 0.9
) -> DataFrame:
    from ..operators.dedup import with_hashed_shingles

    docs = load_table(spark, sf, "documents")
    # same one-signing-pass + count-based-intersection plan as
    # ngram_jaccard_exact (the COUNT over the shared-shingle join IS
    # |A∩B| because shingles are distinct per doc) — but with NO
    # length-ratio filter: containment deliberately pairs very
    # different sizes, which is exactly what Jaccard's τ·|A| ≤ |B|
    # prune throws away.
    sh0 = (
        with_hashed_shingles(
            docs.repartition(spark.sparkContext.defaultParallelism),
            "text", 3, out="sh_raw",
        )
        .select("doc_id", F.array_distinct("sh_raw").alias("sh"))
        .withColumn("n_sh", F.size("sh"))
        .localCheckpoint()
    )
    e = sh0.select("doc_id", "n_sh", F.explode("sh").alias("shingle"))
    a = e.select(
        F.col("doc_id").alias("id_a"), F.col("n_sh").alias("na"), "shingle"
    )
    b = e.select(
        F.col("doc_id").alias("id_b"), F.col("n_sh").alias("nb"), "shingle"
    )
    pairs = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
        )
        .withColumn(
            "containment", F.col("inter") / F.least(F.col("na"), F.col("nb"))
        )
        .filter(F.col("containment") >= threshold)
    )
    return pairs.select(
        "id_a", "id_b",
        F.round("containment", 6).alias("containment"),
        (F.col("na") <= F.col("nb")).alias("a_is_smaller"),
    ).orderBy("id_a", "id_b")


CONTAINMENT_SQL = r"""
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
SELECT id_a, id_b,
       ROUND(CAST(inter AS DOUBLE) / LEAST(na, nb), 6) AS containment,
       na <= nb AS a_is_smaller
FROM p
WHERE CAST(inter AS DOUBLE) / LEAST(na, nb) >= 0.9
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# Scale path of the containment join: smaller-side prefix filtering
# probing the full inverted index (operators/dedup.py::
# prefix_filtered_containment — candidates Σ prefix_df·df instead of
# the naive Σ df², recall exact by pigeonhole). Output is identical
# to containment_dedup_pairs, so it shares the SAME DuckDB oracle:
# the driver's hash compare proves the lossless reduction on real
# data every round (the PPJoin-vs-naive pattern).
# ---------------------------------------------------------------------------

def prefix_containment_pairs(
    spark: SparkSession, sf: str, threshold: float = 0.9
) -> DataFrame:
    from ..operators.dedup import prefix_filtered_containment

    docs = load_table(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return prefix_filtered_containment(docs, threshold=threshold).orderBy(
        "id_a", "id_b"
    )


# ---------------------------------------------------------------------------
# SemDeDup-style semantic dedup over the embeddings table: k-means
# clusters (the shared IVF quantizer — trained once per corpus on a
# bounded sample, cached) block the corpus, exact cosine verifies, and
# greedy min-id picks survivors. Rows-only here (the k-means blocking
# is not SQL-expressible); `semantic_dedup_check` in verification.py is
# the oracled recall/precision gate for this family.
# ---------------------------------------------------------------------------

def semantic_dedup_docs(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.similarity import get_ivf_centroids, semantic_dedup, sqrt_nlist

    emb = load_table(spark, sf, "embeddings")
    nlist = sqrt_nlist(emb, cache_key=sf, mult=2)  # 2√N: see semantic_dup_pairs
    centroids = get_ivf_centroids(emb, sf, nlist=nlist)
    return semantic_dedup(emb, centroids, threshold=0.45).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Incremental dedup: a "new batch" (every doc with doc_id % 10 == 7)
# probes the persisted minhash index of the rest of the corpus —
# near-dup pairs against the corpus AND within the batch, without the
# corpus ever being re-signed (operators/dedup.py::minhash_index /
# delta_near_dup_pairs). Rows-only (LSH); the oracled gate replays
# the minhash_recall_check pattern on exactly the delta-touching pair
# set: DuckDB recomputes the exact-Jaccard pairs where either side is
# a delta doc, and recall/precision predicates gate the incremental
# path (measured recall 4/4, 7/7, 51/51 at sf0.001/0.01/0.1 — full;
# the ≥0.85 bound leaves banding-theory margin — and precision is
# exactly 1 by the exact verify).
# ---------------------------------------------------------------------------

def _delta_split(spark: SparkSession, sf: str):
    docs = load_table(spark, sf, "documents")
    delta = docs.filter(F.col("doc_id") % 10 == 7)
    corpus = docs.filter(F.col("doc_id") % 10 != 7)
    return corpus, delta


def incremental_dedup_delta(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.dedup import delta_near_dup_pairs, minhash_index

    corpus, delta = _delta_split(spark, sf)
    # materialize the index once — production reads it from parquet;
    # deriving it lazily here would recompute the corpus signatures
    # for the band probe AND the verify fetch
    idx = minhash_index(corpus).localCheckpoint()
    # scale-path caller: opt into the hot-bucket cap explicitly (the
    # library default is uncapped full recall)
    return delta_near_dup_pairs(
        idx, delta, threshold=0.7, max_bucket=1000
    ).orderBy("delta_id", "match_id")


def incremental_dedup_check(spark: SparkSession, sf: str) -> DataFrame:
    pairs = incremental_dedup_delta(spark, sf).select(
        F.least("delta_id", "match_id").alias("id_a"),
        F.greatest("delta_id", "match_id").alias("id_b"),
    ).distinct()
    exact = (
        ngram_jaccard_exact(spark, sf, threshold=0.7)
        .filter((F.col("id_a") % 10 == 7) | (F.col("id_b") % 10 == 7))
        .select("id_a", "id_b")
    )
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_found = exact.join(pairs, ["id_a", "id_b"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_found")
    )
    n_fp = pairs.join(exact, ["id_a", "id_b"], "left_anti").agg(
        F.count(F.lit(1)).alias("n_fp")
    )
    return (
        n_exact.crossJoin(n_found).crossJoin(n_fp)  # all 1-row sides
        .select(
            "n_exact",
            (
                (F.col("n_exact") == 0)
                | (F.col("n_found") >= 0.85 * F.col("n_exact"))
            ).alias("recall_ok"),
            (F.col("n_fp") == 0).alias("precision_ok"),
        )
    )


INCREMENTAL_DEDUP_CHECK_SQL = r"""
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
  AND (id_a % 10 = 7 OR id_b % 10 = 7)
"""


# window length (tokens) for exact repeated-span detection; spans are
# maximal unions of overlapping duplicated windows, so the MINIMUM
# reportable duplicated run is L tokens — Lee et al. use 50 BPE
# tokens at web scale; the synthetic corpus's ~60-token docs need a
# smaller L to exercise the merge logic.
_SPAN_L = 8


# ---------------------------------------------------------------------------
# Exact repeated n-gram spans (token-level ExactSubstr dedup).
#
# Shape: one pass extracts every L-token window as (doc_id, pos, win,
# h=xxhash64(win)); the HASH relation (8 B + ids, not the ~40 B
# window strings) takes the first full-corpus shuffle to find hot
# hashes; only hash-hot windows — the true duplicates plus a
# vanishing set of 64-bit collisions — re-shuffle as strings for the
# exact group-by-window verify. Duplicated positions then merge into
# maximal spans per doc with one islands-and-gaps window pass (two
# same-length windows overlap/touch iff their starts differ by ≤ L).
# At 100 TB the window relation is corpus_tokens × 1 rows (the
# rolling window is a narrow map off one scan), the heavy shuffle
# moves fixed-width hashes, and nothing is driver-side.
# ---------------------------------------------------------------------------


def _dup_window_positions(docs: DataFrame) -> DataFrame:
    """(doc_id, pos) of every L-token window that occurs at ≥ 2
    distinct (doc, pos) sites corpus-wide — including a window
    repeated within one document (self-repetition is duplication for
    the memorization risk this measures)."""
    tk = F.split(F.col("text"), " ")
    toks = docs.select(F.col("doc_id"), tk.alias("tk")).filter(
        F.size("tk") >= _SPAN_L
    )
    # ONE full window-string pass (r14; previously two — the hot-hash
    # groupBy and the candidate semi-join each re-derived the window
    # relation, and every derivation builds ~L tokens of string per
    # corpus position). The strings are built and hashed TRANSIENTLY;
    # what materializes is the 24-byte (doc_id, pos, h) triple — the
    # same narrow-stage discipline as exact_span_dedup's shingle frame, cheap to
    # checkpoint at any scale. The window TEXT is rebuilt afterwards at
    # candidate positions only (true duplicates + vanishing 64-bit
    # collisions) from one extra cheap tokenize of the matching docs.
    wh = (
        toks.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(tk) - {_SPAN_L - 1}), "
                    f"p -> struct(p AS pos, "
                    f"xxhash64(array_join(slice(tk, p, {_SPAN_L}), ' ')) AS h))"
                )
            ).alias("s"),
        )
        .select("doc_id", F.col("s.pos").alias("pos"), F.col("s.h").alias("h"))
        .localCheckpoint()
    )
    hot = wh.groupBy("h").agg(F.count(F.lit(1)).alias("c")).filter(
        F.col("c") >= 2
    ).select("h")
    cand_pos = (
        wh.join(hot, "h", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_list("pos").alias("ps"))
    )
    cand = (
        toks.join(cand_pos, "doc_id")
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(ps, p -> struct(p AS pos, "
                    f"array_join(slice(tk, p, {_SPAN_L}), ' ') AS win))"
                )
            ).alias("s"),
        )
        .select(
            "doc_id", F.col("s.pos").alias("pos"), F.col("s.win").alias("win")
        )
        .localCheckpoint()
    )
    dup_win = (
        cand.groupBy("win").agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("win")
    )
    return cand.join(dup_win, "win", "left_semi").select("doc_id", "pos")


def _span_rows(docs: DataFrame) -> DataFrame:
    pos = _dup_window_positions(docs)
    by_doc = Window.partitionBy("doc_id").orderBy("pos")
    grouped = (
        pos.withColumn(
            "brk",
            F.when(
                F.col("pos") - F.lag("pos").over(by_doc) <= _SPAN_L, F.lit(0)
            ).otherwise(F.lit(1)),
        )
        .withColumn("isl", F.sum("brk").over(by_doc))
    )
    return grouped.groupBy("doc_id", "isl").agg(
        F.min("pos").alias("start_tok"),
        (F.max("pos") + F.lit(_SPAN_L - 1)).alias("end_tok"),
        (F.max("pos") + F.lit(_SPAN_L) - F.min("pos")).alias("span_toks"),
        F.count(F.lit(1)).alias("n_windows"),
    )


def repeated_ngram_spans(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return _span_rows(docs).select(
        "doc_id", "start_tok", "end_tok", "span_toks", "n_windows"
    ).orderBy("doc_id", "start_tok")


_SPAN_WINDOWS_CTE = f"""
WITH tk AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
),
w AS (
  SELECT doc_id, CAST(gs AS BIGINT) AS pos,
         array_to_string(list_slice(tk, CAST(gs AS BIGINT),
                                    CAST(gs AS BIGINT) + {_SPAN_L - 1}), ' ')
           AS win
  FROM tk, UNNEST(range(1, len(tk) - {_SPAN_L - 2})) AS u(gs)
  WHERE len(tk) >= {_SPAN_L}
),
dup AS (SELECT win FROM w GROUP BY win HAVING COUNT(*) >= 2),
d AS (SELECT w.doc_id, w.pos FROM w JOIN dup USING (win)),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   <= {_SPAN_L} THEN 0 ELSE 1 END AS brk
  FROM d
),
grp AS (
  SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
  FROM isl
),
spans AS (
  SELECT doc_id, MIN(pos) AS start_tok,
         MAX(pos) + {_SPAN_L - 1} AS end_tok,
         MAX(pos) + {_SPAN_L} - MIN(pos) AS span_toks,
         COUNT(*) AS n_windows
  FROM grp GROUP BY doc_id, isl
)
"""


REPEATED_SPANS_SQL = (
    _SPAN_WINDOWS_CTE
    + """
SELECT doc_id, start_tok, end_tok, span_toks,
       CAST(n_windows AS BIGINT) AS n_windows
FROM spans ORDER BY doc_id, start_tok
"""
)


def dup_span_doc_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document duplication profile over the exact spans: token
    count, tokens covered by corpus-duplicated runs, and the covered
    fraction — the filter signal ("drop documents that are mostly
    text found elsewhere") ExactSubstr pipelines threshold on. Every
    document appears (zero-span docs score 0.0), so the output joins
    straight into a curation gate."""
    docs = load_table(spark, sf, "documents")
    per_doc = _span_rows(docs).groupBy("doc_id").agg(
        F.sum("span_toks").alias("dup_toks")
    )
    n_tok = docs.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_toks")
    )
    return (
        n_tok.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_toks",
            F.coalesce("dup_toks", F.lit(0)).alias("dup_toks"),
            F.round(
                F.coalesce("dup_toks", F.lit(0))
                / F.col("n_toks").cast("double"),
                6,
            ).alias("dup_fraction"),
        )
        .sortWithinPartitions("doc_id")
    )


DUP_SPAN_STATS_SQL = (
    _SPAN_WINDOWS_CTE
    + """
, per_doc AS (
  SELECT doc_id, SUM(span_toks) AS dup_toks FROM spans GROUP BY doc_id
)
SELECT t.doc_id, CAST(len(t.tk) AS INT) AS n_toks,
       CAST(COALESCE(p.dup_toks, 0) AS BIGINT) AS dup_toks,
       ROUND(COALESCE(p.dup_toks, 0) / CAST(len(t.tk) AS DOUBLE), 6)
         AS dup_fraction
FROM tk t LEFT JOIN per_doc p USING (doc_id)
ORDER BY t.doc_id
"""
)


# ---------------------------------------------------------------------------
# Dedup survivor selection — the decision step EVERY dedup pipeline
# runs after clustering: keep exactly one representative per
# duplicate cluster, chosen by quality (ties broken by doc_id so the
# pick is deterministic); singletons keep themselves. Full-output
# oracled: the clusters come from the SQL-derivable exact-Jaccard
# pairs (the cluster_check discipline — DuckDB recursive-CTE
# transitive closure), the quality score is the driver-verified
# doc_quality formula, and the pick is one ROW_NUMBER window.
#
# Scale shape: CC runs on the near-dup PAIR graph (tiny vs corpus),
# quality is one corpus scan, and the pick is a window over
# cluster_id — one shuffle keyed on clusters. 100 TB: identical plan.
# ---------------------------------------------------------------------------


def dedup_survivors(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.dedup import duplicate_clusters
    pairs = ngram_jaccard_exact(spark, sf, threshold=0.7).select(
        "id_a", "id_b"
    )
    clusters = duplicate_clusters(pairs).select("doc_id", "cluster_id")
    qual = doc_quality(spark, sf)
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    return (
        qual.join(clusters, "doc_id", "left")
        .withColumn(
            "cluster_id", F.coalesce(F.col("cluster_id"), F.col("doc_id"))
        )
        .withColumn("kept", F.row_number().over(w) == 1)
        .select("doc_id", "cluster_id", "quality", "kept")
        .sortWithinPartitions("doc_id")
    )


# clusters: the cluster_check recursive closure over exact-Jaccard
# pairs; quality: the doc_quality twin — both already driver-verified
# on their own rows, composed here into the keep/drop decision.
DEDUP_SURVIVORS_SQL = r"""
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
),
cl AS (SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node),
t AS (
  SELECT doc_id, text,
         len(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')) AS n_tokens,
         list_filter(string_split_regex(lower(text), '[^\w'']+'), x -> x != '') AS toks,
         CASE WHEN length(text) > 0
              THEN length(regexp_replace(text, '[\w\s]', '', 'g')) / length(text)
              ELSE 0.0 END AS punct_ratio
  FROM documents
),
s AS (
  SELECT doc_id, n_tokens, punct_ratio,
         CASE WHEN len(toks) > 0
              THEN len(list_filter(toks, x -> x IN
                   ('the','and','of','to','in','is','that','it','for','with')))
                   / len(toks)
              ELSE 0.0 END AS stop_ratio
  FROM t
),
q AS (
  SELECT doc_id,
         ROUND((least(n_tokens / 100.0, 1.0)
              + (1.0 - least(punct_ratio * 5.0, 1.0))
              + (1.0 - least(abs(stop_ratio - 0.4) * 2.0, 1.0))) / 3.0, 6)
           AS quality
  FROM s
)
SELECT q.doc_id, COALESCE(cl.cluster_id, q.doc_id) AS cluster_id, q.quality,
       (ROW_NUMBER() OVER (PARTITION BY COALESCE(cl.cluster_id, q.doc_id)
                           ORDER BY q.quality DESC, q.doc_id) = 1) AS kept
FROM q LEFT JOIN cl USING (doc_id)
ORDER BY q.doc_id
"""


# ---------------------------------------------------------------------------
# Fuzzy part-name pairs (Levenshtein ≤ 2) with per-name part counts.
# The Spark side is the SymSpell deletion-neighborhood join
# (operators/fuzzy.py — depth-2 neighborhoods, exact-recall
# candidates, DP verify); the oracle is the O(|names|²) definitional
# join, feasible because part names are a bounded vocabulary (the
# name dimension, not the part fact). The hash match proves the
# neighborhood pruning lossless every round.
# ---------------------------------------------------------------------------


def part_name_fuzzy_pairs(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.fuzzy import fuzzy_self_join

    part = load_table(spark, sf, "part")
    names = part.select(F.col("p_name").alias("name"))
    counts = part.groupBy(F.col("p_name").alias("name")).agg(
        F.count(F.lit(1)).alias("n")
    )
    pairs = fuzzy_self_join(names, max_dist=2)
    return (
        pairs.join(counts.withColumnsRenamed({"name": "name_a", "n": "n_a"}), "name_a")
        .join(counts.withColumnsRenamed({"name": "name_b", "n": "n_b"}), "name_b")
        .select(
            "name_a",
            "name_b",
            "dist",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
        )
        .orderBy("name_a", "name_b")
    )


FUZZY_PAIRS_SQL = """
WITH names AS (
    SELECT p_name AS name, COUNT(*) AS n FROM part GROUP BY p_name
)
SELECT a.name AS name_a, b.name AS name_b,
       CAST(levenshtein(a.name, b.name) AS INT) AS dist,
       CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b
FROM names a JOIN names b ON a.name < b.name
WHERE levenshtein(a.name, b.name) <= 2
ORDER BY name_a, name_b
"""


# ---------------------------------------------------------------------------
# Entity-resolution clusters over fuzzy name matches: the SymSpell
# pair graph (Levenshtein ≤ 2) transitively closed by min-label
# propagation ON THE NAME STRINGS (each name adopts the smallest
# string among itself and its neighbors until fixpoint) — no
# name→integer mapping, so no single-partition id window and no hash
# collisions. String comparisons are binary on both engines (ASCII
# corpus). Fuzzy-match graphs are shallow (diameter ≈ chain length
# of 1-edit steps), so the loop converges in a handful of rounds;
# convergence is a 1-row changed-count aggregate per round (the
# k_core/fixpoint discipline — the driver sees rounds, never rows).
# The oracle is a recursive-CTE reachability closure: min reachable
# name ≡ propagation fixpoint.
# ---------------------------------------------------------------------------


def fuzzy_name_clusters(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.fuzzy import fuzzy_self_join

    names = (
        load_table(spark, sf, "part")
        .select(F.col("p_name").alias("name"))
        .distinct()
        .localCheckpoint()
    )
    pairs = fuzzy_self_join(names, max_dist=2)
    edges = (
        pairs.select(F.col("name_a").alias("u"), F.col("name_b").alias("v"))
        .unionAll(
            pairs.select(
                F.col("name_b").alias("u"), F.col("name_a").alias("v")
            )
        )
        .localCheckpoint()
    )
    labels = names.select("name", F.col("name").alias("rep"))
    for _ in range(20):
        nbr_min = (
            edges.join(
                labels.select(F.col("name").alias("v"), "rep"), "v"
            )
            .groupBy(F.col("u").alias("name"))
            .agg(F.min("rep").alias("nrep"))
        )
        new = (
            labels.join(nbr_min, "name", "left")
            .select(
                "name",
                F.least(
                    F.col("rep"), F.coalesce("nrep", F.col("rep"))
                ).alias("rep"),
            )
            .localCheckpoint()
        )
        changed = (
            new.join(labels.withColumnRenamed("rep", "old"), "name")
            .filter(F.col("rep") != F.col("old"))
            .count()
        )
        labels = new
        if changed == 0:
            break
    sizes = labels.groupBy("rep").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        labels.join(sizes, "rep")
        .select(
            "name",
            F.col("rep").alias("cluster_rep"),
            F.col("cluster_size").cast("long").alias("cluster_size"),
        )
        .orderBy("name")
    )


FUZZY_CLUSTERS_SQL = """
WITH names AS (
    SELECT DISTINCT p_name AS name FROM part
), pairs AS (
    SELECT a.name AS u, b.name AS v
    FROM names a JOIN names b
      ON a.name < b.name AND levenshtein(a.name, b.name) <= 2
), edges AS (
    SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs
), reach AS (
    WITH RECURSIVE r(name, dst) AS (
        SELECT name, name FROM names
        UNION
        SELECT r.name, e.v FROM r JOIN edges e ON e.u = r.dst
    )
    SELECT name, MIN(dst) AS rep FROM r GROUP BY name
), sizes AS (
    SELECT rep, COUNT(*) AS cluster_size FROM reach GROUP BY rep
)
SELECT name, rep AS cluster_rep, CAST(cluster_size AS BIGINT) AS cluster_size
FROM reach JOIN sizes USING (rep)
ORDER BY name
"""


# ---------------------------------------------------------------------------
# Cross-document duplicate sentences (the C4-style sentence-level dedup
# signal), all-native Column algebra.
#
# `dup_sentence_stats`: per-document count/fraction of sentence
# instances whose normalized text appears in >= 2 DISTINCT documents —
# the signal sentence-level dedup (C4's three-sentence-span rule,
# Gopher's doc-level repetition cousins in functions/text.py) filters
# on. Sentence injection + engine-portable boundary splitting reuse
# chunk_docs_sentences' discipline exactly (every 7th token gains a
# period; boundary = [.!?] + ASCII whitespace, marked via capture-
# replace because RE2 has no lookbehind; tokens re-joined single-spaced
# so both engines normalize identically); a shared footer sentence is
# planted on doc_id % 3 != 1 so real cross-doc duplicates exist to
# detect. Scale shape: explode -> groupBy(sentence) (map-side
# combinable, the sentence-hash shuffle every sentence-dedup pays) ->
# broadcast-or- shuffle join back -> groupBy(doc). Corpus-sized output,
# so per the presentation-sort convention in plans/analytics.py it ends
# in sortWithinPartitions.
# ---------------------------------------------------------------------------


# Planted boilerplate (identical literals in both engines).
_FOOTER = ". The standard corpus footer applies here."


def sentence_instances(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, sn): every normalized sentence INSTANCE of the
    footed corpus with its raw split position — THE single Spark-side
    definition of what a sentence is for the whole dedup family (the
    stats below ignore pos; drop_dup_sentences_docs uses it to restore
    document order; the streaming index persists the hashed keys).
    The DuckDB twins share the matching single definition via
    SENTENCE_CTE_SQL, so a boundary-rule change has exactly one edit
    site per engine."""
    footed = _sentenced(docs).select(
        "doc_id",
        F.concat(
            F.col("sentenced"),
            F.when(F.col("doc_id") % 3 != 1, F.lit(_FOOTER)).otherwise(
                F.lit("")
            ),
        ).alias("m"),
    )
    marked = F.regexp_replace(
        F.col("m"), r"([.!?])[ \t\r\n]+", "$1\u001e"
    )
    return (
        footed.select(
            "doc_id",
            F.posexplode(F.split(marked, "\u001e")).alias("pos", "s"),
        )
        .filter(F.trim("s") != "")
        .select(
            "doc_id",
            "pos",
            F.array_join(
                F.split(F.trim("s"), r"[ \t\r\n]+"), " "
            ).alias("sn"),
        )
    )


def sentence_keys(docs: DataFrame) -> DataFrame:
    """(doc_id, k) for every sentence instance — the shuffle currency
    of the sentence-dedup family: the batch stats below group these
    keys and the streaming index
    (streaming/docs.py::run_streaming_sentence_index) persists their
    per-doc counts.

    k is a 64-bit HASH of the normalized sentence, never the sentence
    string itself: at corpus scale the sentence-key groupBy and the
    join-back dominate shuffle bytes, and the stats only need key
    identity (an xxhash64 collision — ~2^-64 per pair — would merge
    two sentences' doc-counts; the DuckDB twin groups by the string,
    so the oracle hash would catch a collision as a value mismatch
    rather than silently agreeing)."""
    return sentence_instances(docs).select(
        "doc_id", F.xxhash64("sn").alias("k")
    )


def dup_sentence_stats(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    # materialize the (doc_id, k) instance keys ONCE (r14): the
    # occurrence groupBy and the join-back probe previously each
    # re-derived the full sentence pipeline (tokenize → inject → foot
    # → mark → split → normalize → hash) — two corpus string passes
    # for one query. The checkpoint payload is 16 bytes/instance, the
    # explicit-materialization discipline the exact-span section below
    # prescribes for this double-scan family (stage once, read twice).
    keyed = sentence_keys(docs).localCheckpoint()
    sent_docs = keyed.groupBy("k").agg(
        F.countDistinct("doc_id").alias("nd")
    )
    per_doc = (
        keyed.join(sent_docs, "k")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sentences"),
            F.sum(
                F.when(F.col("nd") >= 2, 1).otherwise(0)
            ).alias("n_dup"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_sentences", F.lit(0)).cast("long").alias(
                "n_sentences"
            ),
            F.coalesce("n_dup", F.lit(0)).cast("long").alias(
                "n_dup_sentences"
            ),
            F.when(F.coalesce("n_sentences", F.lit(0)) == 0, F.lit(0.0))
            .otherwise(
                F.round(
                    F.col("n_dup").cast("double") / F.col("n_sentences"),
                    6,
                )
            )
            .alias("dup_sentence_frac"),
        )
        .sortWithinPartitions("doc_id")
    )


# The single SQL-side sentence definition (tokenize, inject, foot,
# mark, split, normalize — WITH position), shared verbatim by this
# module's stats twin and the rewrite twin below: the mirror of
# ``sentence_instances`` above.
SENTENCE_CTE_SQL = rf"""toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '[ \t\r\n]+') AS tk
  FROM documents
),
nums AS (SELECT CAST(range AS INT) AS gs FROM range(0, 100000)),
sent_text AS (
  SELECT doc_id,
         string_agg(tok || CASE WHEN gs % {_SENT_LEN} = {_SENT_LEN - 1}
                                THEN '.' ELSE '' END, ' ' ORDER BY gs) AS m
  FROM (SELECT doc_id, gs, tk[gs + 1] AS tok
        FROM toks JOIN nums ON gs < len(tk))
  GROUP BY doc_id
),
footed AS (
  SELECT t.doc_id,
         COALESCE(s.m, '') ||
         CASE WHEN t.doc_id % 3 <> 1 THEN '{_FOOTER}' ELSE '' END AS m
  FROM toks t LEFT JOIN sent_text s USING (doc_id)
),
marked AS (
  SELECT doc_id,
         regexp_replace(m, '([.!?])[ \t\r\n]+', '\1' || chr(30), 'g') AS m
  FROM footed
),
rawsent AS (
  SELECT doc_id, gs AS pos, arr[gs + 1] AS s
  FROM (SELECT doc_id, string_split(m, chr(30)) AS arr FROM marked)
  JOIN nums ON gs < len(arr)
),
sent AS (
  SELECT doc_id, pos,
         array_to_string(regexp_split_to_array(trim(s), '[ \t\r\n]+'), ' ')
             AS sn
  FROM rawsent WHERE trim(s) <> ''
)"""


DUP_SENTENCE_STATS_SQL = rf"""
WITH {SENTENCE_CTE_SQL},
sent_docs AS (
  SELECT sn, COUNT(DISTINCT doc_id) AS nd FROM sent GROUP BY sn
),
per_doc AS (
  SELECT s.doc_id,
         COUNT(*) AS n_sentences,
         SUM(CASE WHEN d.nd >= 2 THEN 1 ELSE 0 END) AS n_dup
  FROM sent s JOIN sent_docs d USING (sn)
  GROUP BY s.doc_id
)
SELECT t.doc_id,
       CAST(COALESCE(p.n_sentences, 0) AS BIGINT) AS n_sentences,
       CAST(COALESCE(p.n_dup, 0) AS BIGINT) AS n_dup_sentences,
       ROUND(COALESCE(p.n_dup / CAST(NULLIF(p.n_sentences, 0) AS DOUBLE), 0),
             6) AS dup_sentence_frac
FROM toks t LEFT JOIN per_doc p USING (doc_id)
ORDER BY t.doc_id
"""


# ---------------------------------------------------------------------------
# Exact substring-span dedup and the sentence-level dedup TRANSFORM that
# `dup_sentence_stats` feeds, both all-native Column algebra and hash-
# oracled.
#
# `exact_span_dedup`: Lee-et-al-class exact duplicate-span detection
# ("Deduplicating Training Data Makes Language Models Better", 2021):
# for every document, the maximal token spans of length >= K that occur
# at least twice in the corpus (any repeat counts — cross-doc or within-
# doc — the suffix-array semantics of the paper, expressed as sorted
# fixed-stride shingle runs instead of a driver-side suffix array).
# Pipeline: tokenize -> K-token rolling shingles keyed by xxhash64 (the
# groupBy and join-back shuffle 8-byte hashes, never the shingle
# strings) -> occurrence count >= 2 marks a shingle duplicated -> per-
# doc gaps-and-islands over duplicated shingle START positions merges
# overlapping/adjacent spans (two K-token windows starting at g < g'
# cover a contiguous range iff g' - g <= K, so an island breaks when the
# gap exceeds K and each island covers exactly max(gs) - min(gs) + K
# tokens). The shipped corpus contains genuine repeated spans (the
# testdata generator plants near-duplicate document families), and — the
# same injection precedent — the query additionally prepends a 16-token
# license header on doc_id % 5 == 0 and appends an 18-token reuse notice
# on doc_id % 4 != 2 with IDENTICAL concat expressions on both engines,
# so the output exercises 0-, 1- and 2-span documents and span merging
# at every SF.
#
# `drop_dup_sentences_docs`: the C4 curation rewrite (dup_sentence_stats
# computes the SIGNAL; this is the op a pipeline actually runs): drop
# every sentence instance whose normalized text occurs in >= 2 DISTINCT
# documents, except in the single keeper document (min doc_id), which
# retains its copy — C4's "keep one occurrence in the corpus" rule.
# Within-doc repeats are untouched (nd counts distinct docs). Sentence
# injection, boundary marking and normalization reuse
# dup_sentence_stats' definitions verbatim (imported, not copied), so
# the transform drops exactly the sentences `dup_sentence_stats` counts.
# Output proves the REWRITTEN BYTES equal across engines via md5 (the
# redact_pii_docs precedent, plans/curation.py), not just the
# kept/dropped counts.
#
# Scale posture: exact_span_dedup's corpus-wide shuffles (the occurrence
# aggregate and the join probe — two k-keyed exchanges, two shingle
# scans) carry only (k: long, doc_id, gs) triples — the shingle text is
# hashed map-side and never moves. The single-scan alternative (count
# over a Window partitioned by k) was rejected: Spark's unbounded window
# frame buffers each key's whole partition run, so a viral shingle OOMs
# where the groupBy's map-side partials and AQE skew-join do not; if the
# second scan ever dominates at real scale, stage the shingle frame to
# parquet once and read it twice. Islands/spans run in doc-partitioned
# windows and the following doc-keyed groupBys reuse that partitioning
# (no further exchange). drop_dup_sentences_docs must move sentence TEXT
# once (its output IS rewritten text — C4's own rewrite pays the same
# shuffle); the sentence-stats side joins back on the 8-byte key.
# Corpus-sized outputs end in sortWithinPartitions per the presentation-
# sort convention in plans/analytics.py.
# ---------------------------------------------------------------------------


# Span length in tokens: matches the decontamination family's 13-gram
# convention (operators/decontam.py).
_SPAN_K = 13


# Planted spans (identical literals in both engines; both >= _SPAN_K
# tokens so every planted copy is detectable on its own).
_HEADER_SPAN = (
    "begin standard license header tokens alpha beta gamma delta "
    "epsilon zeta eta theta iota kappa end"
)  # 16 tokens


_FOOTER_SPAN = (
    "this corpus carries the shared reuse notice spanning twenty "
    "whole tokens for exact span dedup detection tests always"
)  # 18 tokens


def exact_span_dedup(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    t = F.concat(
        F.when(F.col("doc_id") % 5 == 0, F.lit(_HEADER_SPAN + " ")).otherwise(
            F.lit("")
        ),
        F.trim(F.col("text")),
        F.when(F.col("doc_id") % 4 != 2, F.lit(" " + _FOOTER_SPAN)).otherwise(
            F.lit("")
        ),
    )
    sized = docs.select(
        "doc_id", F.split(F.trim(t), r"[ \t\r\n]+").alias("tk")
    ).select("doc_id", F.size("tk").alias("n_tokens"), "tk")
    # K-token rolling shingles, keyed by hash map-side: the exploded
    # rows that reach the shuffle are (k, doc_id, gs) — 24 bytes.
    sh = (
        sized.filter(F.col("n_tokens") >= _SPAN_K)
        .select(
            "doc_id",
            "tk",
            F.explode(
                F.sequence(F.lit(0), F.col("n_tokens") - _SPAN_K)
            ).alias("gs"),
        )
        .select(
            "doc_id",
            "gs",
            F.xxhash64(
                F.array_join(
                    F.slice("tk", F.col("gs") + 1, F.lit(_SPAN_K)), " "
                )
            ).alias("k"),
        )
        # materialized ONCE (r14): the occurrence groupBy and the dup
        # join probe below previously each re-derived the whole
        # tokenize+slice+join+hash shingle pass — the module docstring's
        # own "stage the shingle frame once and read it twice" remedy.
        # Payload is the 24-byte (k, doc_id, gs) triple, never shingle
        # text; integer outputs, so the oracle hash cannot move.
        .localCheckpoint()
    )
    # A shingle is duplicated if it occurs >= 2 times ANYWHERE (the
    # paper's suffix-array semantics — within-doc repeats count). An
    # xxhash64 collision (~2^-64/pair) would merge two shingles; the
    # DuckDB twin groups by the string, so the oracle hash catches a
    # collision as a mismatch rather than silently agreeing.
    occ = (
        sh.groupBy("k")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
    )
    dup = sh.join(occ.select("k"), "k").select("doc_id", "gs")
    w = Window.partitionBy("doc_id").orderBy("gs")
    run = Window.partitionBy("doc_id").orderBy("gs").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    isl = (
        dup.withColumn("prev", F.lag("gs").over(w))
        .withColumn(
            "island",
            F.sum(
                F.when(
                    F.col("prev").isNull()
                    | (F.col("gs") - F.col("prev") > _SPAN_K),
                    1,
                ).otherwise(0)
            ).over(run),
        )
    )
    # doc-partitioned window output is already clustered by doc_id, so
    # neither doc-keyed groupBy below adds an exchange.
    spans = isl.groupBy("doc_id", "island").agg(
        F.min("gs").alias("s0"),
        (F.max("gs") + F.lit(_SPAN_K - 1)).alias("s1"),
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum(F.col("s1") - F.col("s0") + 1).alias("dup_tokens"),
    )
    return (
        sized.select("doc_id", "n_tokens")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce("n_dup_spans", F.lit(0))
            .cast("long")
            .alias("n_dup_spans"),
            F.coalesce("dup_tokens", F.lit(0))
            .cast("long")
            .alias("dup_tokens"),
            F.round(
                F.coalesce(
                    F.col("dup_tokens").cast("double") / F.col("n_tokens"),
                    F.lit(0.0),
                ),
                6,
            ).alias("dup_token_frac"),
        )
        .sortWithinPartitions("doc_id")
    )


EXACT_SPAN_DEDUP_SQL = rf"""
WITH planted AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 5 = 0 THEN '{_HEADER_SPAN}' || ' ' ELSE '' END)
         || trim(text)
         || (CASE WHEN doc_id % 4 <> 2 THEN ' ' || '{_FOOTER_SPAN}' ELSE '' END)
             AS t
  FROM documents
),
toks AS (
  SELECT doc_id, regexp_split_to_array(trim(t), '[ \t\r\n]+') AS tk
  FROM planted
),
nums AS (SELECT CAST(range AS INT) AS gs FROM range(0, 100000)),
sh AS (
  SELECT doc_id, gs, array_to_string(tk[gs + 1 : gs + {_SPAN_K}], ' ') AS s
  FROM toks JOIN nums ON gs <= len(tk) - {_SPAN_K}
),
occ AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) >= 2),
dup AS (SELECT sh.doc_id, sh.gs FROM sh JOIN occ USING (s)),
isl AS (
  SELECT doc_id, gs,
         SUM(CASE WHEN prev IS NULL OR gs - prev > {_SPAN_K} THEN 1 ELSE 0 END)
             OVER (PARTITION BY doc_id ORDER BY gs) AS island
  FROM (SELECT doc_id, gs,
               LAG(gs) OVER (PARTITION BY doc_id ORDER BY gs) AS prev
        FROM dup)
),
spans AS (
  SELECT doc_id, island, MIN(gs) AS s0, MAX(gs) + {_SPAN_K - 1} AS s1
  FROM isl GROUP BY doc_id, island
),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_dup_spans, SUM(s1 - s0 + 1) AS dup_tokens
  FROM spans GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(tk) AS BIGINT) AS n_tokens,
       CAST(COALESCE(pd.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       CAST(COALESCE(pd.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       ROUND(COALESCE(pd.dup_tokens / CAST(len(tk) AS DOUBLE), 0), 6)
           AS dup_token_frac
FROM toks t LEFT JOIN per_doc pd USING (doc_id)
ORDER BY t.doc_id
"""


def rewrite_without_cross_doc_dups(sent: DataFrame) -> DataFrame:
    """Per-doc rewrite of ``sent`` (doc_id, pos, sn): drop every
    sentence instance whose text occurs in >= 2 distinct docs unless
    this doc is the keeper (min doc_id). Returns (doc_id, n_kept,
    n_dropped, rebuilt) — factored from the registry entry so unit
    fixtures can feed crafted sentence sets directly."""
    # r15 reshape (guide §8, r14-VERDICT item 4): decide with NARROW
    # rows, move the text ONCE. The r14 version localCheckpointed the
    # corpus-sized TEXT frame and its join-back shuffled sentence text
    # by k — a key unrelated to the final doc_id grouping — so text
    # crossed two exchanges and sat in executor storage. Now the
    # staged relation is the 24-byte (doc_id, pos, k) triple (the
    # sibling stats entries' payload), the keeper decision and the
    # DROPPED instance set (duplicates only — almost always a small
    # fraction) are computed entirely on integers, and the text is
    # re-derived from the docs scan once at emit, crossing exactly one
    # exchange (the per-doc groupBy the rewrite output needs anyway).
    keyed = sent.select(
        "doc_id", "pos", F.xxhash64("sn").alias("k")
    ).localCheckpoint()
    stats = keyed.groupBy("k").agg(
        F.countDistinct("doc_id").alias("nd"),
        F.min("doc_id").alias("keeper"),
    )
    # only duplicated keys survive (nd >= 2 ⇔ a drop can happen), so
    # the join-back probe relation is duplicate-sized, not corpus-sized
    dropped = (
        keyed.join(stats.filter(F.col("nd") >= 2), "k")
        .filter(F.col("doc_id") != F.col("keeper"))
        .groupBy("doc_id")
        .agg(F.collect_set("pos").alias("dp"))
    )
    # emit pass: one text derivation, grouped per doc (pos is unique
    # per doc, so array_sort on (pos, sn) structs restores document
    # order), then the narrow drop-position sets prune in-row.
    per_doc = sent.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("pos", "sn"))).alias("arr")
    )
    joined = per_doc.join(dropped, "doc_id", "left")
    kept = F.when(F.col("dp").isNull(), F.col("arr")).otherwise(
        F.filter(
            F.col("arr"), lambda x: ~F.array_contains(F.col("dp"), x["pos"])
        )
    )
    n_drop = F.coalesce(F.size("dp"), F.lit(0))
    return joined.select(
        "doc_id",
        (F.size("arr") - n_drop).cast("long").alias("n_kept"),
        n_drop.cast("long").alias("n_dropped"),
        F.array_join(
            F.transform(kept, lambda x: x["sn"]), " "
        ).alias("rebuilt"),
    )


def drop_dup_sentences_docs(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    rewritten = rewrite_without_cross_doc_dups(sentence_instances(docs))
    return (
        docs.select("doc_id")
        .join(rewritten, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("n_dropped", F.lit(0))
            .cast("long")
            .alias("n_dropped"),
            F.md5(
                F.coalesce("rebuilt", F.lit("")).cast("binary")
            ).alias("clean_fp"),
        )
        .sortWithinPartitions("doc_id")
    )


DROP_DUP_SENTENCES_SQL = rf"""
WITH {SENTENCE_CTE_SQL},
sent_docs AS (
  SELECT sn, COUNT(DISTINCT doc_id) AS nd, MIN(doc_id) AS keeper
  FROM sent GROUP BY sn
),
flagged AS (
  SELECT s.doc_id, s.pos, s.sn,
         (d.nd < 2 OR s.doc_id = d.keeper) AS keep
  FROM sent s JOIN sent_docs d USING (sn)
),
per_doc AS (
  SELECT doc_id,
         SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS n_kept,
         SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS n_dropped,
         COALESCE(string_agg(CASE WHEN keep THEN sn END, ' ' ORDER BY pos),
                  '') AS rebuilt
  FROM flagged GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(COALESCE(p.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(COALESCE(p.n_dropped, 0) AS BIGINT) AS n_dropped,
       md5(COALESCE(p.rebuilt, '')) AS clean_fp
FROM toks t LEFT JOIN per_doc p USING (doc_id)
ORDER BY t.doc_id
"""
