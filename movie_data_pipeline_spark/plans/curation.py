"""Corpus-curation queries: benchmark decontamination and Gopher-style
repetition signals over the ``documents`` table.

Both are additive training-data-pipeline operators (no reference
analog — the reference is a movie-ETL workload; these extend the same
additive surface as the dedup/ANN families). Both are oracled: the
Spark side is pure JVM Column expressions, the DuckDB side mirrors the
proven tokenizer twin from the minhash verification SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import bpe_ish_tokens
from ..operators.decontam import benchmark_decontamination
from ..sources.catalog import load_table
from .columns import dec_sum


# ---------------------------------------------------------------------------
# Decontamination: training docs sharing 8-gram spans with a pseudo
# benchmark slice (doc_id % 50 == 0 stands in for a supplied eval set;
# production callers pass any (id, text) table). n=8 keeps the check
# non-empty yet bounded on the short synthetic docs; the operator
# defaults to the industry-standard n=13.
# ---------------------------------------------------------------------------

def decontaminate_docs(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    train = docs.filter(F.col("doc_id") % 50 != 0)
    return benchmark_decontamination(train, bench, n=8).orderBy(
        "doc_id", "bench_id"
    )


DECONTAMINATE_SQL = r"""
WITH g AS (
  SELECT doc_id,
         unnest(list_distinct(
           CASE WHEN len(toks) >= 8
                THEN list_transform(range(1, len(toks) - 6),
                                    i -> array_to_string(toks[i:i+7], ' '))
                ELSE [array_to_string(toks, ' ')] END)) AS ng
  FROM (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '[^\w'']+'),
                       x -> x != '') AS toks
    FROM documents
  )
),
b AS (SELECT doc_id AS bench_id, ng FROM g WHERE doc_id % 50 = 0),
tr AS (SELECT doc_id, ng FROM g WHERE doc_id % 50 != 0)
SELECT tr.doc_id AS doc_id, b.bench_id AS bench_id,
       COUNT(*) AS shared_ngrams
FROM tr JOIN b USING (ng)
GROUP BY tr.doc_id, b.bench_id
HAVING COUNT(*) >= 1
ORDER BY doc_id, bench_id
"""


# ---------------------------------------------------------------------------
# Repetition signals (Gopher-style quality filters): fraction of
# repeated tokens and the weight of the single most frequent bigram.
# High values mark boilerplate / degenerate generations that quality
# filtering drops before training.
#
# Shape at scale: one narrow tokenize pass for the per-doc token
# stats, one explode + (doc_id, bigram) partial-agg shuffle for the
# bigram mode, then a doc_id-keyed join — everything partial-
# aggregates map-side; no text is shuffled, only counts.
# ---------------------------------------------------------------------------

def doc_repetition_stats(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    base = docs.select(
        "doc_id", bpe_ish_tokens(F.col("text")).alias("toks")
    )
    tok_stats = base.select(
        "doc_id",
        # long, matching DuckDB len() (int size would hash-mismatch)
        F.size("toks").cast("long").alias("n_tokens"),
        F.round(
            F.when(
                F.size("toks") > 0,
                1.0 - F.size(F.array_distinct("toks")) / F.size("toks"),
            ).otherwise(F.lit(0.0)),
            4,
        ).alias("dup_token_frac"),
    )
    bigrams = base.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("toks") >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size("toks") - 2),
                    lambda i: F.array_join(F.slice(F.col("toks"), i + 1, 2), " "),
                ),
            ).otherwise(F.array(F.array_join(F.col("toks"), " "))),
        ).alias("bg"),
    )
    bg_stats = (
        bigrams.groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.max("cnt").alias("top_cnt"),
            F.sum("cnt").alias("n_bigrams"),
        )
        .select(
            "doc_id",
            F.round(F.col("top_cnt") / F.col("n_bigrams"), 4).alias(
                "top_bigram_frac"
            ),
        )
    )
    return (
        tok_stats.join(bg_stats, "doc_id")
        .select("doc_id", "n_tokens", "dup_token_frac", "top_bigram_frac")
        .sortWithinPartitions("doc_id")
    )


DOC_REPETITION_SQL = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^\w'']+'),
                     x -> x != '') AS toks
  FROM documents
),
tok AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         ROUND(CASE WHEN len(toks) > 0
                    THEN 1.0 - len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE)
                    ELSE 0.0 END, 4) AS dup_token_frac
  FROM t
),
bg AS (
  SELECT doc_id,
         unnest(CASE WHEN len(toks) >= 2
                     THEN list_transform(range(1, len(toks)),
                                         i -> array_to_string(toks[i:i+1], ' '))
                     ELSE [array_to_string(toks, ' ')] END) AS bg
  FROM t
),
bgc AS (
  SELECT doc_id, bg, COUNT(*) AS cnt FROM bg GROUP BY doc_id, bg
),
bgs AS (
  SELECT doc_id,
         ROUND(MAX(cnt) / CAST(SUM(cnt) AS DOUBLE), 4) AS top_bigram_frac
  FROM bgc GROUP BY doc_id
)
SELECT tok.doc_id AS doc_id, n_tokens, dup_token_frac, top_bigram_frac
FROM tok JOIN bgs ON tok.doc_id = bgs.doc_id
ORDER BY doc_id
"""


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


def curation_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end corpus curation as ONE declarative plan — the
    composition a training-data pipeline actually runs: language gate
    (metadata lang) → quality threshold (composite score ≥ 0.5) →
    exact dedup (min doc_id per md5 content hash) → per-source corpus
    stats. Each stage is an already-verified registry operator
    (lang_id_docs / doc_quality / dedup_exact_docs / doc_token_stats);
    this entry verifies their COMPOSITION end-to-end against one
    nested-CTE oracle. Single plan: filters fuse into the scan, the
    dedup window and the final agg are the only shuffles."""
    from pyspark.sql import Window

    from ..functions import text as TX

    docs = load_table(spark, sf, "documents")
    gated = (
        docs.filter(F.col("lang") == "en")
        .withColumn("_ws", TX.tokens(F.col("text")))
        .withColumn("_bpe", TX.bpe_ish_tokens(F.col("text")))
        .withColumn(
            "quality",
            TX.quality_score_from(F.col("_ws"), F.col("_bpe"), F.col("text")),
        )
        .filter(F.col("quality") >= 0.5)
        .withColumn("h", TX.content_hash(F.col("text")))
    )
    w = Window.partitionBy("h").orderBy("doc_id")
    kept = gated.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size("_ws")).alias("total_tokens"),
            (
                F.round(
                    dec_sum(F.col("quality"), 6).cast("double")
                    / F.count(F.lit(1)),
                    4,
                )
                + 0.0
            ).alias("avg_quality"),
        )
        .orderBy("source")
    )


CURATION_PIPELINE_SQL = r"""
WITH t AS (
  SELECT doc_id, source, text,
         len(list_filter(string_split_regex(trim(text), '\s+'),
                         x -> x != '')) AS n_tokens,
         list_filter(string_split_regex(lower(text), '[^\w'']+'),
                     x -> x != '') AS toks,
         CASE WHEN length(text) > 0
              THEN length(regexp_replace(text, '[\w\s]', '', 'g'))
                   / length(text)
              ELSE 0.0 END AS punct_ratio
  FROM documents WHERE lang = 'en'
),
s AS (
  SELECT doc_id, source, text, n_tokens,
         ROUND((least(n_tokens / 100.0, 1.0)
              + (1.0 - least(punct_ratio * 5.0, 1.0))
              + (1.0 - least(abs(
                    CASE WHEN len(toks) > 0
                         THEN len(list_filter(toks, x -> x IN
                              ('the','and','of','to','in','is','that',
                               'it','for','with'))) / len(toks)
                         ELSE 0.0 END - 0.4) * 2.0, 1.0))) / 3.0, 6)
           AS quality
  FROM t
),
d AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text)
                               ORDER BY doc_id) AS rn
  FROM s WHERE quality >= 0.5
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       ROUND(CAST(SUM(CAST(quality AS DECIMAL(30,6))) AS DOUBLE)
             / COUNT(*), 4) + 0.0 AS avg_quality
FROM d WHERE rn = 1
GROUP BY source ORDER BY source
"""


def stratified_sample_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic exact-k stratified sample: the k=20 documents per
    language stratum with the smallest md5(doc_id) — the sampling
    primitive a training mix needs (fixed per-language quotas,
    reproducible across runs/engines/partitionings, no RNG state).

    Hash-rank sampling beats rand(): the sample is a pure function of
    the ids, so adding documents to the corpus only displaces sampled
    rows at the quota boundary instead of reshuffling everything.
    Scale shape: one keyed window per stratum (partitionBy(lang) —
    strata sort independently, no global sort); at 100 TB the same
    plan holds because per-stratum top-k is a partial TakeOrdered
    under the window, and a skewed stratum salts like any hot key."""
    from pyspark.sql import Window

    docs = load_table(spark, sf, "documents")
    key = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("lang").orderBy(key, F.col("doc_id"))
    return (
        docs.withColumn("rank_in_lang", F.row_number().over(w))
        .filter(F.col("rank_in_lang") <= 20)
        .select("lang", "doc_id", "rank_in_lang")
        .orderBy("lang", "rank_in_lang")
    )


STRATIFIED_SAMPLE_SQL = """
WITH r AS (
  SELECT lang, doc_id,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS rank_in_lang
  FROM documents
)
SELECT lang, doc_id, CAST(rank_in_lang AS INT) AS rank_in_lang
FROM r WHERE rank_in_lang <= 20 ORDER BY lang, rank_in_lang
"""


def leakage_safe_split(spark: SparkSession, sf: str) -> DataFrame:
    """Train/val/test split that can never leak an exact duplicate
    across splits: documents are grouped into exact-dup clusters (min
    doc_id per md5(text) content hash), and the CLUSTER representative
    — not the document — is hashed into a split, so every member of a
    duplicate cluster lands in the same split by construction. This is
    the standard defense against train/test contamination from
    duplicated web text (the failure mode benchmark decontamination
    papers document: a test passage's duplicate hiding in train).

    Split rule is engine-portable string math: first hex char of
    md5(representative) — '0'-'b' train (12/16), 'c'-'d' val, 'e'-'f'
    test. Output is the per-split audit (doc and cluster counts);
    the leakage invariant is structural, not sampled.

    Scale shape: one window over the content-hash partition + one
    aggregation — both key-partitioned, no driver state, no RNG."""
    from pyspark.sql import Window

    docs = load_table(spark, sf, "documents")
    w = Window.partitionBy(F.md5(F.col("text")))
    rep = docs.select("doc_id", F.min("doc_id").over(w).alias("rep"))
    first = F.substring(F.md5(F.col("rep").cast("string")), 1, 1)
    split = (
        F.when(first <= F.lit("b"), F.lit("train"))
        .when(first <= F.lit("d"), F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        rep.withColumn("split", split)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("rep").alias("n_clusters"),
        )
        .orderBy("split")
    )


LEAKAGE_SAFE_SPLIT_SQL = """
WITH rep AS (
  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS rep
  FROM documents
),
s AS (
  SELECT doc_id, rep,
         CASE WHEN substring(md5(CAST(rep AS VARCHAR)), 1, 1) <= 'b'
                THEN 'train'
              WHEN substring(md5(CAST(rep AS VARCHAR)), 1, 1) <= 'd'
                THEN 'val'
              ELSE 'test' END AS split
  FROM rep
)
SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT rep) AS BIGINT) AS n_clusters
FROM s GROUP BY split ORDER BY split
"""


def charlm_doc_scores(spark: SparkSession, sf: str) -> DataFrame:
    """Character-trigram language-model fluency score per document —
    the perplexity-filter stage of a CCNet/Gopher-style quality
    pipeline, with the LM trained on the corpus ITSELF (deterministic,
    no external model): P(c|ab) = count(abc) / count(ab·) over the
    normalized corpus, and each document scores
    bits_per_char = −mean log₂ P — fluent, corpus-typical text scores
    low; gibberish and out-of-distribution character soup score high.

    Everything is exact relational algebra, so the whole stage —
    trigram extraction, model fit, scoring — has a DuckDB SQL twin and
    hash-matches: per-gram log-probs round to 6 decimals before an
    exact decimal sum (partition-order-independent, the `dec_sum`
    discipline), so float summation order can't flip the hash.

    Scale shape: the explode's ≈doc-length rows immediately collapse
    to per-(doc, trigram) COUNTS (map-side-combinable, and natural
    text repeats trigrams heavily, so everything downstream — the
    model aggregation, the model join, the per-doc score — moves
    count rows, never gram instances). The model is vocabulary-
    bounded (≤ alphabet³ rows forever) and explicitly broadcast:
    without the hint AQE broadcasts the corpus-sized gram side at
    test SFs, which inverts at scale. Self-training on 100 TB keeps
    the same plan. The instance-level mean matches the SQL twin
    exactly because every instance of a (doc, gram) pair shares one
    rounded log-prob: Σ round(lp,6) over instances = Σ n·round(lp,6).
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf, "documents")
    norm = F.regexp_replace(F.lower(F.col("text")), "[^a-z ]", "")
    base = docs.select("doc_id", norm.alias("t")).filter(F.length("t") >= 3)
    gc = (
        base.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(t) - 2), i -> substring(t, i, 3))"
                )
            ).alias("g3"),
        )
        .groupBy("doc_id", "g3")
        .agg(F.count(F.lit(1)).alias("n"))
        # reused by the model fit AND the scoring join — persisted for
        # the single materializing action below, then unpersisted so
        # the corpus-sized count table never outlives this query (a
        # long-lived session must not squat on executor storage)
        .persist()
    )
    model = (
        gc.groupBy("g3")
        .agg(F.sum("n").alias("c3"))
        .withColumn(
            "cp",
            F.sum("c3").over(Window.partitionBy(F.substring("g3", 1, 2))),
        )
    )
    scored = gc.join(F.broadcast(model), "g3").select(
        "doc_id",
        "n",
        F.round(F.log2(F.col("c3") / F.col("cp")), 6).alias("lp"),
    )
    agg = scored.groupBy("doc_id").agg(
        F.sum("n").alias("n_grams"),
        (
            F.round(
                -dec_sum(F.col("lp") * F.col("n"), 6).cast("double")
                / F.sum("n"),
                4,
            )
            + 0.0
        ).alias("bits_per_char"),
    )
    # One eager materialization of the SMALL per-doc aggregate (3
    # narrow columns/doc) computes the heavy gram-count stage exactly
    # once through the persist above; the cache is then dropped
    # immediately — its lifetime is this function call, not the
    # session. The checkpoint blocks holding the result are freed by
    # the ContextCleaner when the returned DataFrame is released.
    agg = agg.localCheckpoint()
    gc.unpersist(blocking=False)
    return agg.sortWithinPartitions("doc_id")


CHARLM_SCORES_SQL = """
WITH norm AS (
  SELECT doc_id, regexp_replace(lower(text), '[^a-z ]', '', 'g') AS t
  FROM documents
),
g AS (
  SELECT doc_id, substring(t, CAST(i AS BIGINT), 3) AS g3
  FROM norm, UNNEST(range(1, length(t) - 1)) AS u(i)
  WHERE length(t) >= 3
),
m AS (SELECT g3, COUNT(*) AS c3 FROM g GROUP BY g3),
mp AS (
  SELECT g3, c3,
         SUM(c3) OVER (PARTITION BY substring(g3, 1, 2)) AS cp
  FROM m
),
s AS (
  SELECT doc_id, ROUND(log2(c3 / CAST(cp AS DOUBLE)), 6) AS lp
  FROM g JOIN mp USING (g3)
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
       ROUND(-CAST(SUM(CAST(lp AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*), 4)
         + 0.0 AS bits_per_char
FROM s GROUP BY doc_id ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# BPE tokenizer training (operators/bpe.py) — learn the corpus's merge
# table. The merge table itself is rows-only (20 rounds of greedy
# argmax are not SQL-expressible); ``bpe_check`` is the oracled gate:
# DuckDB independently recomputes round 1 (the most frequent adjacent
# character pair IS one SQL aggregation) and the exact merge count,
# and the in-plan predicates pin that every learned frequency is
# positive and non-increasing prefix-wise is NOT asserted (BPE
# frequencies are legitimately non-monotonic across rounds — merged
# symbols create new pairs).
# ---------------------------------------------------------------------------

_BPE_N_MERGES = 20

# Memoized per logical corpus like the IVF centroids / PQ codebooks:
# the merge table is the MODEL (20 rows), collected once and reused by
# every BPE registry entry in the session instead of retraining.
_BPE_CACHE: dict[tuple[str, int], list[tuple[int, str, str, int]]] = {}


def _merges_for(spark: SparkSession, sf: str) -> list[tuple[int, str, str, int]]:
    from ..operators.bpe import train_bpe, word_frequencies

    key = (sf, _BPE_N_MERGES)
    if key not in _BPE_CACHE:
        docs = load_table(spark, sf, "documents")
        _BPE_CACHE[key] = [
            (r.rank, r.left, r.right, int(r.freq))
            for r in train_bpe(
                spark, word_frequencies(docs), n_merges=_BPE_N_MERGES
            ).collect()  # model-sized: exactly _BPE_N_MERGES rows
        ]
    return _BPE_CACHE[key]


def bpe_merges(spark: SparkSession, sf: str) -> DataFrame:
    return spark.createDataFrame(
        _merges_for(spark, sf), "rank int, left string, right string, freq bigint"
    ).orderBy("rank")


def bpe_check(spark: SparkSession, sf: str) -> DataFrame:
    m = bpe_merges(spark, sf)
    first = m.filter(F.col("rank") == 1).select(
        F.col("left").alias("first_left"),
        F.col("right").alias("first_right"),
        F.col("freq").alias("first_freq"),
    )
    stats = m.agg(
        F.count(F.lit(1)).cast("int").alias("n_merges"),
        F.bool_and(F.col("freq") > 0).alias("freqs_positive"),
    )
    return stats.crossJoin(first).select(  # both sides 1 row
        "n_merges", "first_left", "first_right", "first_freq", "freqs_positive"
    )


BPE_CHECK_SQL = r"""
WITH words AS (
  SELECT t AS word, COUNT(*) AS cnt FROM (
    SELECT unnest(list_filter(string_split_regex(lower(text), '[^\w'']+'),
                              x -> x != '')) AS t
    FROM documents
  ) GROUP BY t
),
pairs AS (
  SELECT substr(word, CAST(i AS INT), 1) AS l,
         substr(word, CAST(i AS INT) + 1, 1) AS r,
         SUM(cnt) AS freq
  FROM words, LATERAL (SELECT unnest(range(1, length(word))) AS i)
  GROUP BY l, r
)
SELECT CAST(20 AS INT) AS n_merges,
       l AS first_left, r AS first_right,
       CAST(freq AS BIGINT) AS first_freq,
       TRUE AS freqs_positive
FROM pairs ORDER BY freq DESC, l, r LIMIT 1
"""


# ---------------------------------------------------------------------------
# BPE encoding: per-document subword counts under the learned merge
# table (segmentation runs on the distinct-word vocabulary, broadcast
# back — operators/bpe.py::bpe_encode). Counts are rows-only (the
# segmentation is the iterative model's output); the oracled gate pins
# exact corpus measures DuckDB recomputes (doc and token totals) plus
# the in-plan losslessness predicates: every vocabulary word must be
# EXACTLY the concatenation of its subwords, and each word's subword
# count must sit in [1, len(word)].
# ---------------------------------------------------------------------------

def bpe_doc_tokens(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.bpe import bpe_encode

    docs = load_table(spark, sf, "documents")
    merges = [(l, r) for _, l, r, _ in _merges_for(spark, sf)]
    return bpe_encode(docs, merges).sortWithinPartitions("doc_id")


def bpe_encode_check(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.bpe import TOKEN_SPLIT, bpe_encode, segment_words

    docs = load_table(spark, sf, "documents")
    merges = [(l, r) for _, l, r, _ in _merges_for(spark, sf)]
    vocab = (
        docs.select(
            F.explode(F.split(F.lower(F.col("text")), TOKEN_SPLIT)).alias("word")
        )
        .filter(F.col("word") != "")
        .distinct()
    )
    seg_ok = segment_words(vocab, merges).agg(
        F.bool_and(
            F.concat_ws("", F.col("subwords")) == F.col("word")
        ).alias("reconstruction_ok"),
        F.bool_and(
            (F.size("subwords") >= 1)
            & (F.size("subwords") <= F.length("word"))
        ).alias("bounds_ok"),
    )
    enc = bpe_encode(docs, merges).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("total_words"),
    )
    return enc.crossJoin(seg_ok).select(  # both sides 1 row
        "n_docs", "total_words", "reconstruction_ok", "bounds_ok"
    )


BPE_ENCODE_CHECK_SQL = r"""
WITH words AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '[^\w'']+'),
                            x -> x != '')) AS w
  FROM documents
)
SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS total_words,
       TRUE AS reconstruction_ok, TRUE AS bounds_ok
FROM words
"""


# ---------------------------------------------------------------------------
# Weighted sampling WITHOUT replacement (Efraimidis–Spirakis 2006):
# each item draws key = ln(u)/w with u uniform and w its weight; the
# top-k keys per stratum are a correctly-distributed weighted sample.
# Here u is md5-derived from the stable doc id (the house no-RNG
# discipline), so the sample is reproducible, partitioning-invariant,
# and incremental — the properties reservoir/rand() sampling loses at
# 100 TB. Heavier docs (weight = n_chars) are proportionally likelier.
# Per-stratum top-k runs as the stratified_sample window shape
# (WindowGroupLimit partial top-k, no global sort). Both engines run
# the identical md5→uniform→ln(u)/w arithmetic; keys of distinct docs
# are far apart relative to float error (verified at all SFs), and
# doc_id breaks any exact tie.
# ---------------------------------------------------------------------------

_ES_SAMPLE_K = 10


def weighted_sample_docs(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf, "documents").filter(F.col("n_chars") > 0)
    bucket = F.conv(
        F.substring(
            F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8")), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    u = (bucket + 1) / F.lit(float(2**32 + 1))
    key = F.log(u) / F.col("n_chars")
    w = Window.partitionBy("lang").orderBy(F.desc("es_key"), F.asc("doc_id"))
    return (
        d.withColumn("es_key", key)
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= _ES_SAMPLE_K)
        .select(
            "lang",
            F.col("sample_rank").cast("int").alias("sample_rank"),
            "doc_id",
            "n_chars",
        )
        .orderBy("lang", "sample_rank")
    )


WEIGHTED_SAMPLE_SQL = """
WITH keyed AS (
    SELECT lang, doc_id, n_chars,
           ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                AS BIGINT) + 1) / 4294967297.0) / n_chars AS es_key
    FROM documents WHERE n_chars > 0
), ranked AS (
    SELECT lang, doc_id, n_chars,
           ROW_NUMBER() OVER (PARTITION BY lang
                              ORDER BY es_key DESC, doc_id ASC)
               AS sample_rank
    FROM keyed
)
SELECT lang, CAST(sample_rank AS INT) AS sample_rank, doc_id, n_chars
FROM ranked WHERE sample_rank <= 10
ORDER BY lang, sample_rank
"""


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
    from .analytics import ngram_jaccard_exact

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


CURATION_QUERIES = {
    "decontaminate_docs": (decontaminate_docs, DECONTAMINATE_SQL),
    "doc_repetition_stats": (doc_repetition_stats, DOC_REPETITION_SQL),
    "semantic_dedup_docs": (semantic_dedup_docs, None),
    "curation_pipeline": (curation_pipeline, CURATION_PIPELINE_SQL),
    # round 5 additions — registered AFTER the 50 driver slots (the
    # slot list is pinned; new entries ride the local oracle twin)
    "stratified_sample_docs": (stratified_sample_docs, STRATIFIED_SAMPLE_SQL),
    "leakage_safe_split": (leakage_safe_split, LEAKAGE_SAFE_SPLIT_SQL),
    "charlm_doc_scores": (charlm_doc_scores, CHARLM_SCORES_SQL),
    "bpe_merges": (bpe_merges, None),
    "bpe_check": (bpe_check, BPE_CHECK_SQL),
    "bpe_doc_tokens": (bpe_doc_tokens, None),
    "bpe_encode_check": (bpe_encode_check, BPE_ENCODE_CHECK_SQL),
    "weighted_sample_docs": (weighted_sample_docs, WEIGHTED_SAMPLE_SQL),
    "incremental_dedup_delta": (incremental_dedup_delta, None),
    "incremental_dedup_check": (incremental_dedup_check, INCREMENTAL_DEDUP_CHECK_SQL),
}
