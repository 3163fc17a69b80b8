"""Training-data curation plans over the ``documents`` table:
benchmark decontamination, Gopher-style repetition and quality rules,
blocklists, PII redaction, per-source template detection, trigram
novelty, DSIR importance weights, character-LM scores, BPE training
and encoding, hash-based and leakage-safe splits, stratified and
weighted sampling, language temperature mixes, corpus rebalancing, and
the composed curation pipeline.

The Spark side is JVM Column algebra (the BPE and character-LM entries
excepted); the DuckDB side mirrors the same tokenizer twin as the
dedup verification SQL.

Every entry is a (builder, SQL twin) pair registered in
plans/analytics.py and follows the determinism rules stated there.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import bpe_ish_tokens
from ..operators.decontam import benchmark_decontamination
from ..sources.catalog import load_table
from .columns import dec_sum


# ---------------------------------------------------------------------------
# Deterministic train/val/test split: md5 of the stable id, first two
# hex chars thresholded at 'cc' (~79.7%) and 'e6' (~89.8%). Pure
# narrow map — no shuffle, no RNG state, identical assignment on any
# cluster/partitioning/engine, docs can be re-split incrementally.
# This (not .sample) is how a 100 TB corpus gets split reproducibly.
# ---------------------------------------------------------------------------

def doc_split_assignment(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    bucket = F.substring(
        F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8")), 1, 2
    )
    split = (
        F.when(bucket < "cc", "train")
        .when(bucket < "e6", "val")
        .otherwise("test")
    )
    return (
        d.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum(F.col("n_chars").cast("decimal(30,4)")).cast("double")
                / F.count("n_chars"),
                2,
            ).alias("avg_chars"),
        )
        .orderBy("split")
    )


DOC_SPLIT_SQL = """
WITH assigned AS (
    SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
                ELSE 'test' END AS split,
           n_chars
    FROM documents
)
SELECT split,
       COUNT(*) AS n_docs,
       ROUND(CAST(SUM(CAST(n_chars AS DECIMAL(30,4))) AS DOUBLE) / COUNT(n_chars), 2)
           AS avg_chars
FROM assigned
GROUP BY split
ORDER BY split
"""


# ---------------------------------------------------------------------------
# Deterministic weighted downsampling — training-mix curation (e.g.
# "cap non-English at half weight"). Same md5-bucket discipline as
# doc_split_assignment: keep a doc iff its hash bucket falls under the
# group's target fraction. No RNG, no shuffle for the sampling itself
# (a narrow filter), stable under re-runs and partitioning — the only
# sampling primitive that is reproducible AND incremental at 100 TB.
# ---------------------------------------------------------------------------

_LANG_KEEP = {"en": 1.0, "de": 0.5, "fr": 0.5, "es": 0.5, "zh": 0.25}


def corpus_rebalance(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    # bucket ∈ [0, 256): first two md5 hex chars of the stable id
    bucket = F.conv(
        F.substring(
            F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8")), 1, 2
        ),
        16,
        10,
    ).cast("int")
    keep_frac = F.coalesce(
        *[
            F.when(F.col("lang") == lang, F.lit(frac))
            for lang, frac in _LANG_KEEP.items()
        ],
        F.lit(0.0),
    )
    kept = d.filter(bucket < keep_frac * 256)
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum(F.col("n_chars").cast("decimal(30,4)")).cast("double")
                / F.count("n_chars"),
                2,
            ).alias("avg_chars"),
        )
        .orderBy("lang")
    )


CORPUS_REBALANCE_SQL = """
WITH hashed AS (
    SELECT lang, n_chars,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)) AS INT)
               AS bucket
    FROM documents
), kept AS (
    SELECT * FROM hashed
    WHERE bucket < 256 * CASE lang
        WHEN 'en' THEN 1.0 WHEN 'de' THEN 0.5 WHEN 'fr' THEN 0.5
        WHEN 'es' THEN 0.5 WHEN 'zh' THEN 0.25 ELSE 0.0 END
)
SELECT lang,
       COUNT(*) AS n_docs,
       ROUND(CAST(SUM(CAST(n_chars AS DECIMAL(30,4))) AS DOUBLE) / COUNT(n_chars), 2)
           AS avg_chars
FROM kept
GROUP BY lang
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# √-temperature sampling mix (the multilingual-corpus reweighting of
# mBERT/XLM-R, temperature α = 0.5): per-language mass c_i (total
# chars — an exact integer) is flattened to w_i = √c_i and normalized,
# up-weighting tail languages relative to proportional sampling.
# Bit-exact cross-engine BY CONSTRUCTION: √ is IEEE-correctly-rounded
# in both engines (unlike pow/exp, which is why α is 0.5 and not the
# usual 0.7 — same flattening idea, deterministic arithmetic), each
# √c_i is cast to DECIMAL(30,12) and EXACT-summed for the denominator
# (a 5-double float sum would ride partition order), and the final
# division is one IEEE op on identical inputs.
# ---------------------------------------------------------------------------

def sqrt_temperature_mix(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    per_lang = docs.groupBy("lang").agg(
        F.sum("n_chars").alias("lang_chars"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    w = per_lang.withColumn("w", F.sqrt(F.col("lang_chars").cast("double")))
    denom = w.agg(
        F.sum(F.col("w").cast("decimal(30,12)")).alias("_d")
    )
    return (
        w.crossJoin(F.broadcast(denom))  # 1-row side
        .select(
            "lang", "lang_chars", "n_docs",
            F.round(F.col("w") / F.col("_d").cast("double"), 6).alias(
                "sample_weight"
            ),
        )
        .orderBy("lang")
    )


SQRT_TEMPERATURE_SQL = """
WITH per_lang AS (
  SELECT lang, SUM(n_chars)::BIGINT AS lang_chars, COUNT(*) AS n_docs,
         sqrt(CAST(SUM(n_chars) AS DOUBLE)) AS w
  FROM documents GROUP BY lang
),
d AS (SELECT SUM(CAST(w AS DECIMAL(30,12))) AS _d FROM per_lang)
SELECT lang, lang_chars, n_docs,
       ROUND(w / CAST(_d AS DOUBLE), 6) AS sample_weight
FROM per_lang, d
ORDER BY lang
"""


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


# DSIR hashed-feature space size (buckets); two md5 hex chars.
_DSIR_B = 256


# ---------------------------------------------------------------------------
# DSIR hashed n-gram importance weights (Xie et al., NeurIPS'23).
#
# Features are unigrams + bigrams hashed into 256 buckets; the target
# distribution is estimated from the lang='en' slice, the raw
# distribution from the whole corpus, both add-1 smoothed; each doc
# scores Σ_ngram log(p_target(bucket)/p_raw(bucket)). High scores =
# looks like the target slice; sampling ∝ exp(score) is the DSIR
# selection step (deterministic here — the weights ARE the output).
#
# Cross-engine exactness: the bucket is two md5 hex chars (portable),
# each bucket's log-ratio is a natural log of ONE double quotient of
# exactly-representable integer products (IEEE-identical both
# engines) rounded to 6 dp, and the per-doc total is an exact decimal
# sum of (integer count × rounded ratio) — the charlm discipline.
#
# Scale shape: the explode collapses immediately to per-(doc, bucket)
# counts (map-side combinable; B=256 caps distinct values per doc);
# the model is 256 rows FOREVER (hint-broadcast legitimately); the
# totals ride a 1-row broadcast. One corpus scan, one bounded join.
# ---------------------------------------------------------------------------

_BUCKET_EXPR = (
    "(instr('0123456789abcdef', substring(md5(ngram), 1, 1)) - 1) * 16 + "
    "instr('0123456789abcdef', substring(md5(ngram), 2, 1)) - 1"
)


def dsir_importance_weights(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    tk = F.split(F.col("text"), " ")
    ng = (
        docs.select("doc_id", "lang", tk.alias("tk"))
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.expr(
                    "concat(tk, CASE WHEN size(tk) >= 2 THEN "
                    "transform(sequence(1, size(tk) - 1), "
                    "i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1))) "
                    "ELSE array() END)"
                )
            ).alias("ngram"),
        )
        .withColumn("bucket", F.expr(_BUCKET_EXPR))
    )
    # ONE derivation of the exploded+md5-bucketed ngram stream (r14):
    # both downstream aggregates previously re-derived ``ng`` — two
    # full tokenize+explode+md5 corpus passes for one query. The
    # (doc_id, lang, bucket) pre-aggregate is map-side combinable and
    # at most 256 rows per document, so the checkpoint payload is the
    # small count table, never the gram instances. Exact: lang is
    # functionally dependent on doc_id (one row per doc in
    # ``documents``), so grouping by (doc_id, lang, bucket) partitions
    # identically to (doc_id, bucket), and both ``per`` and ``cnt``
    # below are pure integer re-aggregations of these counts.
    gc2 = (
        ng.groupBy("doc_id", "lang", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    per = gc2.select("doc_id", "bucket", "n")
    cnt = gc2.groupBy("bucket").agg(
        F.sum("n").alias("cr"),
        F.sum(F.when(F.col("lang") == "en", F.col("n")).otherwise(F.lit(0))).alias("ct"),
    )
    tot = cnt.agg(
        F.sum("cr").alias("tr_tot"), F.sum("ct").alias("tt_tot")
    )
    lr = (
        cnt.crossJoin(F.broadcast(tot))  # 1-row totals
        .select(
            "bucket",
            F.round(
                F.log(
                    (
                        (F.col("ct") + F.lit(1.0))
                        * (F.col("tr_tot") + F.lit(_DSIR_B)).cast("double")
                    )
                    / (
                        (F.col("cr") + F.lit(1.0))
                        * (F.col("tt_tot") + F.lit(_DSIR_B)).cast("double")
                    )
                ),
                6,
            ).alias("lr"),
        )
    )
    return (
        # the model is ≤ 256 rows by construction — broadcast hint is
        # within the repo policy (PLANS.md bounded-relation rule)
        per.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_ngrams"),
            F.round(
                dec_sum(
                    F.col("n").cast("decimal(18,0)")
                    * F.col("lr").cast("decimal(18,6)"),
                    6,
                ).cast("double"),
                6,
            ).alias("dsir_logratio"),
        )
        .sortWithinPartitions("doc_id")
    )


DSIR_SQL = f"""
WITH tk AS (
  SELECT doc_id, lang, string_split(text, ' ') AS tk FROM documents
),
ng AS (
  SELECT doc_id, lang,
         (strpos('0123456789abcdef', substring(md5(u.ngram), 1, 1)) - 1) * 16
         + strpos('0123456789abcdef', substring(md5(u.ngram), 2, 1)) - 1
           AS bucket
  FROM tk, UNNEST(list_concat(tk,
         CASE WHEN len(tk) >= 2 THEN
           list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1])
         ELSE [] END)) AS u(ngram)
),
per AS (
  SELECT doc_id, bucket, COUNT(*) AS n FROM ng GROUP BY doc_id, bucket
),
cnt AS (
  SELECT bucket, COUNT(*) AS cr,
         COUNT(*) FILTER (WHERE lang = 'en') AS ct
  FROM ng GROUP BY bucket
),
tot AS (SELECT SUM(cr) AS tr_tot, SUM(ct) AS tt_tot FROM cnt),
lr AS (
  SELECT bucket,
         ROUND(ln(((ct + 1.0) * CAST(tr_tot + {_DSIR_B} AS DOUBLE))
                  / ((cr + 1.0) * CAST(tt_tot + {_DSIR_B} AS DOUBLE))), 6)
           AS lr
  FROM cnt, tot
)
SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_ngrams,
       ROUND(CAST(SUM(CAST(n AS DECIMAL(18,0)) * CAST(lr AS DECIMAL(18,6)))
                  AS DOUBLE), 6) AS dsir_logratio
FROM per JOIN lr USING (bucket)
GROUP BY doc_id ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Blocklist term audit: per blocklist word — how many documents
# contain it and how many total occurrences; plus the flagged-corpus
# rollup every filtering pipeline reports before dropping. Counts
# are computed ARRAY-SIDE (one narrow map; the blocklist is a plan
# literal), so nothing shuffles except the ≤|blocklist| aggregate
# rows. All-integer output.
# ---------------------------------------------------------------------------

_BLOCKLIST = ("slow", "error", "big")


def blocklist_term_hits(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions.text import bpe_ish_tokens

    docs = load_table(spark, sf, "documents")
    toks = docs.select("doc_id", bpe_ish_tokens(F.col("text")).alias("t"))
    # one scan: per-word occurrence columns, then an in-row stack —
    # not one unioned scan per blocklist word
    occ_cols = [
        F.size(F.expr(f"filter(t, x -> x = '{w}')")).alias(f"occ_{i}")
        for i, w in enumerate(_BLOCKLIST)
    ]
    stack_args = ", ".join(
        f"'{w}', occ_{i}" for i, w in enumerate(_BLOCKLIST)
    )
    u = toks.select(*occ_cols).select(
        F.expr(
            f"stack({len(_BLOCKLIST)}, {stack_args}) AS (term, occ)"
        )
    )
    return (
        u.groupBy("term")
        .agg(
            F.sum(F.when(F.col("occ") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_docs"),
            F.sum("occ").cast("long").alias("n_occurrences"),
        )
        .orderBy("term")
    )


_BLOCKLIST_SQL_ARMS = " UNION ALL ".join(
    f"SELECT doc_id, '{w}' AS term,"
    f" len(list_filter(t, x -> x = '{w}')) AS occ FROM toks"
    for w in _BLOCKLIST
)


BLOCKLIST_SQL = rf"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '[^\w'']+'),
                       x -> x != '') AS t
    FROM documents
), u AS (
    {_BLOCKLIST_SQL_ARMS}
)
SELECT term,
       CAST(SUM(CASE WHEN occ > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
       CAST(SUM(occ) AS BIGINT) AS n_occurrences
FROM u GROUP BY term ORDER BY term
"""


# ---------------------------------------------------------------------------
# Per-document trigram novelty: the share of a doc's DISTINCT
# 3-grams that appear in no other document — high novelty = unique
# content worth keeping, low = boilerplate/memorized. Dataflow:
# distinct (doc, trigram) → per-trigram doc frequency → join back →
# per-doc share. The trigram rides the shuffle as one md5-derived
# 64-bit hash (engine-identical; collision odds ~n²/2⁶⁴ are
# negligible and identical for both engines since BOTH hash the
# same way — the compare stays fair). Share divides once, rounds
# once. Top-20 by (novelty, doc_id) on the ROUNDED value.
# ---------------------------------------------------------------------------

_NOVELTY_K = 20


def doc_trigram_novelty(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions.text import bpe_ish_tokens

    docs = load_table(spark, sf, "documents")
    tri = (
        docs.select("doc_id", bpe_ish_tokens(F.col("text")).alias("t"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 2),"
                    " i -> concat(t[i - 1], ' ', t[i], ' ', t[i + 1]))"
                )
            ).alias("g"),
        )
        .select(
            "doc_id",
            F.unhex(F.substring(F.md5("g"), 1, 16)).alias("gh"),
        )
        .distinct()
    )
    df_counts = tri.groupBy("gh").agg(F.count(F.lit(1)).alias("df"))
    per_doc = (
        tri.join(df_counts, "gh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias("n_unique"),
        )
    )
    return (
        per_doc.select(
            "doc_id",
            F.col("n_grams").cast("long").alias("n_grams"),
            F.col("n_unique").cast("long").alias("n_unique"),
            F.round(F.col("n_unique") / F.col("n_grams"), 6).alias(
                "novelty"
            ),
        )
        .orderBy(F.desc("novelty"), F.asc("doc_id"))
        .limit(_NOVELTY_K)
    )


NOVELTY_SQL = rf"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '[^\w'']+'),
                       x -> x != '') AS t
    FROM documents
), tri AS (
    SELECT DISTINCT doc_id,
           unnest(list_transform(range(1, len(t) - 1),
                  i -> substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]),
                              1, 16))) AS gh
    FROM toks
), dfc AS (
    SELECT gh, COUNT(*) AS df FROM tri GROUP BY gh
), per_doc AS (
    SELECT doc_id, COUNT(*) AS n_grams,
           SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS n_unique
    FROM tri JOIN dfc USING (gh)
    GROUP BY doc_id
)
SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
       CAST(n_unique AS BIGINT) AS n_unique,
       ROUND(CAST(n_unique AS DOUBLE) / n_grams, 6) AS novelty
FROM per_doc
ORDER BY novelty DESC, doc_id ASC
LIMIT {_NOVELTY_K}
"""


# ---------------------------------------------------------------------------
# Gopher rules (Rae et al. 2021, §A1.1, the document-quality subset
# expressible over this corpus). EVERY predicate is pure integer
# arithmetic (a·n OP b·m cross-multiplication instead of ratios), so
# the per-rule failure counts hash exactly with no float discipline
# at all. One scan; per-doc line/word vectors never leave the row.
# ---------------------------------------------------------------------------

_GOPHER_STOPS = "'the','and','of','to','in','is','that','it','for','with'"


def gopher_quality_flags(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    sig = docs.select(
        F.expr(r"filter(split(trim(text), '\\s+'), w -> w != '')").alias("ws"),
        F.split(F.col("text"), "\n").alias("ls"),
    ).select(
        F.size("ws").alias("nw"),
        F.expr("aggregate(ws, 0L, (a, w) -> a + length(w))").alias("wlen"),
        F.expr("size(filter(ws, w -> w rlike '[A-Za-z]'))").alias("nalpha"),
        F.expr(
            f"size(filter(ws, w -> lower(w) IN ({_GOPHER_STOPS})))"
        ).alias("nstop"),
        F.size("ls").alias("nl"),
        F.expr(
            "size(filter(ls, l -> l LIKE '-%' OR l LIKE '*%'"
            " OR l LIKE '•%'))"
        ).alias("nbullet"),
        F.expr(
            "size(filter(ls, l -> l LIKE '%...' OR l LIKE '%…'))"
        ).alias("nellip"),
    )
    flags = sig.select(
        ((F.col("nw") < 50) | (F.col("nw") > 100000)).cast("int").alias("r1"),
        (
            (F.col("wlen") < 3 * F.col("nw"))
            | (F.col("wlen") > 10 * F.col("nw"))
        ).cast("int").alias("r2"),
        (5 * F.col("nalpha") < 4 * F.col("nw")).cast("int").alias("r3"),
        (10 * F.col("nbullet") > 9 * F.col("nl")).cast("int").alias("r4"),
        (10 * F.col("nellip") > 3 * F.col("nl")).cast("int").alias("r5"),
        (F.col("nstop") < 2).cast("int").alias("r6"),
    )
    agg = flags.agg(
        F.sum("r1").alias("f1"), F.sum("r2").alias("f2"),
        F.sum("r3").alias("f3"), F.sum("r4").alias("f4"),
        F.sum("r5").alias("f5"), F.sum("r6").alias("f6"),
        F.sum(
            (
                (F.col("r1") + F.col("r2") + F.col("r3")
                 + F.col("r4") + F.col("r5") + F.col("r6")) == 0
            ).cast("int")
        ).alias("p"),
    )
    return agg.selectExpr(
        "stack(7,"
        " 'fail_word_count', CAST(f1 AS BIGINT),"
        " 'fail_mean_word_len', CAST(f2 AS BIGINT),"
        " 'fail_alpha_frac', CAST(f3 AS BIGINT),"
        " 'fail_bullet_lines', CAST(f4 AS BIGINT),"
        " 'fail_ellipsis_lines', CAST(f5 AS BIGINT),"
        " 'fail_stopword_floor', CAST(f6 AS BIGINT),"
        " 'pass_all', CAST(p AS BIGINT)) AS (rule, n_docs)"
    ).orderBy("rule")


GOPHER_SQL = rf"""
WITH sig AS (
    SELECT list_filter(string_split_regex(trim(text), '\s+'),
                       w -> w != '') AS ws,
           string_split(text, chr(10)) AS ls
    FROM documents
), m AS (
    SELECT len(ws) AS nw,
           list_sum(list_transform(ws, w -> length(w))) AS wlen,
           len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]')))
               AS nalpha,
           len(list_filter(ws, w -> lower(w) IN ({_GOPHER_STOPS})))
               AS nstop,
           len(ls) AS nl,
           len(list_filter(ls, l -> l LIKE '-%' OR l LIKE '*%'
                               OR l LIKE '•%')) AS nbullet,
           len(list_filter(ls, l -> l LIKE '%...' OR l LIKE '%…'))
               AS nellip
    FROM sig
), flags AS (
    SELECT CASE WHEN nw < 50 OR nw > 100000 THEN 1 ELSE 0 END AS r1,
           CASE WHEN wlen < 3 * nw OR wlen > 10 * nw THEN 1 ELSE 0 END AS r2,
           CASE WHEN 5 * nalpha < 4 * nw THEN 1 ELSE 0 END AS r3,
           CASE WHEN 10 * nbullet > 9 * nl THEN 1 ELSE 0 END AS r4,
           CASE WHEN 10 * nellip > 3 * nl THEN 1 ELSE 0 END AS r5,
           CASE WHEN nstop < 2 THEN 1 ELSE 0 END AS r6
    FROM m
), agg AS (
    SELECT SUM(r1) AS f1, SUM(r2) AS f2, SUM(r3) AS f3, SUM(r4) AS f4,
           SUM(r5) AS f5, SUM(r6) AS f6,
           SUM(CASE WHEN r1 + r2 + r3 + r4 + r5 + r6 = 0 THEN 1 ELSE 0 END)
               AS p
    FROM flags
)
SELECT rule, n_docs FROM (
    SELECT 'fail_word_count' AS rule, CAST(f1 AS BIGINT) AS n_docs FROM agg
    UNION ALL SELECT 'fail_mean_word_len', CAST(f2 AS BIGINT) FROM agg
    UNION ALL SELECT 'fail_alpha_frac', CAST(f3 AS BIGINT) FROM agg
    UNION ALL SELECT 'fail_bullet_lines', CAST(f4 AS BIGINT) FROM agg
    UNION ALL SELECT 'fail_ellipsis_lines', CAST(f5 AS BIGINT) FROM agg
    UNION ALL SELECT 'fail_stopword_floor', CAST(f6 AS BIGINT) FROM agg
    UNION ALL SELECT 'pass_all', CAST(p AS BIGINT) FROM agg
) ORDER BY rule
"""


# ---------------------------------------------------------------------------
# PII redaction and temperature-based language sampling weights, both
# all-native Column algebra (zero Python) and hash-oracled.
#
# `redact_pii_docs`: the shipped synthetic docs contain no PII, so — the
# null_key_order_ranks / chunk_docs_sentences injection precedent — the
# query first plants deterministic doc_id-derived PII spans (an email,
# an IPv4, a phone fragment) on two thirds of the docs with IDENTICAL
# concat expressions on both engines, then counts and redacts them with
# engine-portable regexes (character classes + bounded quantifiers only:
# Java regex and RE2 agree on these; no lookaround, no \d shorthands
# whose Unicode semantics differ). Output is per-doc match counts plus
# an md5 fingerprint of the redacted text, so the oracle hash proves the
# REDACTED BYTES equal, not just the counts.
#
# `lang_temperature_weights`: the standard multilingual-mix computation
# (temperature/alpha sampling as in multilingual-BERT/XLM-R data
# recipes): per-language token mass p_l, tempered sampling probability
# q_l = p_l^alpha / sum(p^alpha) with alpha = 0.3, and the up/down-
# sampling boost q_l / p_l. One tiny aggregate over the corpus — the
# planner table a 100 TB multilingual run derives before writing its
# sampler config.
#
# Scale posture: redaction is a narrow per-row map with zero shuffle
# (corpus-sized output → sortWithinPartitions only, per the
# presentation-sort convention in plans/analytics.py); the weights query
# is one groupBy(lang) over ~10 groups with map-side partial
# aggregation.
# ---------------------------------------------------------------------------


# Engine-portable PII patterns (Java regex == RE2 on this subset).
_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"


_IPV4 = r"([0-9]{1,3}\.){3}[0-9]{1,3}"


_PHONE = r"555-[0-9]{4}"


def _with_planted_pii(docs: DataFrame) -> DataFrame:
    """documents + `pii_text`: deterministic doc_id-derived PII spans
    planted on doc_id % 3 != 0 (the rest stay clean so zero-count rows
    are exercised). Pure concat — byte-identical to the SQL twin."""
    planted = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.org at 10.0."),
        (F.col("doc_id") % 250).cast("string"),
        F.lit(".7 or 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    return docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 != 0, planted)
        .otherwise(F.col("text"))
        .alias("pii_text"),
    )


def redact_pii_docs(spark: SparkSession, sf: str) -> DataFrame:
    d = _with_planted_pii(load_table(spark, sf, "documents"))
    t = F.col("pii_text")
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, _EMAIL, "<EMAIL>"), _IPV4, "<IP>"
        ),
        _PHONE,
        "<PHONE>",
    )
    return (
        d.select(
            "doc_id",
            F.regexp_count(t, F.lit(_EMAIL)).cast("long").alias("n_emails"),
            F.regexp_count(t, F.lit(_IPV4)).cast("long").alias("n_ipv4"),
            F.regexp_count(t, F.lit(_PHONE)).cast("long").alias("n_phones"),
            F.md5(redacted.cast("binary")).alias("redacted_fp"),
        )
        .sortWithinPartitions("doc_id")
    )


REDACT_PII_SQL = r"""
WITH planted AS (
    SELECT doc_id,
           CASE WHEN doc_id % 3 <> 0 THEN
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@mail.example.org at 10.0.'
                    || CAST(doc_id % 250 AS VARCHAR)
                    || '.7 or 555-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           ELSE text END AS pii_text
    FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(pii_text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
           AS n_emails,
       CAST(len(regexp_extract_all(pii_text,
            '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS BIGINT) AS n_ipv4,
       CAST(len(regexp_extract_all(pii_text, '555-[0-9]{4}')) AS BIGINT)
           AS n_phones,
       md5(regexp_replace(regexp_replace(regexp_replace(pii_text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g'),
            '555-[0-9]{4}', '<PHONE>', 'g')) AS redacted_fp
FROM planted
ORDER BY doc_id
"""


_ALPHA = 0.3


# Cross-engine hashed doubles sit on pow()/float-sum outputs, and Java
# Math.pow vs DuckDB's libm pow are not guaranteed identically rounded
# (r12 ADVICE item 3): a value landing within ~1 ulp of a rounding
# boundary could flip after a testdata regen. The flip probability is
# (cross-engine discrepancy)/(boundary spacing), so coarser rounding
# reduces it linearly — 4 decimals on probabilities / 2 on the boost
# is 100× safer than 6/4 and loses nothing a sampler config needs.
_P_DECIMALS = 4


_BOOST_DECIMALS = 2


def lang_temperature_weights(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf, "documents")
    # explicit ASCII class, NOT \s: Java \s includes \x0B, RE2's does
    # not — chunk_docs_sentences' engine-portability rule applies to token counts
    # feeding cross-engine-hashed doubles too
    toks = F.size(F.split(F.trim(F.col("text")), r"[ \t\r\n]+")).cast("long")
    per = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(toks).alias("n_tokens"),
    )
    # normalizers as GLOBAL WINDOWS over the aggregated frame: the
    # frame is O(languages) rows (the single partition holds ~10
    # rows, never the corpus), and the corpus is scanned ONCE — the
    # scalar-crossJoin formulation re-derived the groupBy three times
    # (6 scans in the executed plan).
    w = Window.partitionBy()
    p = F.col("n_tokens").cast("double") / F.sum("n_tokens").over(w)
    per = per.withColumn("p", p).withColumn(
        "_q", F.sum(F.pow("p", F.lit(_ALPHA))).over(w)
    )
    return per.select(
        "lang",
        "n_docs",
        "n_tokens",
        F.round("p", _P_DECIMALS).alias("p_tokens"),
        F.round(F.pow("p", F.lit(_ALPHA)) / F.col("_q"), _P_DECIMALS).alias(
            "q_sample"
        ),
        F.round(
            (F.pow("p", F.lit(_ALPHA)) / F.col("_q")) / F.col("p"),
            _BOOST_DECIMALS,
        ).alias("boost"),
    ).orderBy("lang")


LANG_TEMPERATURE_SQL = rf"""
WITH per AS (
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(len(regexp_split_to_array(trim(text), '[ \t\r\n]+')))
                AS BIGINT) AS n_tokens
    FROM documents GROUP BY lang
),
tot AS (SELECT SUM(n_tokens) AS t FROM per),
p AS (
    SELECT lang, n_docs, n_tokens,
           CAST(n_tokens AS DOUBLE) / t AS p
    FROM per, tot
),
q AS (SELECT SUM(POWER(p, {_ALPHA})) AS qs FROM p)
SELECT lang, n_docs, n_tokens,
       ROUND(p, {_P_DECIMALS}) AS p_tokens,
       ROUND(POWER(p, {_ALPHA}) / qs, {_P_DECIMALS}) AS q_sample,
       ROUND((POWER(p, {_ALPHA}) / qs) / p, {_BOOST_DECIMALS}) AS boost
FROM p, q
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# Per-source boilerplate (template) prefix detection.
#
# `source_template_prefix`: pages scraped from one site share a rendered
# template; the classic one-pass detector is the MIN/MAX trick — within
# a group, if even the two LEXICOGRAPHIC EXTREMES share a prefix, every
# member shares it, so the group's common prefix is LCP(MIN(text),
# MAX(text)) computed from ONE aggregate scan (no pairwise comparisons —
# the property that makes it a 100 TB operator: min/max are map-side-
# combinable, the LCP runs on 1 row per source). The shipped synthetic
# docs are template-free, so — the injection precedent of
# null_key_order_ranks, chunk_docs_sentences and redact_pii_docs — the
# query first prepends a deterministic per-source header with IDENTICAL
# concat expressions on both engines, then detects it. A single-doc
# source reports its whole text as the "template" — correct by
# definition (its min and max coincide) and exactly what the heuristic's
# consumers threshold on n_docs for.
# ---------------------------------------------------------------------------


_PREFIX_PREVIEW = 60  # chars of detected template carried in the output


# Binary-search probe count for the LCP: covers prefixes up to
# 2^22 - 1 chars (~4 MB docs). Each probe is one substr-equality of
# O(L) work, so the LCP costs O(L log L) instead of the original
# filter-over-all-prefix-lengths O(L^2) (r13 VERDICT item 4 / ADVICE
# item 3). Raise in lockstep with the SQL twin if the corpus ever
# ships longer documents — an under-sized probe count would silently
# report ok=floor-of-search, not the true LCP.
_LCP_STEPS = 22


def lcp_expr(lo, hi):
    """Longest-common-prefix LENGTH of two string Columns by BINARY
    SEARCH on the prefix length (prefix equality is monotone):
    invariant ok <= LCP < bad, with bad starting at n+1 (the virtual
    always-mismatching prefix). Each of the _LCP_STEPS probes halves
    the bracket with ONE substr-equality, and once bad - ok == 1 the
    fold passes the state through unchanged, so the result is exact."""
    n = F.least(F.length(lo), F.length(hi))

    def _probe(acc, _):
        done = (acc["bad"] - acc["ok"]) <= 1
        mid = ((acc["ok"] + acc["bad"]) / 2).cast("int")
        hit = lo.substr(F.lit(1), mid) == hi.substr(F.lit(1), mid)
        return F.struct(
            F.when(done, acc["ok"])
            .when(hit, mid)
            .otherwise(acc["ok"])
            .alias("ok"),
            F.when(done, acc["bad"])
            .when(hit, acc["bad"])
            .otherwise(mid)
            .alias("bad"),
        )

    return F.aggregate(
        F.sequence(F.lit(1), F.lit(_LCP_STEPS)),
        F.struct(
            F.lit(0).cast("int").alias("ok"),
            (n + 1).cast("int").alias("bad"),
        ),
        _probe,
    )["ok"]


def source_template_prefix(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    headed = docs.select(
        "source",
        F.concat(
            F.lit("["), F.col("source"), F.lit(" header] "), F.col("text")
        ).alias("t"),
    )
    agg = headed.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("t").alias("lo"),
        F.max("t").alias("hi"),
    )
    lcp = lcp_expr(F.col("lo"), F.col("hi"))
    return (
        agg.select(
            "source",
            "n_docs",
            lcp.cast("int").alias("shared_prefix_len"),
            F.col("lo")
            .substr(F.lit(1), F.least(lcp, F.lit(_PREFIX_PREVIEW)))
            .alias("shared_prefix"),
        )
        # bounded output (one row per source) -> total-order sort kept
        .orderBy("source")
    )


# Same binary search as the Spark side (probe count interpolated from
# the shared _LCP_STEPS constant so the twins can never desync).
SOURCE_TEMPLATE_PREFIX_SQL = rf"""
WITH RECURSIVE headed AS (
  SELECT source, '[' || source || ' header] ' || text AS t FROM documents
),
agg AS (
  SELECT source, COUNT(*) AS n_docs, MIN(t) AS lo, MAX(t) AS hi
  FROM headed GROUP BY source
),
bs AS (
  SELECT source, n_docs, lo, hi, 0 AS ok,
         CAST(least(len(lo), len(hi)) + 1 AS INT) AS bad, 0 AS step
  FROM agg
  UNION ALL
  SELECT source, n_docs, lo, hi,
         CASE WHEN bad - ok <= 1 THEN ok
              WHEN substr(lo, 1, (ok + bad) // 2)
                   = substr(hi, 1, (ok + bad) // 2) THEN (ok + bad) // 2
              ELSE ok END,
         CASE WHEN bad - ok <= 1 THEN bad
              WHEN substr(lo, 1, (ok + bad) // 2)
                   = substr(hi, 1, (ok + bad) // 2) THEN bad
              ELSE (ok + bad) // 2 END,
         step + 1
  FROM bs WHERE step < {_LCP_STEPS}
),
lcp AS (
  SELECT source, n_docs, lo, ok AS plen FROM bs WHERE step = {_LCP_STEPS}
)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(plen AS INT) AS shared_prefix_len,
       substr(lo, 1, CAST(least(plen, {_PREFIX_PREVIEW}) AS INT)) AS shared_prefix
FROM lcp ORDER BY source
"""
