"""Document-text plans over the ``documents`` table: tokenization,
per-document statistics and quality signals, language ID and its
confusion matrix, corpus vocabulary statistics (Zipf, Heaps, PMI
collocations, entropy, tokenizer fertility), byte-level profiles,
fixed-window and sentence-boundary chunking, sequence packing and the
Z-order clustering key.

Each SQL twin splits and lower-cases text with the same pattern as its
Spark plan, so token counts hash equal across engines; where Java's and
RE2's whitespace classes differ, both sides use an explicit ASCII class.

Every entry is a (builder, SQL twin) pair registered in
plans/analytics.py and follows the determinism rules stated there.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as TX
from ..operators.ranks import constant_partition_key
from ..sources.catalog import load_table
from .columns import dec_sum


# ---------------------------------------------------------------------------
# Explode / unnest (E1 analog): token frequencies over documents
# ---------------------------------------------------------------------------

def explode_tokens(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return (
        docs.select(F.explode(TX.bpe_ish_tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("token_count"))
        .orderBy(F.desc("token_count"), F.asc("token"))
        .limit(20)
    )


EXPLODE_TOKENS_SQL = r"""
SELECT token, COUNT(*) AS token_count
FROM (
  SELECT unnest(list_filter(string_split_regex(lower(text), '[^\w'']+'),
                            x -> x != '')) AS token
  FROM documents
)
GROUP BY token
ORDER BY token_count DESC, token ASC
LIMIT 20
"""


# ---------------------------------------------------------------------------
# Text analysis: token stats, quality, language ID
# ---------------------------------------------------------------------------

def doc_token_stats(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    enriched = docs.select(
        "lang",
        TX.token_count(F.col("text")).alias("n_tokens"),
        F.length("text").alias("n_text_chars"),
    )
    return (
        enriched.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.round(
                dec_sum(F.col("n_tokens").cast("double"), 4).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_tokens"),
            F.round(
                dec_sum(F.col("n_text_chars").cast("double"), 4).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_chars"),
        )
    )


DOC_TOKEN_STATS_SQL = r"""
SELECT lang,
       COUNT(*) AS doc_count,
       ROUND(CAST(SUM(CAST(n_tokens AS DECIMAL(30,4))) AS DOUBLE) / COUNT(*), 4) AS avg_tokens,
       ROUND(CAST(SUM(CAST(n_text_chars AS DECIMAL(30,4))) AS DOUBLE) / COUNT(*), 4) AS avg_chars
FROM (
  SELECT lang,
         len(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')) AS n_tokens,
         length(text) AS n_text_chars
  FROM documents
)
GROUP BY lang
"""


def doc_quality(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    # materialize both tokenizations once (multi-referenced by the score)
    return (
        docs.withColumn("_ws", TX.tokens(F.col("text")))
        .withColumn("_bpe", TX.bpe_ish_tokens(F.col("text")))
        .select(
            "doc_id",
            TX.quality_score_from(
                F.col("_ws"), F.col("_bpe"), F.col("text")
            ).alias("quality"),
        )
    )


DOC_QUALITY_SQL = r"""
WITH t AS (
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
)
SELECT doc_id,
       ROUND((least(n_tokens / 100.0, 1.0)
            + (1.0 - least(punct_ratio * 5.0, 1.0))
            + (1.0 - least(abs(stop_ratio - 0.4) * 2.0, 1.0))) / 3.0, 6) AS quality
FROM s
"""


def lang_id_docs(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    # tokenize ONCE into a real column — the detection cascade reads it
    # 8×, and HOFs get no codegen CSE (see detected_lang_from docstring)
    return docs.withColumn("_toks", TX.bpe_ish_tokens(F.col("text"))).select(
        "doc_id",
        "lang",
        TX.detected_lang_from(F.col("_toks")).alias("detected_lang"),
    )


_SW = {k: ", ".join(f"'{w}'" for w in v) for k, v in TX.STOPWORDS.items()}


LANG_ID_SQL = rf"""
WITH t AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(text), '[^\w'']+'), x -> x != '') AS toks
  FROM documents
),
h AS (
  SELECT doc_id, lang,
         len(list_filter(toks, x -> x IN ({_SW['en']}))) AS hits_en,
         len(list_filter(toks, x -> x IN ({_SW['de']}))) AS hits_de,
         len(list_filter(toks, x -> x IN ({_SW['fr']}))) AS hits_fr,
         len(list_filter(toks, x -> x IN ({_SW['es']}))) AS hits_es
  FROM t
)
SELECT doc_id, lang,
       CASE WHEN greatest(hits_en, hits_de, hits_fr, hits_es) = 0 THEN 'und'
            WHEN hits_en >= hits_de AND hits_en >= hits_fr AND hits_en >= hits_es THEN 'en'
            WHEN hits_de >= hits_fr AND hits_de >= hits_es THEN 'de'
            WHEN hits_fr >= hits_es THEN 'fr'
            ELSE 'es' END AS detected_lang
FROM h
"""


# ---------------------------------------------------------------------------
# Fixed-size token chunking — the pre-tokenization windowing step of an
# LLM training pipeline. `chunk_docs` is an all-native plan (split →
# sequence → slice → posexplode); the Arrow UDTF measured 1.68 s vs 0.55
# s native at sf0.1 for a byte-equivalent result, so the UDTF surface is
# kept for the job natives cannot do — sentence-boundary chunking with
# overlap (chunk_docs_sentences below). Token-budget packing sits beside
# it.
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# Token-budget packing (rows-only: the greedy packer is imperative
# per-shard logic, not SQL-expressible).
# ---------------------------------------------------------------------------

def doc_packing(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.packing import pack_documents

    d = load_table(spark, sf, "documents")
    return pack_documents(d, budget=512).orderBy("pack_id")


CHUNK_DOCS_SQL = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
), nums AS (SELECT CAST(range AS INT) AS gs FROM range(0, 100000))
SELECT doc_id, gs AS chunk_idx,
       array_to_string(t[gs*50+1 : (gs+1)*50], ' ') AS chunk
FROM toks JOIN nums ON gs * 50 < len(t)
ORDER BY doc_id, chunk_idx
"""


def chunk_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-stride chunking, all-native: split → sequence →
    transform(slice) → posexplode, zero Python boundary. This is THE
    `chunk_docs` registry entry since round 12: the r11 clean bench
    measured the Arrow UDTF twin at 1.68 s vs 0.55 s for this plan —
    the per-batch Arrow string conversion dominates a generator that
    trivial, and the real fix is not a faster serializer but no
    serializer: whole-stage-codegen array ops. Edge contract (r11
    ADVICE): for empty/whitespace-only text, split(trim, '\\s+')
    yields [''] and this plan emits ONE empty-string chunk — matching
    CHUNK_DOCS_SQL's regexp_split_to_array exactly (pinned by a unit
    fixture); the UDTF twin's Python str.split() instead yields zero
    rows and additionally splits on Unicode whitespace, which is why
    the UDTF is the unit-covered extension surface, not the entry."""
    return chunk_tokens_native(load_table(spark, sf, "documents"), 50)


def chunk_tokens_native(docs: DataFrame, n: int) -> DataFrame:
    """The plan behind chunk_docs, factored over any (doc_id, text)
    frame so the empty/whitespace edge contract is unit-testable
    against the oracle on an injected fixture (tests/test_ext17.py)."""
    t = F.split(F.trim(F.col("text")), r"\s+")
    return (
        docs.select(
            "doc_id",
            F.posexplode(
                F.transform(
                    # one slot per started chunk: gs in [0, (len-1)/n]
                    F.sequence(
                        F.lit(0),
                        F.floor((F.size(t) - 1) / n).cast("int"),
                    ),
                    lambda gs: F.concat_ws(
                        " ", F.slice(t, gs * n + 1, n)
                    ),
                )
            ).alias("chunk_idx", "chunk"),
        )
        .sortWithinPartitions("doc_id", "chunk_idx")
    )


# ---------------------------------------------------------------------------
# Grouped heavy hitters: exact top-5 tokens PER LANGUAGE (the
# per-stratum complement of the global approx_top_k sketch entry
# `token_heavy_hitters`). One explode + one (lang, token) count +
# one WindowGroupLimit top-k cut under the deterministic
# (count desc, token) order — per-group top-k never materializes a
# global sort, and the grouped count is map-side combinable.
# ---------------------------------------------------------------------------

def token_top_by_lang(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.text import bpe_ish_tokens

    docs = load_table(spark, sf, "documents")
    counts = (
        docs.select("lang", F.explode(bpe_ish_tokens(F.col("text"))).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("token"))
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("lang", F.col("rnk").cast("int").alias("rnk"), "token", "n")
        .orderBy("lang", "rnk")
    )


TOKEN_TOP_BY_LANG_SQL = r"""
WITH t AS (
  SELECT lang,
         unnest(list_filter(string_split_regex(lower(text), '[^\w'']+'),
                            x -> x != '')) AS token
  FROM documents
),
c AS (SELECT lang, token, COUNT(*) AS n FROM t GROUP BY lang, token),
r AS (
  SELECT lang, token, n,
         CAST(ROW_NUMBER() OVER (PARTITION BY lang
                                 ORDER BY n DESC, token ASC) AS INT) AS rnk
  FROM c
)
SELECT lang, rnk, token, n FROM r WHERE rnk <= 5
ORDER BY lang, rnk
"""


# ---------------------------------------------------------------------------
# Zipf rank-frequency fit over the token distribution: least-squares
# slope of ln(freq) on ln(rank) — the corpus-health statistic (natural
# text sits near −1; synthetic or deduplicated text drifts). Ranks are
# integers with a deterministic tie-break, per-term ln products are
# rounded once then decimal-summed, and the closed-form slope divides
# two such sums — the same fixed-operation-order discipline as the
# Pearson correlation above.
# ---------------------------------------------------------------------------

def token_zipf_fit(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.ranks import parallel_row_number

    docs = load_table(spark, sf, "documents")
    freqs = (
        docs.select(
            F.explode(F.split(F.lower(F.col("text")), r"[^\w']+")).alias("tok")
        )
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # rank = row_number over (freq DESC, tok ASC), vocabulary-sized but
    # computed with the bucket-parallel operator anyway — ORDER BY
    # -freq is the ASC image of the DESC sort, so the plain-window
    # DuckDB oracle is unchanged
    ranked = parallel_row_number(
        freqs.withColumn("_negfreq", (-F.col("freq")).cast("long")),
        "_negfreq",
        ["tok"],
        out_col="rnk",
    ).drop("_negfreq")
    t = ranked.select(
        F.round(F.log(F.col("rnk").cast("double")), 9).alias("x"),
        F.round(F.log(F.col("freq").cast("double")), 9).alias("y"),
    ).select(
        "x",
        "y",
        F.round(F.col("x") * F.col("y"), 9).alias("xy"),
        F.round(F.col("x") * F.col("x"), 9).alias("xx"),
    )
    agg = t.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(30,9)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(30,9)")).alias("sy"),
        F.sum(F.col("xy").cast("decimal(30,9)")).alias("sxy"),
        F.sum(F.col("xx").cast("decimal(30,9)")).alias("sxx"),
    )
    n, sx, sy, sxy, sxx = (
        F.col("n"),
        F.col("sx").cast("double"),
        F.col("sy").cast("double"),
        F.col("sxy").cast("double"),
        F.col("sxx").cast("double"),
    )
    return agg.select(
        n.cast("long").alias("n_tokens_distinct"),
        F.round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6).alias(
            "zipf_slope"
        ),
    )


TOKEN_ZIPF_SQL = r"""
WITH freqs AS (
    SELECT t AS tok, COUNT(*) AS freq FROM (
        SELECT unnest(list_filter(string_split_regex(lower(text), '[^\w'']+'),
                                  x -> x != '')) AS t
        FROM documents
    ) GROUP BY t
), ranked AS (
    SELECT freq, ROW_NUMBER() OVER (ORDER BY freq DESC, tok ASC) AS rnk
    FROM freqs
), t AS (
    SELECT ROUND(ln(CAST(rnk AS DOUBLE)), 9) AS x,
           ROUND(ln(CAST(freq AS DOUBLE)), 9) AS y
    FROM ranked
), t2 AS (
    SELECT x, y, ROUND(x * y, 9) AS xy, ROUND(x * x, 9) AS xx FROM t
), agg AS (
    SELECT COUNT(*) AS n,
           SUM(CAST(x AS DECIMAL(30,9))) AS sx,
           SUM(CAST(y AS DECIMAL(30,9))) AS sy,
           SUM(CAST(xy AS DECIMAL(30,9))) AS sxy,
           SUM(CAST(xx AS DECIMAL(30,9))) AS sxx
    FROM t2
)
SELECT CAST(n AS BIGINT) AS n_tokens_distinct,
       ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
             6) AS zipf_slope
FROM agg
"""


# ---------------------------------------------------------------------------
# Pointwise mutual information over token co-occurrence — the
# association statistic behind collocation mining and embedding prep.
# Document-level co-occurrence on the distinct (doc, token) relation:
# pair space is vocabulary-bounded (≤ C(|V|,2)) however large the
# corpus, and PMI = log2(n12·N / (n1·n2)) evaluates exact integer
# products (< 2^53 ⇒ exact doubles) in one fixed operation order.
# ---------------------------------------------------------------------------

def token_pmi_pairs(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    dt = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), r"[^\w']+")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .distinct()
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    singles = dt.groupBy("tok").agg(F.count(F.lit(1)).alias("n_tok"))
    a, b = dt.alias("a"), dt.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.tok") < F.col("b.tok")),
        )
        .groupBy(F.col("a.tok").alias("tok_a"), F.col("b.tok").alias("tok_b"))
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= 5)
    )
    sa = singles.select(F.col("tok").alias("tok_a"), F.col("n_tok").alias("n_a"))
    sb = singles.select(F.col("tok").alias("tok_b"), F.col("n_tok").alias("n_b"))
    return (
        pairs.join(F.broadcast(sa), "tok_a")
        .join(F.broadcast(sb), "tok_b")
        .crossJoin(F.broadcast(n_docs))  # 1-row side
        .select(
            "tok_a",
            "tok_b",
            "n_both",
            F.round(
                F.log2(
                    F.col("n_both") * F.col("n_docs")
                    / (F.col("n_a") * F.col("n_b"))
                ),
                6,
            ).alias("pmi"),
        )
        .sortWithinPartitions("tok_a", "tok_b")
    )


TOKEN_PMI_SQL = r"""
WITH dt AS (
    SELECT DISTINCT doc_id, t AS tok FROM (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '[^\w'']+'),
                                  x -> x != '')) AS t
        FROM documents
    )
), n AS (SELECT COUNT(*) AS n_docs FROM documents),
singles AS (SELECT tok, COUNT(*) AS n_tok FROM dt GROUP BY tok),
pairs AS (
    SELECT a.tok AS tok_a, b.tok AS tok_b, COUNT(*) AS n_both
    FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.tok < b.tok
    GROUP BY tok_a, tok_b
    HAVING COUNT(*) >= 5
)
SELECT tok_a, tok_b, n_both,
       ROUND(log2(CAST(n_both AS DOUBLE) * n_docs / (sa.n_tok * sb.n_tok)), 6)
           AS pmi
FROM pairs
JOIN singles sa ON sa.tok = tok_a
JOIN singles sb ON sb.tok = tok_b
CROSS JOIN n
ORDER BY tok_a, tok_b
"""


# ---------------------------------------------------------------------------
# Z-order clustering key: the Morton interleave of (lang dictionary
# rank, n_chars) per document — the sort key sinks.write_zordered
# clusters files on so parquet min/max stats prune on EITHER column
# (the Delta OPTIMIZE ZORDER BY shape; the write path and its
# measured row-group narrowing are unit-tested in
# tests/test_operators.py). This entry puts the KEY COMPUTATION
# itself — sinks.zorder_key's exact bit layout, col i bit b → key
# position b·n+i — under the driver's cross-engine hash via an SQL
# twin generated by a mirror unroller. The lang rank comes from a
# dim-sized sorted-distinct join (never a global-window rank);
# n_chars is already a bounded non-negative int, used raw.
# ---------------------------------------------------------------------------


def zorder_docs(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.sinks import zorder_key

    docs = load_table(spark, sf, "documents")
    lang_rank = (
        docs.select("lang")
        .distinct()
        .withColumn(
            "lang_rank",
            F.row_number().over(
                Window.partitionBy(constant_partition_key("lang"))
                .orderBy("lang")
            )
            - 1,
        )
    )
    return (
        docs.join(lang_rank, "lang")
        .select(
            "doc_id",
            zorder_key(
                [F.col("lang_rank"), F.col("n_chars")], bits=16
            ).alias("zkey"),
        )
        .sortWithinPartitions("doc_id")
    )


def _zorder_sql(bits: int = 16) -> str:
    # mirror of sinks.zorder_key's unroller: col i bit b → position b·n+i
    cols = ["lr.lang_rank", "d.n_chars"]
    terms = [
        f"((({c} >> {b}) & 1) << {b * len(cols) + i})"
        for b in range(bits)
        for i, c in enumerate(cols)
    ]
    interleave = "(" + " | ".join(terms) + ")"
    return f"""
WITH lr AS (
  SELECT lang, CAST(ROW_NUMBER() OVER (ORDER BY lang) - 1 AS BIGINT)
           AS lang_rank
  FROM (SELECT DISTINCT lang FROM documents)
)
SELECT d.doc_id,
       {interleave} AS zkey
FROM documents d JOIN lr USING (lang)
ORDER BY d.doc_id
"""


ZORDER_SQL = _zorder_sql()


# ---------------------------------------------------------------------------
# Bigram collocations by PMI (Church & Hanks, CL'90): over adjacent
# token pairs, PMI(a,b) = ln(c_ab·N / (c_a·c_b)) with all counts
# drawn from the SAME sample space (bigram positions: c_a = bigrams
# with first word a, c_b = bigrams with second word b, N = total
# bigrams) so the probabilities are a coherent bigram model.
#
# Cross-engine float discipline: counts are exact ints < 2⁵³, the
# numerator and denominator are each ONE IEEE multiply of exact
# doubles, the quotient is ONE division, and the single ln rounds to
# 6 — the charlm log discipline (a last-ulp ln divergence would need
# to land within 5e-7 of a rounding boundary to flip the hash; the
# rank cut uses the ROUNDED score with (w1,w2) tie-breaks, so the
# cut itself is ULP-immune).
#
# Scale posture: bigrams are materialized array-side (transform over
# the token array — no posexplode self-join), collapse immediately
# to per-pair counts (map-side combinable), and the two marginal
# joins are dimension-sized (vocab), left to AQE. The min-count
# filter applies BEFORE the marginal joins.
# ---------------------------------------------------------------------------

_PMI_MIN_COUNT = 5


_PMI_K = 30


def pmi_bigrams_frame(docs: DataFrame) -> DataFrame:
    from ..functions.text import bpe_ish_tokens

    # size(t) >= 2 guard (mirrors the _SPAN_L guard in plans/dedup.py):
    # slice(t, 1, size(t) - 1) throws on a zero-token doc (negative
    # slice length) where the oracle's range() just yields no rows.
    toks = docs.select(bpe_ish_tokens(F.col("text")).alias("t")).filter(
        F.size("t") >= 2
    )
    pairs = toks.select(
        F.explode(
            F.expr(
                "transform(slice(t, 1, size(t) - 1),"
                " (x, i) -> struct(x AS w1, t[i + 1] AS w2))"
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    cab = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cab"))
    ca = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("ca"))
    cb = pairs.groupBy("w2").agg(F.count(F.lit(1)).alias("cb"))
    n = pairs.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        cab.filter(F.col("cab") >= _PMI_MIN_COUNT)
        .join(ca, "w1")
        .join(cb, "w2")
        .crossJoin(F.broadcast(n))  # 1-row side
        .select(
            "w1",
            "w2",
            F.col("cab").cast("long").alias("cab"),
            F.round(
                F.log(
                    (F.col("cab").cast("double") * F.col("n"))
                    / (F.col("ca").cast("double") * F.col("cb"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2")).limit(
        _PMI_K
    )


def token_pmi_bigrams(spark: SparkSession, sf: str) -> DataFrame:
    return pmi_bigrams_frame(load_table(spark, sf, "documents"))


PMI_SQL = rf"""
WITH toks AS (
    SELECT list_filter(string_split_regex(lower(text), '[^\w'']+'),
                       x -> x != '') AS t
    FROM documents
), pairs AS (
    SELECT s.w1 AS w1, s.w2 AS w2 FROM (
        SELECT unnest(list_transform(range(1, len(t)),
                                     i -> {{'w1': t[i], 'w2': t[i+1]}})) AS s
        FROM toks)
), cab AS (
    SELECT w1, w2, COUNT(*) AS cab FROM pairs GROUP BY w1, w2
    HAVING COUNT(*) >= {_PMI_MIN_COUNT}
), ca AS (
    SELECT w1, COUNT(*) AS ca FROM pairs GROUP BY w1
), cb AS (
    SELECT w2, COUNT(*) AS cb FROM pairs GROUP BY w2
), n AS (
    SELECT COUNT(*) AS n FROM pairs
)
SELECT w1, w2, CAST(cab AS BIGINT) AS cab,
       ROUND(ln((CAST(cab AS DOUBLE) * n) / (CAST(ca AS DOUBLE) * cb)), 6)
           AS pmi
FROM cab JOIN ca USING (w1) JOIN cb USING (w2) CROSS JOIN n
ORDER BY pmi DESC, w1 ASC, w2 ASC
LIMIT {_PMI_K}
"""


# ---------------------------------------------------------------------------
# Per-language lexical diversity: token Shannon entropy (nats) and
# type-token ratio — the two signals curation pipelines threshold to
# drop template/boilerplate-heavy slices. H = −Σ p·ln(p) over the
# language's token distribution; TTR = |vocab| / N.
#
# Float discipline (the charlm log pattern): p = c/N is one division
# of exact ints, each p·ln(p) term is rounded to 6 BEFORE the exact
# decimal sum, and TTR divides once and rounds once. The per-term
# ln is the only cross-engine ulp exposure — same accepted risk as
# charlm_doc_scores, hash-green across SFs for four rounds.
#
# Scale posture: explode collapses immediately to per-(lang, token)
# counts (map-side combinable); the per-lang totals join is
# dimension-sized (one row per language, not bounded by
# construction — no hint, AQE picks).
# ---------------------------------------------------------------------------


def token_entropy_frame(docs: DataFrame) -> DataFrame:
    from ..functions.text import bpe_ish_tokens

    tok = docs.select(
        "lang", F.explode(bpe_ish_tokens(F.col("text"))).alias("token")
    )
    per = tok.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("c"))
    tot = per.groupBy("lang").agg(
        F.sum("c").alias("n_tokens"), F.count(F.lit(1)).alias("n_types")
    )
    terms = per.join(tot, "lang").select(
        "lang",
        F.round(
            (F.col("c") / F.col("n_tokens"))
            * F.log(F.col("c") / F.col("n_tokens")),
            6,
        ).alias("plogp"),
    )
    return (
        terms.groupBy("lang")
        .agg((-dec_sum(F.col("plogp"), 6)).cast("double").alias("entropy"))
        .join(tot, "lang")
        .select(
            "lang",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_types").cast("long").alias("n_types"),
            F.round("entropy", 6).alias("entropy"),
            F.round(F.col("n_types") / F.col("n_tokens"), 6).alias("ttr"),
        )
        .orderBy("lang")
    )


def token_entropy_by_lang(spark: SparkSession, sf: str) -> DataFrame:
    return token_entropy_frame(load_table(spark, sf, "documents"))


ENTROPY_SQL = r"""
WITH tok AS (
    SELECT lang, unnest(list_filter(
               string_split_regex(lower(text), '[^\w'']+'),
               x -> x != '')) AS token
    FROM documents
), per AS (
    SELECT lang, token, COUNT(*) AS c FROM tok GROUP BY lang, token
), tot AS (
    SELECT lang, SUM(c) AS n_tokens, COUNT(*) AS n_types
    FROM per GROUP BY lang
), terms AS (
    SELECT per.lang,
           ROUND((c / n_tokens) * ln(c / n_tokens), 6) AS plogp
    FROM per JOIN tot USING (lang)
)
SELECT lang,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_types AS BIGINT) AS n_types,
       ROUND(CAST(-SUM(CAST(plogp AS DECIMAL(30,6))) AS DOUBLE), 6)
           AS entropy,
       ROUND(CAST(n_types AS DOUBLE) / n_tokens, 6) AS ttr
FROM terms JOIN tot USING (lang)
GROUP BY lang, n_tokens, n_types
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# Per-source character-class profile: share of [a-z] letters, digits,
# spaces, and everything else — the byte-level QA pass that catches
# mojibake/binary-contaminated sources before tokenization. Counts
# are exact ints from replace-all regex deletions (DuckDB needs the
# explicit 'g' flag to match Spark's semantics); shares divide once
# and round once.
# ---------------------------------------------------------------------------


def source_char_profile(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    low = F.lower(F.col("text"))

    def n_of(pattern: str) -> F.Column:
        return F.length(low) - F.length(
            F.regexp_replace(low, pattern, "")
        )

    per = docs.select(
        "source",
        F.length(low).alias("nc"),
        n_of("[a-z]").alias("na"),
        n_of("[0-9]").alias("nd"),
        n_of(" ").alias("ns"),
    )
    agg = per.groupBy("source").agg(
        F.sum("nc").alias("n_chars"),
        F.sum("na").alias("n_alpha"),
        F.sum("nd").alias("n_digit"),
        F.sum("ns").alias("n_space"),
    )
    share = lambda c: F.round(F.col(c) / F.col("n_chars"), 6)  # noqa: E731
    return agg.select(
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        share("n_alpha").alias("share_alpha"),
        share("n_digit").alias("share_digit"),
        share("n_space").alias("share_space"),
        F.round(
            (F.col("n_chars") - F.col("n_alpha") - F.col("n_digit")
             - F.col("n_space"))
            / F.col("n_chars"),
            6,
        ).alias("share_other"),
    ).orderBy("source")


CHAR_PROFILE_SQL = """
WITH per AS (
    SELECT source,
           length(lower(text)) AS nc,
           length(lower(text))
             - length(regexp_replace(lower(text), '[a-z]', '', 'g')) AS na,
           length(lower(text))
             - length(regexp_replace(lower(text), '[0-9]', '', 'g')) AS nd,
           length(lower(text))
             - length(regexp_replace(lower(text), ' ', '', 'g')) AS ns
    FROM documents
), agg AS (
    SELECT source, SUM(nc) AS n_chars, SUM(na) AS n_alpha,
           SUM(nd) AS n_digit, SUM(ns) AS n_space
    FROM per GROUP BY source
)
SELECT source, CAST(n_chars AS BIGINT) AS n_chars,
       ROUND(CAST(n_alpha AS DOUBLE) / n_chars, 6) AS share_alpha,
       ROUND(CAST(n_digit AS DOUBLE) / n_chars, 6) AS share_digit,
       ROUND(CAST(n_space AS DOUBLE) / n_chars, 6) AS share_space,
       ROUND(CAST(n_chars - n_alpha - n_digit - n_space AS DOUBLE)
             / n_chars, 6) AS share_other
FROM agg ORDER BY source
"""


# ---------------------------------------------------------------------------
# Heaps' law fit. Ladder design: the s-th of 8 prefix points covers
# the first (n·s) DIV 8 documents in doc_id order; the threshold
# doc_id comes from parallel_row_number (no global window), and both
# V (distinct tokens) and N (token positions) evaluate against the
# 8-row broadcast threshold table — V from the token FIRST-SEEN table
# (min doc_id per token, one vocab-sized aggregate), N from per-doc
# token counts (one doc-sized aggregate). β is the least-squares
# slope of ln V on ln N over the ladder — the zipf float discipline
# (per-point rounds, decimal sums, one rounded division).
# ---------------------------------------------------------------------------


def heaps_law_fit(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.ranks import parallel_row_number

    docs = load_table(spark, sf, "documents")
    toked = docs.select(
        "doc_id", TX.bpe_ish_tokens(F.col("text")).alias("toks")
    ).localCheckpoint()  # tokenize once; feeds counts AND first-seen
    dc = toked.select("doc_id", F.size("toks").alias("c"))
    ranked = parallel_row_number(dc, "doc_id", [], out_col="i")
    nrow = dc.agg(F.count(F.lit(1)).alias("n"))
    steps = (
        spark.range(1, 9)
        .select(F.col("id").alias("s"))
        .crossJoin(F.broadcast(nrow))  # 1-row side
        .select("s", F.expr("(n * s) DIV 8").alias("r"))
        .filter(F.col("r") >= 1)
    )
    thr = steps.join(
        ranked.select("doc_id", "i"), steps.r == ranked.i
    ).select("s", F.col("doc_id").alias("t"))
    ntok = (
        dc.join(F.broadcast(thr), dc.doc_id <= thr.t)  # ≤8-row side
        .groupBy("s")
        .agg(F.sum("c").alias("n_tok"))
    )
    tf = (
        toked.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.min("doc_id").alias("f"))
    )
    vtok = (
        tf.join(F.broadcast(thr), tf.f <= thr.t)
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("v_tok"))
    )
    pts = (
        ntok.join(vtok, "s")
        .filter((F.col("n_tok") > 0) & (F.col("v_tok") > 0))
        .select(
            "s",
            "n_tok",
            "v_tok",
            F.round(F.log(F.col("n_tok").cast("double")), 9).alias("x"),
            F.round(F.log(F.col("v_tok").cast("double")), 9).alias("y"),
        )
        .select(
            "s", "n_tok", "v_tok", "x", "y",
            F.round(F.col("x") * F.col("y"), 9).alias("xy"),
            F.round(F.col("x") * F.col("x"), 9).alias("xx"),
        )
        .localCheckpoint()  # ≤8 rows; feeds the fit AND the output
    )
    fit = pts.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(F.col("x").cast("decimal(30,9)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(30,9)")).alias("sy"),
        F.sum(F.col("xy").cast("decimal(30,9)")).alias("sxy"),
        F.sum(F.col("xx").cast("decimal(30,9)")).alias("sxx"),
    ).select(
        # + 0.0 normalizes IEEE −0.0 (a flat-vocab ladder yields a
        # signed-zero numerator whose sign is engine-dependent)
        (
            F.round(
                (
                    F.col("k") * F.col("sxy").cast("double")
                    - F.col("sx").cast("double") * F.col("sy").cast("double")
                )
                / (
                    F.col("k") * F.col("sxx").cast("double")
                    - F.col("sx").cast("double")
                    * F.col("sx").cast("double")
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("beta")
    )
    return (
        pts.crossJoin(F.broadcast(fit))  # 1-row side
        .select(
            F.col("s").cast("int").alias("step"),
            F.col("n_tok").cast("long").alias("n_tok"),
            F.col("v_tok").cast("long").alias("v_tok"),
            "beta",
        )
        .orderBy("step")
    )


HEAPS_SQL = r"""
WITH dc AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '[^\w'']+'),
                       x -> x != '') AS toks
    FROM documents
), counts AS (
    SELECT doc_id, len(toks) AS c FROM dc
), ranked AS (
    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) AS i FROM counts
), n AS (SELECT COUNT(*) AS n FROM counts),
steps AS (
    SELECT r.s AS s, (n.n * r.s) // 8 AS r
    FROM range(1, 9) r(s) CROSS JOIN n
    WHERE (n.n * r.s) // 8 >= 1
), thr AS (
    SELECT steps.s, ranked.doc_id AS t
    FROM steps JOIN ranked ON ranked.i = steps.r
), ntok AS (
    SELECT thr.s, SUM(counts.c) AS n_tok
    FROM counts JOIN thr ON counts.doc_id <= thr.t GROUP BY thr.s
), tf AS (
    SELECT t AS tok, MIN(doc_id) AS f
    FROM (SELECT doc_id, unnest(toks) AS t FROM dc) GROUP BY t
), vtok AS (
    SELECT thr.s, COUNT(*) AS v_tok
    FROM tf JOIN thr ON tf.f <= thr.t GROUP BY thr.s
), pts AS (
    SELECT s, n_tok, v_tok,
           ROUND(ln(CAST(n_tok AS DOUBLE)), 9) AS x,
           ROUND(ln(CAST(v_tok AS DOUBLE)), 9) AS y
    FROM ntok JOIN vtok USING (s)
    WHERE n_tok > 0 AND v_tok > 0
), pts2 AS (
    SELECT s, n_tok, v_tok, x, y,
           ROUND(x * y, 9) AS xy, ROUND(x * x, 9) AS xx
    FROM pts
), fit AS (
    SELECT ROUND((COUNT(*) * CAST(SUM(CAST(xy AS DECIMAL(30,9))) AS DOUBLE)
                  - CAST(SUM(CAST(x AS DECIMAL(30,9))) AS DOUBLE)
                    * CAST(SUM(CAST(y AS DECIMAL(30,9))) AS DOUBLE))
                 / (COUNT(*) * CAST(SUM(CAST(xx AS DECIMAL(30,9))) AS DOUBLE)
                    - CAST(SUM(CAST(x AS DECIMAL(30,9))) AS DOUBLE)
                      * CAST(SUM(CAST(x AS DECIMAL(30,9))) AS DOUBLE)),
                 6) + 0.0 AS beta
    FROM pts2
)
SELECT CAST(s AS INT) AS step, CAST(n_tok AS BIGINT) AS n_tok,
       CAST(v_tok AS BIGINT) AS v_tok, beta
FROM pts2 CROSS JOIN fit
ORDER BY step
"""


# ---------------------------------------------------------------------------
# Tokenizer fertility: characters per token by language — the
# compression metric multilingual tokenizer/budget decisions ride on
# (a language with high chars/token is cheap; low means token-hungry).
# One scan, integer totals, ONE division rounded once.
# ---------------------------------------------------------------------------


def tokenizer_fertility_by_lang(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return (
        docs.select(
            "lang",
            F.length("text").alias("nc"),
            F.size(TX.bpe_ish_tokens(F.col("text"))).alias("nt"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("nc").cast("long").alias("n_chars"),
            F.sum("nt").cast("long").alias("n_tokens"),
        )
        .select(
            "lang", "n_docs", "n_chars", "n_tokens",
            F.round(
                F.col("n_chars").cast("double") / F.col("n_tokens"), 6
            ).alias("chars_per_token"),
        )
        .orderBy("lang")
    )


FERTILITY_SQL = r"""
WITH t AS (
    SELECT lang, length(text) AS nc,
           len(list_filter(string_split_regex(lower(text), '[^\w'']+'),
                           x -> x != '')) AS nt
    FROM documents
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(nc) AS BIGINT) AS n_chars,
       CAST(SUM(nt) AS BIGINT) AS n_tokens,
       ROUND(CAST(SUM(nc) AS DOUBLE) / SUM(nt), 6) AS chars_per_token
FROM t GROUP BY lang ORDER BY lang
"""


# ---------------------------------------------------------------------------
# Language-ID confusion matrix: the detected-vs-labeled counts that
# close the loop on lang_id_docs (same detection cascade, shared with
# its oracle).
# ---------------------------------------------------------------------------


def lang_id_confusion(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return (
        docs.withColumn("_toks", TX.bpe_ish_tokens(F.col("text")))
        .select(
            "lang",
            TX.detected_lang_from(F.col("_toks")).alias("detected_lang"),
        )
        .groupBy("lang", "detected_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("lang", "detected_lang")
    )


def _lang_confusion_sql() -> str:
    return (
        "WITH det AS (\n"
        + LANG_ID_SQL
        + "\n)\nSELECT lang, detected_lang,"
        " CAST(COUNT(*) AS BIGINT) AS n_docs\n"
        "FROM det GROUP BY lang, detected_lang ORDER BY lang, detected_lang"
    )


LANG_ID_CONFUSION_SQL = _lang_confusion_sql()


# ---------------------------------------------------------------------------
# Sentence-boundary chunking with a greedy token budget and sentence
# overlap — the UDTF surface's reason to exist, proven against a
# definitional recursive-CTE DuckDB oracle.
#
# The shipped synthetic documents are punctuation-free token soup, so —
# exactly like null_key_order_ranks' NULL injection — the query first
# injects a deterministic sentence structure (a period fused onto every
# 7th token, pure Column algebra on the Spark side, an identical
# explode/rebuild on the DuckDB side) and then chunks on the real
# sentence boundaries that creates. The greedy packing itself (variable-
# length sentence runs packed to a 40-token budget, 1 sentence of
# overlap carried between consecutive chunks, lone over-budget sentences
# kept whole) is sequential per document: native Column algebra has no
# fold that emits variable-length windows, which is why the generator is
# a Python UDTF (functions/chunking.py::ChunkSentencesUDTF) while the
# oracle expresses the same definition as a recursive CTE over sentence
# prefix sums.
#
# Scale posture: the lateral UDTF is Arrow-batched and embarrassingly
# parallel per document — no shuffle ANYWHERE in the plan (the corpus-
# sized output carries only a sortWithinPartitions, per the
# presentation-sort convention in plans/analytics.py); state is O(one
# document's sentences) per eval call.
# ---------------------------------------------------------------------------


_BUDGET = 40


_OVERLAP = 1


_SENT_LEN = 7  # inject a '.' onto every 7th token


def _sentenced(docs: DataFrame) -> DataFrame:
    """documents + a `sentenced` column: the doc text with a period
    fused onto every ``_SENT_LEN``-th token (whitespace normalized to
    single spaces by the re-join) — deterministic sentence injection,
    zero Python."""
    toks = F.split(F.trim(F.col("text")), r"[ \t\r\n]+")
    with_dots = F.transform(
        toks,
        lambda x, i: F.concat(
            x,
            F.when((i % _SENT_LEN) == _SENT_LEN - 1, F.lit("."))
            .otherwise(F.lit("")),
        ),
    )
    return docs.select(
        "doc_id", F.array_join(with_dots, " ").alias("sentenced")
    )


def chunk_docs_sentences(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions import chunking

    chunking.register(spark)
    _sentenced(load_table(spark, sf, "documents")).createOrReplaceTempView(
        "chunk_sent_src"
    )
    return spark.sql(
        f"""
        SELECT d.doc_id, c.chunk_idx, c.chunk, c.chunk_tokens
        FROM chunk_sent_src d,
             LATERAL chunk_sentences(d.sentenced, {_BUDGET}, {_OVERLAP}) c
        """
    ).sortWithinPartitions("doc_id", "chunk_idx")


# Definitional twin of ChunkSentencesUDTF.eval: sentence split on the
# same engine-portable boundary ([.!?] + explicit ASCII whitespace —
# RE2 has no lookbehind, so the boundary is marked with \x1e via
# capture-replace), token counts via prefix sums, then the greedy
# packing as a recursive CTE: each step finds the furthest sentence
# whose cumulative token count since the chunk start fits the budget
# (or keeps a lone over-budget sentence whole) and re-opens the next
# chunk `overlap` sentences back, clamped to always advance.
# _BUDGET/_OVERLAP/_SENT_LEN are interpolated below (r12 ADVICE item
# 1) so the Spark plan and this twin can never silently desync on a
# constant change.
CHUNK_DOCS_SENTENCES_SQL = rf"""
WITH RECURSIVE
toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '[ \t\r\n]+') AS tk
  FROM documents
),
-- token/sentence index domain: bounds docs at 100k tokens, the same
-- cap CHUNK_DOCS_SQL uses (TESTDATA docs are ~50-600 tokens; a corpus
-- exceeding it would truncate the ORACLE side only — raise both caps
-- together if the testdata generator ever ships longer documents)
nums AS (SELECT CAST(range AS INT) AS gs FROM range(0, 100000)),
sent_text AS (
  SELECT doc_id,
         string_agg(tok || CASE WHEN gs % {_SENT_LEN} = {_SENT_LEN - 1}
                                THEN '.' ELSE '' END,
                    ' ' ORDER BY gs) AS m
  FROM (SELECT doc_id, gs, tk[gs + 1] AS tok
        FROM toks JOIN nums ON gs < len(tk))
  GROUP BY doc_id
),
marked AS (
  SELECT doc_id,
         regexp_replace(m, '([.!?])[ \t\r\n]+', '\1' || chr(30), 'g') AS m
  FROM sent_text
),
arrs AS (SELECT doc_id, string_split(m, chr(30)) AS arr FROM marked),
rawsent AS (
  SELECT doc_id, gs AS raw_idx, arr[gs + 1] AS s
  FROM arrs JOIN nums ON gs < len(arr)
),
sent AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY raw_idx) - 1 AS i,
         array_to_string(regexp_split_to_array(trim(s), '[ \t\r\n]+'), ' ')
             AS snorm,
         len(regexp_split_to_array(trim(s), '[ \t\r\n]+')) AS nt
  FROM rawsent WHERE trim(s) <> ''
),
cum AS (
  SELECT doc_id, i, snorm, nt,
         SUM(nt) OVER (PARTITION BY doc_id ORDER BY i) AS p
  FROM sent
),
nd AS (SELECT doc_id, COUNT(*) AS n FROM sent GROUP BY doc_id),
chunks AS (
  SELECT nd.doc_id, 0 AS chunk_idx, 0 AS s_start,
         coalesce((SELECT max(i) FROM cum c2
                   WHERE c2.doc_id = nd.doc_id AND c2.p <= {_BUDGET}), 0)
             AS s_end
  FROM nd
  UNION ALL
  SELECT ch.doc_id, ch.chunk_idx + 1,
         greatest(ch.s_start + 1, ch.s_end + 1 - {_OVERLAP}) AS s_start,
         coalesce(
           (SELECT max(i) FROM cum c2
            WHERE c2.doc_id = ch.doc_id
              AND c2.i >= greatest(ch.s_start + 1, ch.s_end + 1 - {_OVERLAP})
              AND c2.p - coalesce(
                    (SELECT p FROM cum c3
                     WHERE c3.doc_id = ch.doc_id
                       AND c3.i = greatest(ch.s_start + 1,
                                           ch.s_end + 1 - {_OVERLAP}) - 1),
                    0) <= {_BUDGET}),
           greatest(ch.s_start + 1, ch.s_end + 1 - {_OVERLAP})) AS s_end
  FROM chunks ch JOIN nd ON nd.doc_id = ch.doc_id
  WHERE ch.s_end < nd.n - 1
)
SELECT c.doc_id, CAST(c.chunk_idx AS INT) AS chunk_idx,
       (SELECT array_to_string(list(snorm ORDER BY i), ' ') FROM cum s
        WHERE s.doc_id = c.doc_id
          AND s.i BETWEEN c.s_start AND c.s_end) AS chunk,
       CAST((SELECT SUM(nt) FROM cum s
             WHERE s.doc_id = c.doc_id
               AND s.i BETWEEN c.s_start AND c.s_end) AS BIGINT)
           AS chunk_tokens
FROM chunks c
ORDER BY doc_id, chunk_idx
"""
