"""Sixth registry batch (round 8): training-data curation depth and
model-evaluation metrics —

- exact repeated n-gram SPAN detection (the token-level shape of Lee
  et al. 2022's "Deduplicating Training Data Makes Language Models
  Better" ExactSubstr dedup) + the per-document duplication profile
  built on it (the "what fraction of this doc is memorized-elsewhere
  text" filter signal);
- DSIR-style hashed n-gram importance weights (Xie et al.,
  NeurIPS'23: log-likelihood ratio of a target vs raw hashed-feature
  distribution — the classic cheap data-selection score);
- dedup survivor selection (one best-quality representative per
  duplicate cluster — the keep/drop decision after clustering);
- robust median/MAD outlier fences (exact order statistics);
- the Z-order clustering key (sinks.zorder_key's exact Morton bit
  layout under the driver's cross-engine hash);
- model evaluation at data scale: calibration bins, a one-scan
  precision/recall threshold sweep, and exact ROC-AUC via the
  Mann–Whitney rank statistic.

Same contract rules as plans/analytics.py: identical column aliases
in the DataFrame plan and the DuckDB oracle SQL, per-term rounding to
6 decimals BEFORE exact decimal sums (the charlm_doc_scores
discipline — float summation order can never flip the hash), md5 as
the cross-engine-portable hash (the jl_project trick: both engines
agree byte-for-byte on md5 hex of a UTF-8 string), deterministic
total-order sort keys, and broadcast hints only on relations bounded
by construction (here: the 256-row DSIR bucket model).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from ..operators.ranks import constant_partition_key
from .columns import SIGMOID_SCORE_SQL, dec_sum, sigmoid_score

# window length (tokens) for exact repeated-span detection; spans are
# maximal unions of overlapping duplicated windows, so the MINIMUM
# reportable duplicated run is L tokens — Lee et al. use 50 BPE
# tokens at web scale; the synthetic corpus's ~60-token docs need a
# smaller L to exercise the merge logic.
_SPAN_L = 8

# DSIR hashed-feature space size (buckets); two md5 hex chars.
_DSIR_B = 256


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
    # same narrow-stage discipline as ext20's shingle frame, cheap to
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
    from .analytics import doc_quality, ngram_jaccard_exact

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
# Robust outlier detection: median / MAD (median absolute deviation)
# per event_type — the heavy-tail-safe complement of the IQR and
# z-score families (one wild value moves a mean/stddev fence, not a
# MAD fence). Cross-engine exactness: both medians are LOWER medians
# — the k = ⌊(n+1)/2⌋-th ORDER STATISTIC, an element of the data, so
# no interpolation (the engines' percentile interpolation is not
# bit-compatible — the rolling_median_values lesson); |x−med|,
# 3·mad, and the comparison are identical IEEE ops on identical
# doubles. Scale shape: two sort-within-type window passes plus
# per-type median tables AQE is free to broadcast (one row per
# distinct event_type — not bounded by construction, so no hint) — the per-type sort is the
# honest cost of an exact order statistic at scale (approximate
# alternatives live in approx_quantiles_lineitem / the KLL gate).
# ---------------------------------------------------------------------------


def value_mad_outliers(spark: SparkSession, sf: str) -> DataFrame:
    from .analytics import load_events

    ev = load_events(spark, sf).select("event_type", "event_id", "value")
    by_val = Window.partitionBy("event_type").orderBy("value", "event_id")
    n_w = Window.partitionBy("event_type")
    k = F.floor((F.count(F.lit(1)).over(n_w) + 1) / 2)
    med = (
        ev.withColumn("rn", F.row_number().over(by_val))
        .withColumn("k", k)
        .filter(F.col("rn") == F.col("k"))
        .select("event_type", F.col("value").alias("med"))
    )
    dev = ev.join(med, "event_type").withColumn(
        "d", F.abs(F.col("value") - F.col("med"))
    )
    by_dev = Window.partitionBy("event_type").orderBy("d", "event_id")
    mad = (
        dev.withColumn("rn", F.row_number().over(by_dev))
        .withColumn("k", k)
        .filter(F.col("rn") == F.col("k"))
        .select("event_type", F.col("d").alias("mad"))
    )
    return (
        dev.join(mad, "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.first("med").alias("med"),
            F.first("mad").alias("mad"),
            F.sum(
                (F.col("d") > F.lit(3.0) * F.col("mad")).cast("int")
            ).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


VALUE_MAD_SQL = """
WITH ev AS (
  SELECT event_type, event_id, value FROM events
),
ranked AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rn,
         CAST(FLOOR((COUNT(*) OVER (PARTITION BY event_type) + 1) / 2)
              AS BIGINT) AS k
  FROM ev
),
med AS (SELECT event_type, value AS med FROM ranked WHERE rn = k),
dev AS (
  SELECT e.event_type, e.event_id, e.value, m.med,
         ABS(e.value - m.med) AS d
  FROM ev e JOIN med m USING (event_type)
),
dranked AS (
  SELECT event_type, d,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY d, event_id) AS rn,
         CAST(FLOOR((COUNT(*) OVER (PARTITION BY event_type) + 1) / 2)
              AS BIGINT) AS k
  FROM dev
),
mad AS (SELECT event_type, d AS mad FROM dranked WHERE rn = k)
SELECT v.event_type, COUNT(*) AS n,
       ANY_VALUE(v.med) AS med, ANY_VALUE(a.mad) AS mad,
       CAST(SUM(CASE WHEN v.d > 3.0 * a.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM dev v JOIN mad a USING (event_type)
GROUP BY v.event_type ORDER BY v.event_type
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


# ---------------------------------------------------------------------------
# Model-evaluation ops over the scored embeddings — the metrics a
# training pipeline computes at data scale (score a 100 TB eval set,
# aggregate; no driver-side sklearn). Both reuse the fixed sigmoid
# scorer columns.py::sigmoid_score (bit-exactness
# precedent: fixed-order fold + identical double literals) against
# the synthetic binary target label >= 5.
#
# Exactness: per-row scores round to 6 dp before the exact decimal
# sum (charlm discipline); counts are integers; every ratio divides
# once and rounds to 6. The PR sweep crossJoins a 9-row literal
# threshold frame (bounded by construction — broadcast is free
# either way, AQE handles it).
# ---------------------------------------------------------------------------


def score_calibration_bins(spark: SparkSession, sf: str) -> DataFrame:
    """Reliability diagram input: per score decile, the mean
    predicted probability vs the observed positive rate — a
    calibrated model tracks the diagonal. One scan, one 10-group
    aggregate."""
    emb = load_table(spark, sf, "embeddings")
    s = emb.select(
        F.floor(sigmoid_score() * 10).cast("int").alias("bin"),
        F.round(sigmoid_score(), 6).alias("score"),
        (F.col("label") >= 5).cast("int").alias("pos"),
    )
    return (
        s.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                dec_sum(F.col("score"), 6).cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_score"),
            F.round(F.sum("pos") / F.count(F.lit(1)), 6).alias("pos_rate"),
        )
        .orderBy("bin")
    )


SCORE_CALIBRATION_SQL = f"""
WITH s AS (
  SELECT CAST(FLOOR({SIGMOID_SCORE_SQL} * 10) AS INT) AS bin,
         ROUND({SIGMOID_SCORE_SQL}, 6) AS score,
         CASE WHEN label >= 5 THEN 1 ELSE 0 END AS pos
  FROM embeddings
)
SELECT bin, COUNT(*) AS n,
       ROUND(CAST(SUM(CAST(score AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*), 6)
         AS mean_score,
       ROUND(CAST(SUM(pos) AS DOUBLE) / COUNT(*), 6) AS pos_rate
FROM s GROUP BY bin ORDER BY bin
"""


def score_pr_curve(spark: SparkSession, sf: str) -> DataFrame:
    """Precision/recall at nine thresholds (0.1 … 0.9) in one
    conditional aggregation — the threshold frame is a 9-row literal,
    so the sweep costs one scan regardless of corpus size."""
    emb = load_table(spark, sf, "embeddings")
    s = emb.select(
        sigmoid_score().alias("score"),
        (F.col("label") >= 5).cast("int").alias("pos"),
    )
    thresholds = spark.createDataFrame(
        [(i, float(repr(i / 10))) for i in range(1, 10)], ["ti", "t"]
    )
    agg = (
        # hint the 9-row literal frame (bounded by construction):
        # unhinted, AQE broadcast the CORPUS side at test SF — the
        # reversed build side a 100 TB eval set cannot survive
        s.crossJoin(F.broadcast(thresholds))
        .groupBy("ti", "t")
        .agg(
            F.sum(
                ((F.col("score") >= F.col("t")) & (F.col("pos") == 1)).cast("long")
            ).alias("tp"),
            F.sum(
                ((F.col("score") >= F.col("t")) & (F.col("pos") == 0)).cast("long")
            ).alias("fp"),
            F.sum(
                ((F.col("score") < F.col("t")) & (F.col("pos") == 1)).cast("long")
            ).alias("fn"),
        )
    )
    return agg.select(
        F.col("ti").cast("int").alias("ti"),
        F.round("t", 1).alias("threshold"),
        "tp",
        "fp",
        "fn",
        F.when(
            F.col("tp") + F.col("fp") > 0,
            F.round(F.col("tp") / (F.col("tp") + F.col("fp")), 6),
        ).alias("precision"),
        F.when(
            F.col("tp") + F.col("fn") > 0,
            F.round(F.col("tp") / (F.col("tp") + F.col("fn")), 6),
        ).alias("recall"),
    ).orderBy("ti")


SCORE_PR_SQL = f"""
WITH s AS (
  SELECT {SIGMOID_SCORE_SQL} AS score,
         CASE WHEN label >= 5 THEN 1 ELSE 0 END AS pos
  FROM embeddings
),
t AS (SELECT CAST(i AS INT) AS ti, i / 10.0 AS t
      FROM UNNEST(range(1, 10)) AS u(i)),
agg AS (
  SELECT ti, t,
         SUM(CASE WHEN score >= t AND pos = 1 THEN 1 ELSE 0 END) AS tp,
         SUM(CASE WHEN score >= t AND pos = 0 THEN 1 ELSE 0 END) AS fp,
         SUM(CASE WHEN score <  t AND pos = 1 THEN 1 ELSE 0 END) AS fn
  FROM s, t GROUP BY ti, t
)
SELECT ti, ROUND(t, 1) AS threshold,
       CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       CAST(fn AS BIGINT) AS fn,
       CASE WHEN tp + fp > 0
            THEN ROUND(CAST(tp AS DOUBLE) / (tp + fp), 6) END AS precision,
       CASE WHEN tp + fn > 0
            THEN ROUND(CAST(tp AS DOUBLE) / (tp + fn), 6) END AS recall
FROM agg ORDER BY ti
"""


def score_auc(spark: SparkSession, sf: str) -> DataFrame:
    """Exact ROC-AUC as the Mann–Whitney U rank statistic:
    AUC = (Σ midrank(positives) − n₊(n₊+1)/2) / (n₊·n₋), with
    midranks (RANK + (ties−1)/2) handling equal scores exactly — the
    textbook identity, no curve integration, no thresholds. Midranks
    are exact .0/.5 doubles, so the decimal sum is lossless and the
    single division rounds once.

    The global rank is computed WITHOUT a single-partition window
    (the value_drift_ks decomposition): fixed-width score buckets
    from a 1-row bounds broadcast, parallel in-bucket RANK windows,
    and a ≤256-row cross-bucket prefix table. Equal scores land in
    the same bucket (the bucket is a function of the score), so ties
    never span buckets and global RANK = bucket prefix + in-bucket
    RANK exactly; the tie count is a parallel per-score window. The
    DuckDB twin ranks with a plain global window — the hash match
    proves the decomposition."""
    emb = load_table(spark, sf, "embeddings")
    s = emb.select(
        sigmoid_score().alias("score"),
        (F.col("label") >= 5).cast("int").alias("pos"),
    )
    bounds = s.agg(F.min("score").alias("s0"), F.max("score").alias("s1"))
    b = (
        s.crossJoin(F.broadcast(bounds))  # 1-row side
        .select(
            "score", "pos",
            F.least(
                F.floor(
                    (F.col("score") - F.col("s0"))
                    / F.greatest(
                        (F.col("s1") - F.col("s0")) / F.lit(256.0),
                        F.lit(1e-300),
                    )
                ).cast("int"),
                F.lit(255),
            ).alias("bucket"),
        )
    )
    in_bucket = Window.partitionBy("bucket").orderBy("score")
    prefix_w = (
        Window.partitionBy(constant_partition_key("bucket"))
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = (
        b.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("bn"))
        .select(
            "bucket",
            F.coalesce(F.sum("bn").over(prefix_w), F.lit(0)).alias("pfx"),
        )
    )
    ranked = (
        b.withColumn("r_in", F.rank().over(in_bucket))
        .withColumn(
            "ties", F.count(F.lit(1)).over(Window.partitionBy("score"))
        )
        .join(F.broadcast(prefix), "bucket")
        .select(
            "pos",
            (
                F.col("pfx") + F.col("r_in") + (F.col("ties") - 1) / 2.0
            ).alias("midrank"),
        )
    )
    return ranked.agg(
        F.sum("pos").alias("n_pos"),
        F.sum(1 - F.col("pos")).alias("n_neg"),
        F.round(
            (
                dec_sum(F.when(F.col("pos") == 1, F.col("midrank")), 6).cast(
                    "double"
                )
                - (F.sum("pos") * (F.sum("pos") + 1)) / 2.0
            )
            / (F.sum("pos") * F.sum(1 - F.col("pos"))),
            6,
        ).alias("auc"),
    )


SCORE_AUC_SQL = f"""
WITH s AS (
  SELECT {SIGMOID_SCORE_SQL} AS score,
         CASE WHEN label >= 5 THEN 1 ELSE 0 END AS pos
  FROM embeddings
),
r AS (
  SELECT pos,
         RANK() OVER (ORDER BY score)
         + (COUNT(*) OVER (PARTITION BY score) - 1) / 2.0 AS midrank
  FROM s
)
SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
       CAST(SUM(1 - pos) AS BIGINT) AS n_neg,
       ROUND((CAST(SUM(CASE WHEN pos = 1
                            THEN CAST(midrank AS DECIMAL(30,6)) END)
                   AS DOUBLE)
              - (SUM(pos) * (SUM(pos) + 1)) / 2.0)
             / (SUM(pos) * SUM(1 - pos)), 6) AS auc
FROM r
"""


# ---------------------------------------------------------------------------
# Leave-one-out target encoding — the leakage-safe categorical
# feature: each row's encoding is its group's target mean COMPUTED
# WITHOUT THE ROW ((Σ_grp − x) / (n_grp − 1)), so a model can't read
# its own label back out of the feature. Exactness: the group sum is
# one exact decimal aggregate; the subtraction stays in decimal
# (cents are exact); the single division rounds once. Singleton
# groups encode NULL (no leave-one-out mean exists — the caller
# falls back to a global prior). NOT a category-partitioned window
# (5 categories = 5 giant window partitions at scale): the group
# sums come from a parallel partial-aggregated groupBy collapsing to
# a category-count-sized table, joined back (AQE broadcasts it), and
# the LOO arithmetic is a narrow per-row map.
# ---------------------------------------------------------------------------


def priority_loo_encoding(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    grp = orders.groupBy("o_orderpriority").agg(
        F.sum(F.col("o_totalprice").cast("decimal(30,2)")).alias("tot"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        orders.join(grp, "o_orderpriority")
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.when(
                F.col("n") > 1,
                F.round(
                    (F.col("tot") - F.col("o_totalprice").cast("decimal(30,2)"))
                    .cast("double")
                    / (F.col("n") - 1),
                    6,
                ),
            ).alias("loo_mean_price"),
        )
        .sortWithinPartitions("o_orderkey")
    )


PRIORITY_LOO_SQL = """
SELECT o_orderkey, o_orderpriority,
       CASE WHEN COUNT(*) OVER (PARTITION BY o_orderpriority) > 1
            THEN ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2)))
                              OVER (PARTITION BY o_orderpriority)
                            - CAST(o_totalprice AS DECIMAL(30,2)) AS DOUBLE)
                       / (COUNT(*) OVER (PARTITION BY o_orderpriority) - 1), 6)
       END AS loo_mean_price
FROM orders ORDER BY o_orderkey
"""


# ---------------------------------------------------------------------------
# Exact two-sample Kolmogorov–Smirnov drift statistic between the
# event stream's time halves — the distribution-free complement of
# value_drift_psi (PSI needs binning; KS is exact on the raw
# values): D = max over distinct values of |ECDF_early − ECDF_late|.
#
# Scale-correct exact ECDF (no single-partition global window): a
# 1-row bounds broadcast assigns each distinct value a fixed-width
# BUCKET; cumulative counts run in parallel windows WITHIN each
# bucket, and the cross-bucket prefix comes from a ≤256-row bucket
# total table (bounded by construction → broadcast). The oracle
# computes the same ECDFs with a plain cumulative window — identical
# values, so the hash compare proves the parallel decomposition.
# Precondition (holds for the event corpus): both halves non-empty.
# ---------------------------------------------------------------------------


def value_drift_ks(spark: SparkSession, sf: str) -> DataFrame:
    from .analytics import load_events

    e = load_events(spark, sf).select("ts_sec", F.col("value").cast("double"))
    bounds = e.agg(
        F.min("ts_sec").alias("t0"), F.max("ts_sec").alias("t1"),
        F.min("value").alias("v0"), F.max("value").alias("v1"),
    )
    g = (
        e.crossJoin(F.broadcast(bounds))  # 1-row side
        .select(
            "value",
            # same constant-column guard as value_drift_psi
            F.least(
                F.floor(
                    (F.col("value") - F.col("v0"))
                    / F.greatest(
                        (F.col("v1") - F.col("v0")) / F.lit(256.0),
                        F.lit(1e-300),
                    )
                ).cast("int"),
                F.lit(255),
            ).alias("bucket"),
            (F.col("ts_sec") * 2 < F.col("t0") + F.col("t1")).alias("early"),
        )
        .groupBy("bucket", "value")
        .agg(
            F.sum(F.when(F.col("early"), 1).otherwise(0)).alias("ne"),
            F.sum(F.when(F.col("early"), 0).otherwise(1)).alias("nl"),
        )
    )
    in_bucket = Window.partitionBy("bucket").orderBy("value")
    g = g.select(
        "bucket", "value",
        F.sum("ne").over(in_bucket).alias("ce_in"),
        F.sum("nl").over(in_bucket).alias("cl_in"),
    )
    # ≤256-row prefix table: totals per bucket, cumulated over the
    # bucket ids (a window over a bounded relation), EXCLUSIVE prefix
    btot = (
        g.groupBy("bucket")
        .agg(F.max("ce_in").alias("be"), F.max("cl_in").alias("bl"))
    )
    over_buckets = (
        Window.partitionBy(constant_partition_key("bucket"))
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = btot.select(
        "bucket",
        F.coalesce(F.sum("be").over(over_buckets), F.lit(0)).alias("pe"),
        F.coalesce(F.sum("bl").over(over_buckets), F.lit(0)).alias("pl"),
    )
    cum = g.join(F.broadcast(prefix), "bucket").select(
        (F.col("ce_in") + F.col("pe")).alias("ce"),
        (F.col("cl_in") + F.col("pl")).alias("cl"),
    )
    tot = cum.agg(F.max("ce").alias("te"), F.max("cl").alias("tl"))
    return (
        cum.crossJoin(F.broadcast(tot))  # 1-row side
        .agg(
            F.max("te").alias("n_early"),
            F.max("tl").alias("n_late"),
            F.round(
                F.max(
                    F.abs(
                        F.col("ce") / F.col("te") - F.col("cl") / F.col("tl")
                    )
                ),
                6,
            ).alias("ks_stat"),
        )
    )


VALUE_DRIFT_KS_SQL = """
WITH e AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
         CAST(value AS DOUBLE) AS value
  FROM events
),
b AS (SELECT MIN(ts_sec) AS t0, MAX(ts_sec) AS t1 FROM e),
g AS (
  SELECT value,
         SUM(CASE WHEN e.ts_sec * 2 < b.t0 + b.t1 THEN 1 ELSE 0 END) AS ne,
         SUM(CASE WHEN e.ts_sec * 2 < b.t0 + b.t1 THEN 0 ELSE 1 END) AS nl
  FROM e, b GROUP BY value
),
c AS (
  SELECT SUM(ne) OVER (ORDER BY value) AS ce,
         SUM(nl) OVER (ORDER BY value) AS cl
  FROM g
),
t AS (SELECT MAX(ce) AS te, MAX(cl) AS tl FROM c)
SELECT CAST(MAX(t.te) AS BIGINT) AS n_early,
       CAST(MAX(t.tl) AS BIGINT) AS n_late,
       ROUND(MAX(ABS(CAST(c.ce AS DOUBLE) / t.te
                     - CAST(c.cl AS DOUBLE) / t.tl)), 6) AS ks_stat
FROM c, t
"""


EXT6_QUERIES = {
    "repeated_ngram_spans": (repeated_ngram_spans, REPEATED_SPANS_SQL),
    "dup_span_doc_stats": (dup_span_doc_stats, DUP_SPAN_STATS_SQL),
    "dsir_importance_weights": (dsir_importance_weights, DSIR_SQL),
    "dedup_survivors": (dedup_survivors, DEDUP_SURVIVORS_SQL),
    "value_mad_outliers": (value_mad_outliers, VALUE_MAD_SQL),
    "zorder_docs": (zorder_docs, _zorder_sql()),
    "score_calibration_bins": (score_calibration_bins, SCORE_CALIBRATION_SQL),
    "score_pr_curve": (score_pr_curve, SCORE_PR_SQL),
    "score_auc": (score_auc, SCORE_AUC_SQL),
    "priority_loo_encoding": (priority_loo_encoding, PRIORITY_LOO_SQL),
    "value_drift_ks": (value_drift_ks, VALUE_DRIFT_KS_SQL),
}
