"""Thirteenth registry batch (round 9): corpus-growth, named quality
rule-sets, incremental view maintenance, and attribution —

- Heaps' law vocabulary-growth fit (V(N) ≈ K·N^β): the corpus-health
  companion to token_zipf_fit, computed in TWO linear passes (token
  first-seen MIN + per-doc counts) against an 8-point document-prefix
  ladder — never a cumulative distinct;
- the Gopher quality rule-set (Rae et al. '21 §A1.1): the named
  document filters (word count, mean word length, alpha-word and
  symbol-line ratios, stopword floor) as ALL-INTEGER per-doc
  predicates, reported as per-rule failure counts;
- incremental daily rollup: maintain a monthly revenue rollup as
  base-rollup ⊕ delta-rollup (the merge an incremental pipeline
  applies per batch) — the DuckDB oracle recomputes from scratch, so
  the hash match PROVES merge ≡ full recompute;
- last-touch attribution: purchases attributed to the same user's
  latest prior click within 7 days, via the repo's as-of join (union
  + one keyed window — no candidate explosion);
- tokenizer fertility by language: chars-per-token, the budget metric
  every multilingual tokenizer decision rides on;
- per-user trailing-7-day value (RANGE frame, keyed window — the
  feature-engineering rolling aggregate);
- language-ID confusion matrix: detected vs labeled language counts.

Same contract rules as plans/analytics.py: identical aliases both
engines, integer arithmetic wherever the metric allows, per-term
rounding before exact decimal sums, one division rounded once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as TX
from ..sources.catalog import load_table
from .analytics import load_events
from .columns import dec_sum


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
# Incremental view maintenance: the monthly revenue rollup maintained
# as base ⊕ delta (counts and decimal sums are commutative monoids,
# so partial rollups merge by addition — the same algebra map-side
# combine exploits). The corpus splits 90/10 by md5(o_orderkey), the
# Spark side computes rollup(base) ⊕ rollup(delta), and the oracle
# recomputes rollup(all) from scratch: the hash match PROVES the
# incremental merge equals the full recompute. At scale the base
# rollup is a stored table and only the delta aggregate runs per
# batch — this entry is the algebraic core of that pipeline.
# ---------------------------------------------------------------------------


def incremental_daily_rollup(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders").select(
        "o_orderkey",
        "o_totalprice",
        (F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias("ym"),
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.col("o_orderkey").cast("string")), 1, 8
                ),
                16,
                10,
            ).cast("bigint"),
            F.lit(10),
        ).alias("bucket"),
    ).localCheckpoint()  # feeds both partial rollups

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("ym").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(30,2)")).alias("rev"),
        )

    base = rollup(orders.filter(F.col("bucket") != 0))
    delta = rollup(orders.filter(F.col("bucket") == 0))
    merged = (
        base.unionByName(delta)
        .groupBy("ym")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("rev").alias("rev"),
        )
    )
    return merged.select(
        F.col("ym").cast("int").alias("ym"),
        F.col("n_orders").cast("long").alias("n_orders"),
        F.round(F.col("rev").cast("double"), 2).alias("revenue"),
    ).orderBy("ym")


INCREMENTAL_ROLLUP_SQL = """
SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT) AS ym,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE), 2)
           AS revenue
FROM orders
GROUP BY ym
ORDER BY ym
"""


# ---------------------------------------------------------------------------
# Last-touch attribution: each purchase is attributed to the SAME
# user's latest click at-or-before it, if that click is within 7
# days. The as-of join is the repo's union-plus-one-keyed-window
# operator (operators/asof.py) — both event subsets shuffle once on
# user_id, no candidate pair ever materializes (the oracle's
# join-then-MAX formulation is the O(pairs) definitional spec the
# operator must match). Output: per purchase day, purchases vs
# attributed purchases — all integers.
# ---------------------------------------------------------------------------

_ATTR_WINDOW_US = 7 * 86400 * 1_000_000


def last_touch_attribution(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.asof import asof_join

    ev = load_events(spark, sf)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us",
        F.expr("ts_sec DIV 86400").alias("day"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts_us").alias("cts"),
        F.col("ts_us").alias("click_ts"),
    )
    joined = asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts_us",
        right_ts="cts",
        value_cols=["click_ts"],
    )
    return (
        joined.groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.sum(
                (
                    F.col("click_ts").isNotNull()
                    & (
                        F.col("ts_us") - F.col("click_ts")
                        <= F.lit(_ATTR_WINDOW_US)
                    )
                ).cast("int")
            )
            .cast("long")
            .alias("n_attributed"),
        )
        .orderBy("day")
    )


LAST_TOUCH_SQL = f"""
WITH p AS (
    SELECT event_id, user_id, epoch_us(ts) AS ts_us,
           CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
    FROM events WHERE event_type = 'purchase'
), c AS (
    SELECT user_id, epoch_us(ts) AS cts FROM events
    WHERE event_type = 'click'
), a AS (
    SELECT p.event_id, p.day, p.ts_us, MAX(c.cts) AS click_ts
    FROM p LEFT JOIN c
      ON c.user_id = p.user_id AND c.cts <= p.ts_us
    GROUP BY p.event_id, p.day, p.ts_us
)
SELECT day,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(SUM(CASE WHEN click_ts IS NOT NULL
                      AND ts_us - click_ts <= {_ATTR_WINDOW_US}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_attributed
FROM a
GROUP BY day ORDER BY day
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
# Per-user trailing-7-day event value: the rolling feature every
# activity model consumes. Daily per-user decimal sums (exact), then
# a RANGE frame over the integer day — a KEYED window (partitioned by
# user), so it parallelizes across users at any scale; the frame sum
# adds ≤7 exact decimals, order-free. NULL stays NULL (a user-day
# whose window holds only NULL values) identically in both engines.
# ---------------------------------------------------------------------------


def user_rolling_7d_value(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_events(spark, sf).select(
        "user_id", F.expr("ts_sec DIV 86400").alias("day"), "value"
    )
    daily = ev.groupBy("user_id", "day").agg(
        dec_sum(F.col("value"), 6).alias("v")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rangeBetween(-6, 0)
    )
    return daily.select(
        "user_id",
        "day",
        F.round(F.sum("v").over(w).cast("double"), 4).alias("v7"),
    ).sortWithinPartitions("user_id", "day")


USER_ROLLING_SQL = """
WITH daily AS (
    SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
           SUM(CAST(value AS DECIMAL(30,6))) AS v
    FROM events GROUP BY user_id, day
)
SELECT user_id, day,
       ROUND(CAST(SUM(v) OVER (PARTITION BY user_id ORDER BY day
                               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
                  AS DOUBLE), 4) AS v7
FROM daily
ORDER BY user_id, day
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
    from .analytics import LANG_ID_SQL

    return (
        "WITH det AS (\n"
        + LANG_ID_SQL
        + "\n)\nSELECT lang, detected_lang,"
        " CAST(COUNT(*) AS BIGINT) AS n_docs\n"
        "FROM det GROUP BY lang, detected_lang ORDER BY lang, detected_lang"
    )


EXT13_QUERIES = {
    "heaps_law_fit": (heaps_law_fit, HEAPS_SQL),
    "gopher_quality_flags": (gopher_quality_flags, GOPHER_SQL),
    "incremental_daily_rollup": (
        incremental_daily_rollup,
        INCREMENTAL_ROLLUP_SQL,
    ),
    "last_touch_attribution": (last_touch_attribution, LAST_TOUCH_SQL),
    "tokenizer_fertility_by_lang": (
        tokenizer_fertility_by_lang,
        FERTILITY_SQL,
    ),
    "user_rolling_7d_value": (user_rolling_7d_value, USER_ROLLING_SQL),
    "lang_id_confusion": (lang_id_confusion, _lang_confusion_sql()),
}
