"""Tenth registry batch (round 8): customer segmentation, phrase
search, entity-resolution clustering, grouped exact percentiles, and
byte-level corpus profiling —

- RFM (recency/frequency/monetary) quartile segmentation — the
  classic CRM segmentation, with all three global ranks computed by
  the reusable bucket decomposition (operators/ranks.py) instead of
  single-partition windows;
- exact phrase-match counting over the token stream ("table scan"),
  computed ARRAY-SIDE per document (one narrow map, zero shuffles
  before the final top-k) — the positional-postings answer without
  materializing positional postings;
- fuzzy-name entity clusters: transitive closure over the SymSpell
  Levenshtein-≤2 pair graph (operators/fuzzy.py) via min-label
  propagation on the name strings themselves — the blocking → match
  → cluster entity-resolution pipeline in miniature;
- exact per-type p95 (a true order statistic, never interpolated),
  via the same parallel rank operator partitioned by type;
- per-source character-class profile (alpha/digit/space/other
  shares) — the byte-level corpus QA signal.

Same contract rules as plans/analytics.py: identical aliases both
engines, round-before-decimal-sum, single rounded divisions,
deterministic total orders. DuckDB regexp_replace needs the 'g'
flag to mirror Spark's replace-all semantics (profile entry).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .analytics import load_events


# ---------------------------------------------------------------------------
# RFM quartile segmentation. Per customer: R = epoch-day of the last
# order, F = order count, M = exact decimal spend. Each metric gets a
# global total-order rank i (ties broken by custkey) from
# operators/ranks.py::parallel_row_number, and the quartile is the
# pure-integer q = ((i−1)·4) DIV n + 1 — deterministic and
# engine-identical, unlike NTILE whose uneven-group placement rules
# would have to be trusted to match across engines. Output is the
# ≤4³ segment grid with exact counts and the decimal-mean spend.
# ---------------------------------------------------------------------------


def rfm_segments(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.ranks import parallel_multi_row_number

    o = load_table(spark, sf, "orders").select(
        "o_custkey",
        # calendar-field integer (yyyymmdd): monotone in the date and
        # free of epoch/timezone arithmetic — year()/month()/day()
        # agree across engines on this corpus (the order_year entries
        # hash-match on the same extraction)
        (
            F.year("o_orderdate") * 10000
            + F.month("o_orderdate") * 100
            + F.dayofmonth("o_orderdate")
        ).alias("day"),
        F.col("o_totalprice").cast("decimal(30,2)").alias("price"),
    )
    rfm = o.groupBy("o_custkey").agg(
        F.max("day").alias("r"),
        F.count(F.lit(1)).alias("f"),
        F.sum("price").alias("m"),
    ).localCheckpoint()  # consumed by the fused rank's bounds + bucket pass
    # ONE fused bucket round for all three ranks (r15, guide §1.2):
    # the three chained parallel_row_number calls each paid their own
    # bounds job, localCheckpoint materialization of the accumulating
    # relation, stats collect and prefix broadcast join — the fused
    # operator pays one of each and keeps the three in-bucket windows
    # (inherently per-metric) inside a single plan. Ranks are
    # bit-identical (bucketing is monotone per metric; same in-bucket
    # order), so RFM_SQL's plain-window oracle is unchanged.
    stats: dict = {}
    ranked = parallel_multi_row_number(
        rfm,
        [
            ("r", ["o_custkey"], "ri"),
            ("f", ["o_custkey"], "fi"),
            ("m", ["o_custkey"], "mi"),
        ],
        stats_out=stats,
    )
    # n_total comes free from the fused histogram (an exact integer
    # from the same bounded collect) — the old 1-row count agg +
    # crossJoin(broadcast) is dropped.
    n_total = int(stats["total_rows"])
    seg = ranked.select(
        "m",
        F.expr(f"((ri - 1) * 4) DIV {n_total} + 1").alias("r_q"),
        F.expr(f"((fi - 1) * 4) DIV {n_total} + 1").alias("f_q"),
        F.expr(f"((mi - 1) * 4) DIV {n_total} + 1").alias("m_q"),
    )
    return (
        seg.groupBy("r_q", "f_q", "m_q")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            # mean spend to the cent in PURE INTEGER arithmetic —
            # Σm/n lands exactly on .005 boundaries (two-decimal
            # inputs), where a double ROUND is engine-dependent;
            # round-half-up(c/n) for positive ints is (2c+n) DIV 2n
            (
                F.expr(
                    "CAST((2 * CAST(sum(m) * 100 AS BIGINT) + count(1))"
                    " DIV (2 * count(1)) AS DOUBLE)"
                )
                / 100.0
            ).alias("avg_monetary"),
        )
        .orderBy("r_q", "f_q", "m_q")
    )


RFM_SQL = """
WITH o AS (
    SELECT o_custkey,
           year(o_orderdate) * 10000 + month(o_orderdate) * 100
             + day(o_orderdate) AS day,
           CAST(o_totalprice AS DECIMAL(30,2)) AS price
    FROM orders
), rfm AS (
    SELECT o_custkey, MAX(day) AS r, COUNT(*) AS f, SUM(price) AS m
    FROM o GROUP BY o_custkey
), ranked AS (
    SELECT m,
           ROW_NUMBER() OVER (ORDER BY r, o_custkey) AS ri,
           ROW_NUMBER() OVER (ORDER BY f, o_custkey) AS fi,
           ROW_NUMBER() OVER (ORDER BY m, o_custkey) AS mi,
           COUNT(*) OVER () AS n_total
    FROM rfm
)
SELECT ((ri - 1) * 4) // n_total + 1 AS r_q,
       ((fi - 1) * 4) // n_total + 1 AS f_q,
       ((mi - 1) * 4) // n_total + 1 AS m_q,
       COUNT(*) AS n_customers,
       CAST((2 * CAST(SUM(m) * 100 AS BIGINT) + COUNT(*))
            // (2 * COUNT(*)) AS DOUBLE) / 100.0 AS avg_monetary
FROM ranked
GROUP BY 1, 2, 3
ORDER BY r_q, f_q, m_q
"""


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
# Exact p95 per event type: the k-th order statistic with
# k = ⌈0.95·n⌉ = (19n + 19) DIV 20 — an ELEMENT of the data (the
# odd-window median discipline: order statistics are engine-exact,
# interpolated quantiles are not). The global per-type rank comes
# from the parallel_row_number bucket decomposition; the plain-window
# DuckDB twin proves it per round.
# ---------------------------------------------------------------------------


def value_p95_by_type(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.ranks import parallel_row_number

    e = load_events(spark, sf).select("event_type", "value", "event_id")
    ranked = parallel_row_number(
        e, "value", ["event_id"], part_cols=["event_type"], out_col="i"
    )
    n = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return (
        ranked.join(n, "event_type")
        .filter(F.col("i") == F.expr("(19 * n + 19) DIV 20"))
        .select(
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.round(F.col("value"), 6).alias("p95"),
        )
        .orderBy("event_type")
    )


P95_SQL = """
WITH ranked AS (
    SELECT event_type, value,
           ROW_NUMBER() OVER (PARTITION BY event_type
                              ORDER BY value, event_id) AS i,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM events
)
SELECT event_type, CAST(n AS BIGINT) AS n, ROUND(value, 6) AS p95
FROM ranked WHERE i = (19 * n + 19) // 20
ORDER BY event_type
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


EXT10_QUERIES = {
    "rfm_segments": (rfm_segments, RFM_SQL),
    "phrase_match_counts": (phrase_match_counts, PHRASE_SQL),
    "fuzzy_name_clusters": (fuzzy_name_clusters, FUZZY_CLUSTERS_SQL),
    "value_p95_by_type": (value_p95_by_type, P95_SQL),
    "source_char_profile": (source_char_profile, CHAR_PROFILE_SQL),
}
