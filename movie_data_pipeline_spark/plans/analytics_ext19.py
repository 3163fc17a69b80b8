"""Nineteenth registry batch (round 13): two cross-document curation
operators every crawl-scale training-data pipeline runs that the
registry did not yet cover — per-source boilerplate (template) prefix
detection and cross-document duplicate-sentence statistics (the
C4-style sentence-level dedup signal). Both all-native Column algebra
(zero Python), both hash-oracled.

`source_template_prefix`: pages scraped from one site share a
rendered template; the classic one-pass detector is the MIN/MAX trick
— within a group, if even the two LEXICOGRAPHIC EXTREMES share a
prefix, every member shares it, so the group's common prefix is
LCP(MIN(text), MAX(text)) computed from ONE aggregate scan (no
pairwise comparisons — the property that makes it a 100 TB operator:
min/max are map-side-combinable, the LCP runs on 1 row per source).
The shipped synthetic docs are template-free, so — the ext16/17/18
injection precedent — the query first prepends a deterministic
per-source header with IDENTICAL concat expressions on both engines,
then detects it. A single-doc source reports its whole text as the
"template" — correct by definition (its min and max coincide) and
exactly what the heuristic's consumers threshold on n_docs for.

`dup_sentence_stats`: per-document count/fraction of sentence
instances whose normalized text appears in >= 2 DISTINCT documents —
the signal sentence-level dedup (C4's three-sentence-span rule,
Gopher's doc-level repetition cousins in functions/text.py) filters
on. Sentence injection + engine-portable boundary splitting reuse the
ext17 discipline exactly (every 7th token gains a period; boundary =
[.!?] + ASCII whitespace, marked via capture-replace because RE2 has
no lookbehind; tokens re-joined single-spaced so both engines
normalize identically); a shared footer sentence is planted on
doc_id % 3 != 1 so real cross-doc duplicates exist to detect. Scale
shape: explode -> groupBy(sentence) (map-side combinable, the
sentence-hash shuffle every sentence-dedup pays) -> broadcast-or-
shuffle join back -> groupBy(doc). Corpus-sized output, so per the
r13 presentation-sort convention it ends in sortWithinPartitions.

Same contract rules as plans/analytics.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .analytics_ext17 import _SENT_LEN, _sentenced

# Planted boilerplate (identical literals in both engines).
_FOOTER = ". The standard corpus footer applies here."
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


def sentence_instances(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, sn): every normalized sentence INSTANCE of the
    footed corpus with its raw split position — THE single Spark-side
    definition of what a sentence is for the whole dedup family (the
    stats below ignore pos; ext20's rewrite uses it to restore
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
    # explicit-materialization discipline the ext20 module docstring
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
# module's stats twin and ext20's rewrite twin: the mirror of
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


EXT19_QUERIES = {
    "source_template_prefix": (
        source_template_prefix,
        SOURCE_TEMPLATE_PREFIX_SQL,
    ),
    "dup_sentence_stats": (dup_sentence_stats, DUP_SENTENCE_STATS_SQL),
}
