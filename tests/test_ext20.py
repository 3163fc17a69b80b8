"""Unit fixtures for the round-14 ext20 curation operators: exact
substring-span dedup and the C4-style drop-duplicated-sentences
rewrite — pinned against the same DuckDB oracle SQL the driver runs,
on hand-built corpora exercising the edges the shipped testdata never
isolates (sub-K docs, within-doc repeated spans, whole-doc dups, the
keeper retaining its copy, a doc losing every sentence, within-doc
sentence repeats that must survive the rewrite)."""

from __future__ import annotations

import hashlib
import tempfile

import duckdb


def _duck(rows):
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents(doc_id BIGINT, text VARCHAR, "
        "source VARCHAR, lang VARCHAR)"
    )
    con.executemany("INSERT INTO documents VALUES (?, ?, ?, ?)", rows)
    return con


def _run_both(spark, rows, builder, sql):
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            rows, ["doc_id", "text", "source", "lang"]
        ).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
        got = sorted(tuple(r) for r in builder(spark, tmp).collect())
    con = _duck(rows)
    want = sorted(tuple(r) for r in con.execute(sql).fetchall())
    con.close()
    assert got == want
    return {r[0]: r for r in got}


_P13 = " ".join(f"w{i}" for i in range(13))  # one exact K-token span

SPAN_ROWS = [
    # docs 1 & 3 (both doc_id%4 odd -> footer, %5!=0 -> no header):
    # unrelated texts, so the ONLY shared span is the planted footer
    (1, "a1 a2 a3 a4 a5 a6", "web", "en"),
    (3, "b1 b2 b3 b4 b5 b6", "web", "en"),
    # doc 2: %4==2 and %5!=0 -> NO injection; 5 tokens < K -> no
    # shingles at all
    (2, "u1 u2 u3 u4 u5", "web", "en"),
    # doc 14: no injection; the same 13-token phrase TWICE in one doc
    # (within-doc repeats count — the paper's suffix-array semantics);
    # island starts {0, 14}, gap 14 > K -> two disjoint 13-token spans
    (14, f"{_P13} qq {_P13}", "rep", "en"),
    # docs 10 & 20: header injected (%5==0) with IDENTICAL text; 10
    # (%4==2) gets no footer, 20 (%4==0) does — so 20 carries TWO
    # duplicated runs (header+text shared with 10, footer shared with
    # 1 & 3) whose island starts are exactly K apart: the adjacency
    # rule (gap <= K merges) must fuse them into one full-doc span
    (10, "z1 z2 z3", "tmpl", "en"),
    (20, "z1 z2 z3", "tmpl", "en"),
]


def test_exact_span_dedup_edges(spark):
    from movie_data_pipeline_spark.plans.dedup import (
        EXACT_SPAN_DEDUP_SQL,
        exact_span_dedup,
    )

    by_id = _run_both(spark, SPAN_ROWS, exact_span_dedup, EXACT_SPAN_DEDUP_SQL)

    # sub-K doc: zero shingles, zero spans
    assert by_id[2] == (2, 5, 0, 0, 0.0)
    # footer-only dup: 6 fully-inside shingle starts merge into one
    # 18-token span of a 24-token doc
    assert by_id[1] == (1, 24, 1, 18, 0.75)
    assert by_id[3] == (3, 24, 1, 18, 0.75)
    # within-doc repeat: two disjoint 13-token spans out of 27 tokens
    assert by_id[14] == (14, 27, 2, 26, round(26 / 27, 6))
    # whole-doc duplicate (header 16 + 3 text tokens, all shared with
    # doc 20's prefix): one span covering everything
    assert by_id[10] == (10, 19, 1, 19, 1.0)
    # doc 20: header-run island {0..6} and footer-run island {19..24}
    # sit exactly K apart -> adjacency-merged into one 37-token span
    assert by_id[20] == (20, 37, 1, 37, 1.0)


DROP_ROWS = [
    # doc 1 (%3==1 -> no footer): the same 7-token sentence twice in
    # ONE doc — within-doc repeats must survive (nd counts distinct
    # docs)
    (1, "aa bb cc dd ee ff gg aa bb cc dd ee ff gg", "web", "en"),
    # docs 9 & 12 (%3==0 -> footer): identical 14-token texts — every
    # sentence of 12 is a cross-doc dup whose keeper is 9 (or 6 for
    # the footer), so 12 loses EVERYTHING
    (9, "hh ii jj kk ll mm nn oo pp qq rr ss tt uu", "web", "en"),
    (12, "hh ii jj kk ll mm nn oo pp qq rr ss tt uu", "web", "en"),
    # doc 6: empty text + footer -> the lone '.' fragment plus the
    # footer sentence; 6 is the min doc_id carrying the footer, so it
    # KEEPS the footer every other doc drops
    (6, "", "web", "en"),
]


def test_drop_dup_sentences_edges(spark):
    from movie_data_pipeline_spark.plans.dedup import (
        DROP_DUP_SENTENCES_SQL,
        drop_dup_sentences_docs,
    )

    by_id = _run_both(
        spark, DROP_ROWS, drop_dup_sentences_docs, DROP_DUP_SENTENCES_SQL
    )

    # within-doc repeat kept: both instances survive, bytes unchanged
    assert by_id[1][1:3] == (2, 0)
    assert (
        by_id[1][3]
        == hashlib.md5(
            b"aa bb cc dd ee ff gg. aa bb cc dd ee ff gg."
        ).hexdigest()
    )
    # keeper doc 9: keeps its two text sentences (it is their min
    # doc_id), drops only the footer (doc 6 is the footer's keeper)
    assert by_id[9][1:3] == (2, 1)
    # doc 12 loses every sentence: rewritten to the empty string
    assert by_id[12][1] == 0
    assert by_id[12][3] == hashlib.md5(b"").hexdigest()
    # the footer's keeper retains it
    assert by_id[6][1:3] == (2, 0)


def test_rewrite_helper_on_crafted_sentences(spark):
    """The factored rewrite core on a hand-built sentence set —
    independent of the injection/splitting pipeline."""
    from pyspark.sql import functions as F

    from movie_data_pipeline_spark.plans.dedup import rewrite_without_cross_doc_dups

    sent = spark.createDataFrame(
        [
            (1, 0, "shared one"),
            (1, 1, "only in one"),
            (2, 0, "shared one"),
            (2, 1, "shared two"),
            (3, 0, "shared two"),
            (3, 1, "shared two"),  # within-doc repeat of a dup: doc 3
            (3, 2, "tail three"),  # is NOT the keeper -> both dropped
        ],
        ["doc_id", "pos", "sn"],
    )
    got = {
        r["doc_id"]: r
        for r in rewrite_without_cross_doc_dups(sent)
        .orderBy(F.col("doc_id"))
        .collect()
    }
    assert (got[1]["n_kept"], got[1]["n_dropped"]) == (2, 0)
    assert got[1]["rebuilt"] == "shared one only in one"
    # doc 2 keeps "shared two" (keeper) but drops "shared one"
    assert got[2]["rebuilt"] == "shared two"
    # doc 3 drops BOTH instances of "shared two", keeps its unique tail
    assert (got[3]["n_kept"], got[3]["n_dropped"]) == (1, 2)
    assert got[3]["rebuilt"] == "tail three"
