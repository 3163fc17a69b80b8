"""Unit fixtures for the round-13 ext19 curation operators: the
MIN/MAX-LCP boilerplate detector and cross-document duplicate-sentence
stats — pinned against the same DuckDB oracle SQL the driver runs, on
hand-built corpora exercising the edges the shipped testdata never
hits (single-doc sources, zero-LCP groups, empty docs with the planted
footer, within-doc repetition that must NOT count as cross-doc)."""

from __future__ import annotations

import duckdb


def _duck(rows):
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents(doc_id BIGINT, text VARCHAR, "
        "source VARCHAR, lang VARCHAR)"
    )
    con.executemany("INSERT INTO documents VALUES (?, ?, ?, ?)", rows)
    return con


def _spark_docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text", "source", "lang"])


ROWS = [
    # 'web': three docs sharing ONLY the injected header (plus 'a ')
    (1, "a b c d e f g h i j k l m n", "web", "en"),
    (2, "a b c d e f g x y z", "web", "en"),
    (5, "a z z z", "web", "en"),
    # 'tmpl': two docs sharing a genuine template prefix past the header
    (7, "TERMS OF SERVICE apply. body one", "tmpl", "en"),
    (8, "TERMS OF SERVICE apply. body two", "tmpl", "en"),
    # 'news': single-doc source — template = whole doc by definition
    (4, "single doc here", "news", "fr"),
    # empty doc, doc_id % 3 == 0 -> footer IS planted on empty text
    (6, "", "web2", "en"),
    # within-doc repetition: same 7-token sentence twice in ONE doc
    (9, "r r r r r r r r r r r r r r", "rep", "en"),
]


def test_source_template_prefix_edges(spark):
    from movie_data_pipeline_spark.plans.curation import (
        SOURCE_TEMPLATE_PREFIX_SQL,
        source_template_prefix,
    )

    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        _spark_docs(spark, ROWS).write.mode("overwrite").parquet(
            f"{tmp}/documents.parquet"
        )
        got = sorted(
            tuple(r) for r in source_template_prefix(spark, tmp).collect()
        )

    con = _duck(ROWS)
    want = sorted(tuple(r) for r in con.execute(SOURCE_TEMPLATE_PREFIX_SQL).fetchall())
    con.close()
    assert got == want

    by_src = {r[0]: r for r in got}
    # the injected header is always detected: '[web header] a ' = 15
    # chars ('a ' is genuinely shared beyond the header)
    assert by_src["web"][1] == 3 and by_src["web"][2] == 15
    assert by_src["web"][3] == "[web header] a "
    # a real template past the header is fully recovered
    assert by_src["tmpl"][3].endswith("TERMS OF SERVICE apply. body ")
    # single-doc source: template = entire (headed) doc
    assert by_src["news"][1] == 1
    assert by_src["news"][2] == len("[news header] single doc here")


def test_dup_sentence_stats_edges(spark):
    from movie_data_pipeline_spark.plans.dedup import (
        DUP_SENTENCE_STATS_SQL,
        dup_sentence_stats,
    )

    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        _spark_docs(spark, ROWS).write.mode("overwrite").parquet(
            f"{tmp}/documents.parquet"
        )
        got = sorted(tuple(r) for r in dup_sentence_stats(spark, tmp).collect())

    con = _duck(ROWS)
    want = sorted(tuple(r) for r in con.execute(DUP_SENTENCE_STATS_SQL).fetchall())
    con.close()
    assert got == want

    by_id = {r[0]: r for r in got}
    # docs 1 & 2 share the injected-period sentence 'a b c d e f g.';
    # doc 1 (doc_id%3==1) has NO footer: 2 sentences, 1 cross-doc dup
    assert by_id[1] == (1, 2, 1, 0.5)
    # doc 2 gets the footer too (shared with 5, 6, 8, 9): 3 sentences,
    # 2 dups
    assert by_id[2][1:3] == (3, 2)
    # doc 9: the same sentence twice WITHIN one doc is not a cross-doc
    # dup ('r r r r r r r.' x2 + footer): only the footer counts...
    # except both instances dedup to one doc so nd=1 for them
    assert by_id[9][1] == 3 and by_id[9][2] == 1
    # empty doc + footer: the lone '.' fragment plus the footer
    # sentence — deterministic on both engines (the oracle equality
    # above is the real assertion); footer still detected as dup
    assert by_id[6][2] >= 1
