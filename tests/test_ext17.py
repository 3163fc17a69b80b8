"""Round-12 chunking surface: the greedy sentence-packing UDTF's
edge semantics (overlap, remainder, over-budget lone sentences,
engine-portable whitespace), plus the empty/Unicode-whitespace edge
contract between the native fixed-stride chunker and its SQL oracle
(r11 ADVICE item 2). The full chunk_docs_sentences-vs-recursive-CTE
oracle equality runs in test_analytics_oracle.py like every registry
entry; these tests pin the definition at the edges the corpus never
exercises.
"""

from __future__ import annotations

import duckdb
import pytest

from movie_data_pipeline_spark.functions.chunking import (
    ChunkSentencesUDTF,
    split_sentences,
)


def _chunks(text, budget, overlap):
    # the @udtf decorator wraps the class (UserDefinedTableFunction
    # keeps it on .func); instantiate the implementation directly for
    # pure-Python unit checks
    impl = getattr(ChunkSentencesUDTF, "func", ChunkSentencesUDTF)
    return list(impl().eval(text, budget, overlap))


class TestSplitSentences:
    def test_boundaries_and_terminators(self):
        assert split_sentences("Hello world. This is a test! Ok?") == [
            ["Hello", "world."],
            ["This", "is", "a", "test!"],
            ["Ok?"],
        ]

    def test_terminator_without_space_does_not_split(self):
        # "3.5" style interior periods are not boundaries
        assert split_sentences("pi is 3.5 roughly. yes") == [
            ["pi", "is", "3.5", "roughly."],
            ["yes"],
        ]

    def test_empty_and_whitespace_only(self):
        assert split_sentences(None) == []
        assert split_sentences("") == []
        assert split_sentences("   \t\n  ") == []

    def test_unicode_whitespace_is_not_a_separator(self):
        # ASCII-class tokenization (engine-portable): U+00A0 NBSP
        # binds tokens together on BOTH engines instead of silently
        # splitting only in Python (\s would diverge from RE2)
        assert split_sentences("a b c") == [["a b", "c"]]

    def test_multiple_terminators_collapse_into_one_boundary(self):
        assert split_sentences("Wait... what? Next") == [
            ["Wait..."],
            ["what?"],
            ["Next"],
        ]


class TestGreedyPacking:
    def test_budget_packs_whole_sentences(self):
        text = "a b. c d. e f. g h."
        # budget 4 = two 2-token sentences per chunk, overlap 0
        got = _chunks(text, 4, 0)
        assert got == [
            (0, "a b. c d.", 4),
            (1, "e f. g h.", 4),
        ]

    def test_overlap_carries_last_sentence(self):
        text = "a b. c d. e f. g h."
        got = _chunks(text, 4, 1)
        assert got == [
            (0, "a b. c d.", 4),
            (1, "c d. e f.", 4),
            (2, "e f. g h.", 4),
        ]

    def test_remainder_chunk_short(self):
        text = "a b. c d. e."
        got = _chunks(text, 4, 0)
        assert got == [(0, "a b. c d.", 4), (1, "e.", 1)]

    def test_lone_over_budget_sentence_kept_whole(self):
        text = "one two three four five. tiny."
        got = _chunks(text, 3, 0)
        assert got == [
            (0, "one two three four five.", 5),
            (1, "tiny.", 1),
        ]

    def test_no_trailing_overlap_only_chunk(self):
        # last chunk ends exactly at the final sentence — overlap must
        # not fabricate a chunk containing only repeated material
        text = "a b. c d."
        assert _chunks(text, 4, 1) == [(0, "a b. c d.", 4)]

    def test_pathological_overlap_still_advances(self):
        # overlap >= chunk length: the start clamp forces progress
        text = "a. b. c. d."
        got = _chunks(text, 2, 5)
        assert [c[0] for c in got] == list(range(len(got)))
        # every sentence appears; chunks advance one sentence at a time
        assert got[0][1] == "a. b." and got[-1][1].endswith("d.")

    def test_empty_text_yields_no_rows(self):
        assert _chunks("", 4, 1) == []
        assert _chunks("   ", 4, 1) == []

    def test_internal_whitespace_normalized(self):
        got = _chunks("a   b.    c\td.", 10, 0)
        assert got == [(0, "a b. c d.", 4)]


def test_native_chunk_docs_matches_oracle_on_edge_corpus(spark):
    """r11 ADVICE item 2, resolved by contract: the native plan and
    CHUNK_DOCS_SQL agree that an empty/whitespace-only doc yields ONE
    empty-string chunk (split(trim, ..) = ['']), and ASCII-only \\s+
    tokenization matches DuckDB's regex class on Unicode-whitespace
    text. The UDTF twin (zero rows on empty; Unicode str.split) is
    exactly why it is NOT the registry entry."""
    from movie_data_pipeline_spark.plans.text import CHUNK_DOCS_SQL, chunk_tokens_native

    rows = [
        (1, ""),
        (2, "   \t "),
        (3, "a b c"),  # NBSP binds: 2 tokens, not 3
        (4, " ".join(f"w{i}" for i in range(120))),  # 3 chunks of 50
        (5, "solo"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = sorted(
        (r["doc_id"], r["chunk_idx"], r["chunk"])
        for r in chunk_tokens_native(docs, 50).collect()
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = sorted(tuple(r) for r in con.execute(CHUNK_DOCS_SQL).fetchall())
    con.close()

    assert got == want
    # the pinned edge: the empty doc produces one empty chunk on BOTH
    # sides; the whitespace-only doc produces one single-space chunk
    # (trim strips only SPACES in both engines, so the tab survives
    # into two empty tokens re-joined with ' ' — agreeing exactly)
    assert (1, 0, "") in got and (2, 0, " ") in got
    # NBSP did not split: doc 3 is one 2-token chunk
    assert (3, 0, "a b c") in got


def test_udtf_and_oracle_agree_on_injected_sentence_corpus(spark):
    """End-to-end equality of the UDTF entry and its recursive-CTE
    oracle on a HAND-BUILT corpus with punctuation (the shipped docs
    get sentences injected; this fixture has real ones, exercising
    multi-terminator text, over-budget sentences, and remainders)."""
    from movie_data_pipeline_spark.functions import chunking

    rows = [
        (1, "Hello world. This is a test! Short. " * 3),
        (2, ""),
        (3, "One long sentence " + "tok " * 50 + "end."),
        (4, "A. B. C. D. E. F. G. H. I. J."),
        (5, "Tiny. " * 30),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    chunking.register(spark)
    docs.createOrReplaceTempView("fixture_docs")
    got = sorted(
        tuple(r)
        for r in spark.sql(
            """
            SELECT d.doc_id, c.chunk_idx, c.chunk, c.chunk_tokens
            FROM fixture_docs d,
                 LATERAL chunk_sentences(d.text, 10, 1) c
            """
        ).collect()
    )

    # oracle: the ext17 recursive CTE minus the sentence-injection
    # prelude (this corpus already has sentences), budget 10
    from movie_data_pipeline_spark.plans.text import CHUNK_DOCS_SENTENCES_SQL

    sql = CHUNK_DOCS_SENTENCES_SQL
    # strip injection: feed text straight into `marked`
    sql = sql.replace(
        "FROM sent_text",
        "FROM (SELECT doc_id, text AS m FROM documents) sent_text",
    )
    assert "<= 40" in sql
    sql = sql.replace("<= 40", "<= 10")
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = sorted(tuple(r) for r in con.execute(sql).fetchall())
    con.close()

    assert got == want
    # multi-chunk docs actually exercised: docs 1 and 5 pack several
    # over-budget sentence runs each
    assert max(r[1] for r in got) >= 2
    # doc 2 (empty) emitted nothing on either side
    assert not any(r[0] == 2 for r in got)
    # doc 3's lone over-budget sentence came through whole
    d3 = [r for r in got if r[0] == 3]
    assert len(d3) == 1 and d3[0][3] == 54
