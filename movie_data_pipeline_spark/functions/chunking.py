"""Document chunking as Python UDTFs (Spark 3.5+/4.x) — the
one-row-to-N-rows generator surface the reference has no analogue for
(its only explode is the genre split, SURVEY §2.7). Chunking long
documents into token windows is the standard pre-tokenization step
for LLM training corpora.

Fixed-stride token windows need no generator: the registry's
``chunk_docs`` entry serves them as an all-native slice/transform plan
(an Arrow UDTF measured 1.68 s vs 0.55 s native at sf0.1 — per-batch
Arrow string conversion dominates a trivial generator). One generator
remains:

- ``chunk_sentences`` — sentence-boundary chunking with a greedy
  token budget and configurable sentence overlap, the shape real
  training pipelines use so windows don't cut sentences mid-thought.
  THIS one is the UDTF's reason to exist: the greedy accumulation
  (variable-length sentence runs packed to a budget, overlap carried
  from the previous chunk, per-sentence remainder handling) is
  sequential per document — native Column algebra has no fold that
  emits variable-length windows, while the DuckDB oracle expresses
  the same definition as a recursive CTE over sentence prefix sums
  (plans/text.py::chunk_docs_sentences).

Sentence semantics are pinned to be engine-portable (RE2 has no
lookbehind, so no ``(?<=[.!?])`` splits): a boundary is a character
in ``[.!?]`` followed by ASCII whitespace ``[ \\t\\r\\n]+``;
tokens are maximal runs of non-whitespace under the SAME explicit
class (Python ``\\s`` would additionally match Unicode spaces and
silently diverge from Java/RE2 — the r11 ADVICE edge); chunk text
re-joins tokens with single spaces so both engines normalize internal
whitespace identically.
"""

from __future__ import annotations

import re

from pyspark.sql.functions import udtf

# Explicit ASCII whitespace (see module docstring: NOT \s).
_WS = r"[ \t\r\n]+"
_BOUNDARY = re.compile(r"([.!?])[ \t\r\n]+")
_TOKEN_SPLIT = re.compile(_WS)


def split_sentences(text: str | None) -> list[list[str]]:
    """Sentences of ``text`` as token lists, dropping empty sentences.

    Boundary = ``[.!?]`` + ASCII whitespace (terminator stays with its
    sentence). Whitespace-only text yields zero sentences — so the
    chunkers emit zero rows for empty docs, and that edge is pinned by
    a unit fixture instead of diverging between surfaces (r11 ADVICE).
    """
    if text is None:
        return []
    marked = _BOUNDARY.sub("\\1\x1e", text.strip())
    out = []
    for s in marked.split("\x1e"):
        toks = [t for t in _TOKEN_SPLIT.split(s.strip()) if t]
        if toks:
            out.append(toks)
    return out


# useArrow: without it the lateral join runs as BatchEvalPythonUDTF —
# row-at-a-time pickling, the one Python boundary in the repo that
# wasn't Arrow-batched (caught by tests/test_plan_invariants.py; the
# PLANS.md "only Arrow surfaces" claim was wrong for this node until
# round 11)
@udtf(
    returnType="chunk_idx int, chunk string, chunk_tokens bigint",
    useArrow=True,
)
class ChunkSentencesUDTF:
    """eval(text, budget, overlap) → greedy sentence-packed chunks.

    Greedy packing: each chunk takes the longest run of whole
    sentences whose token sum fits ``budget`` (a single sentence that
    alone exceeds the budget becomes its own over-budget chunk — never
    split mid-sentence); the next chunk re-opens with the last
    ``overlap`` sentences of the previous one for context continuity,
    clamped to always advance by at least one sentence so pathological
    overlap/budget combinations terminate. No chunk is emitted past
    the final sentence (no trailing overlap-only chunk).

    Definitional twin: the recursive-CTE oracle in
    plans/text.py::CHUNK_DOCS_SENTENCES_SQL — byte-equal
    output proven there and in tests/test_ext17.py.
    """

    def eval(self, text: str, budget: int, overlap: int):
        sents = split_sentences(text)
        n = len(sents)
        if n == 0:
            return
        counts = [len(s) for s in sents]
        prefix = [0] * (n + 1)
        for i, c in enumerate(counts):
            prefix[i + 1] = prefix[i] + c
        start, idx = 0, 0
        while True:
            end = start
            while end + 1 < n and prefix[end + 2] - prefix[start] <= budget:
                end += 1
            if prefix[end + 1] - prefix[start] > budget:
                end = start  # lone over-budget sentence
            chunk = " ".join(" ".join(s) for s in sents[start : end + 1])
            yield idx, chunk, prefix[end + 1] - prefix[start]
            if end >= n - 1:
                return
            start = max(start + 1, end + 1 - overlap)
            idx += 1


def register(spark) -> None:
    spark.udtf.register("chunk_sentences", ChunkSentencesUDTF)
