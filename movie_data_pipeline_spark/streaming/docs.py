"""Streaming document ingestion: incremental near-dup detection of a
document stream against a persisted minhash index — the production
form of operators/dedup.py::delta_near_dup_pairs (each arriving
micro-batch probes the index, reports its near-dups, and is then
FOLDED INTO the index so later batches dedup against it too).

Additive surface like streaming/events.py (the reference is pure
batch, SURVEY §2.10). The exactly-once story rides on idempotent
per-batch output paths: both the pair output and the index growth are
written to ``batch_id=N`` subdirectories with overwrite mode, so an
at-least-once replay of a micro-batch rewrites the same files instead
of duplicating rows.

Scale posture: the corpus is signed exactly once (each doc's
signature is computed in the micro-batch that carries it and appended
to the index); a batch's probe cost is slim band keys + matched
candidates, independent of accumulated corpus text size. State lives
entirely in the index parquet — nothing driver-side, no state store
growth.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .events import state_write_lock

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), True),
    ]
)


def read_docs_stream(spark: SparkSession, path: str) -> DataFrame:
    return (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


# ---------------------------------------------------------------------------
# Signature-keyed index-partition cache (r14 VERDICT item 9). Every
# micro-batch probe used to re-list and re-read the WHOLE accumulated
# index parquet — O(index) decode per trigger even though the index is
# append-only (one new batch_id=N dir per trigger) and every older
# partition's bytes are unchanged. The cache holds one persisted
# DataFrame per batch_id partition dir, keyed by the dir's
# (st_mtime_ns, file-name set) signature: a trigger re-reads only dirs
# it has never seen (usually exactly the previous batch's fold) and
# any dir whose signature moved (a replay rewrite or a compaction
# swap — whose whole-root rename also changes the dir set,
# invalidating everything stale; the file-name set catches a rewrite
# that lands inside one mtime tick on coarse-granularity
# filesystems). BOUNDED: past _INDEX_CACHE_MAX_DIRS partition dirs the
# cache disables itself for that root (everything unpersisted, plain
# whole-root read) — the measured crossover (see
# plans/r15/streaming_probe_latency.json) is that a union of many tiny
# cached partitions schedules more tasks than the packed root scan,
# and production pairs this stream with the index COMPACTION that
# keeps the dir count far below the bound. Streaming-only state:
# nothing here is reachable from a bench query, and the cached rows
# are the slim (doc_id, sh, bands) signature relation, never document
# text. Keyed by applicationId so a new session never sees another
# session's unpersisted handles; foreign-app entries are purged on
# access.
# ---------------------------------------------------------------------------

_INDEX_PART_CACHE: dict[tuple[str, str], dict[str, tuple[tuple, DataFrame]]] = {}
_INDEX_CACHE_MAX_DIRS = 16


def _dir_signature(path: str) -> tuple:
    """(st_mtime_ns, sorted file names) — the staleness key. The file
    set disambiguates rewrites that land within one mtime tick."""
    st = os.stat(path)
    return (st.st_mtime_ns, tuple(sorted(os.listdir(path))))


def _cached_index_parts(
    spark: SparkSession, index_path: str, exclude_batch_id: int
) -> DataFrame | None:
    """Union of the index's batch_id=* partitions except
    ``exclude_batch_id``, served from per-partition persisted
    DataFrames re-read only on signature change. Returns None when no
    partition dir can be listed OR when the dir count exceeds the cache
    bound; the caller then falls back to the plain root read."""
    app_id = spark.sparkContext.applicationId
    for k in [k for k in _INDEX_PART_CACHE if k[0] != app_id]:
        _INDEX_PART_CACHE.pop(k)  # dead-session handles: just drop
    key = (app_id, index_path)
    cache = _INDEX_PART_CACHE.setdefault(key, {})
    try:
        dirs = {
            name: _dir_signature(os.path.join(index_path, name))
            for name in os.listdir(index_path)
            if name.startswith("batch_id=")
        }
    except OSError:
        # missing root, a root that is not a directory, or a dir that
        # vanished mid-listing: the caller's plain root read decides
        dirs = {}
    if not dirs or len(dirs) > _INDEX_CACHE_MAX_DIRS:
        # beyond the bound the packed root scan wins (measured) and
        # pinned-storage growth must stop — drop everything
        for name in list(cache):
            cache.pop(name)[1].unpersist(blocking=False)
        _INDEX_PART_CACHE.pop(key, None)
        return None
    # evict partitions that vanished (compaction swap) or moved
    for name in list(cache):
        if name not in dirs or cache[name][0] != dirs[name]:
            cache.pop(name)[1].unpersist(blocking=False)
    parts = []
    for name, sig in sorted(dirs.items()):
        if name == f"batch_id={exclude_batch_id}":
            continue
        hit = cache.get(name)
        if hit is None:
            df = (
                spark.read.parquet(os.path.join(index_path, name))
                .select("doc_id", "sh", "bands")
                .persist()
            )
            cache[name] = (sig, df)
            parts.append(df)
        else:
            parts.append(hit[1])
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def run_streaming_dedup(
    doc_stream: DataFrame,
    index_path: str,
    pairs_path: str,
    checkpoint: str,
    threshold: float = 0.7,
):
    """Drain ``doc_stream`` with AvailableNow, probing + growing the
    minhash index at ``index_path``. Seed the index beforehand by
    writing ``minhash_index(corpus)`` to ``index_path/batch_id=-1/``
    (every index generation lives in a batch_id=N partition dir, so
    the root read discovers all of them). Near-dup pairs land under
    ``pairs_path/batch_id=N/``."""
    from ..operators.dedup import delta_near_dup_pairs, minhash_index

    spark = doc_stream.sparkSession

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # Replay safety rides on the batch_id partition layout: drop
        # THIS batch's own prior fold (excluded by dir name, so an
        # at-least-once replay sees exactly the index the original run
        # saw), then anti-join out the batch's ids — a doc_id is its
        # logical identity, so a probe must never pair a doc with an
        # index entry carrying the same id (delta_near_dup_pairs'
        # id-disjointness precondition). Replay therefore rewrites
        # byte-equivalent pairs and fold files. The partitions are
        # served from the mtime-keyed cache (see _cached_index_parts):
        # only never-seen or rewritten dirs touch parquet.
        prior = _cached_index_parts(spark, index_path, batch_id)
        if prior is None:
            # either an unseeded root (preserve the legacy error) or
            # more dirs than the cache bound (the packed root scan is
            # the faster plan there — measured crossover)
            prior = spark.read.parquet(index_path).filter(
                F.col("batch_id") != F.lit(batch_id)
            ).select("doc_id", "sh", "bands")
        index = (
            prior.select("doc_id", "sh", "bands")
            .join(
                batch_df.select(F.col("doc_id")).distinct(),
                "doc_id",
                "left_anti",
            )
        )
        pairs = delta_near_dup_pairs(
            index, batch_df, threshold=threshold, max_bucket=1000
        )
        pairs.write.mode("overwrite").parquet(
            os.path.join(pairs_path, f"batch_id={batch_id}")
        )
        # fold the batch into the index AFTER the probe: signing is
        # hash-deterministic, so these signatures are byte-identical
        # to the ones the probe derived internally. Only FIRST
        # occurrences fold — a doc_id that legitimately recurs in a
        # later micro-batch keeps its original signature instead of
        # gaining a duplicate index entry that every future probe
        # would double-match against.
        # dropDuplicates: a doc_id duplicated WITHIN one micro-batch
        # (two source files in one availableNow batch) must also fold
        # exactly one signature — the anti-join only guards against
        # PRIOR batches.
        new_docs = batch_df.dropDuplicates(["doc_id"]).join(
            prior.select("doc_id").distinct(), "doc_id", "left_anti"
        )
        minhash_index(new_docs).write.mode("overwrite").parquet(
            os.path.join(index_path, f"batch_id={batch_id}")
        )

    # the drain holds the index root's writer lock for its whole run:
    # a concurrent compaction's swap would discard any partial a batch
    # commits after compaction's fold read (r14 ADVICE item)
    with state_write_lock(index_path, "drain"):
        q = (
            doc_stream.writeStream.foreachBatch(process_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return q


def run_streaming_chunks(
    doc_stream: DataFrame,
    out_path: str,
    checkpoint: str,
    budget: int = 40,
    overlap: int = 1,
):
    """Streaming twin of the sentence chunker (r12 VERDICT item 8) —
    the doc pipeline's last batch-only op. Drain ``doc_stream`` with
    AvailableNow; each micro-batch lateral-applies ChunkSentencesUDTF
    (functions/chunking.py — the identical generator the batch entry
    ``chunk_docs_sentences`` runs) and publishes its chunk rows to
    ``out_path/batch_id=N`` via the staged atomic rename.

    Replay class: chunking is a deterministic PER-DOC function with no
    cross-doc state — the byte-identical-partials class already proven
    for the KMV/AMS folds, needing no read-side merge at all. An
    at-least-once replay rewrites the same rows; a mid-write crash
    never exposes a truncated partition (streaming/sketches.py::
    _atomic_partial_write). Contract: a doc_id must appear in at most
    one micro-batch (same upstream-identity assumption as the dedup
    stream's index fold documents above) — recurring ids would emit
    their chunk set once per occurrence."""
    from ..functions import chunking
    from .sketches import _atomic_partial_write

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        chunking.register(spark)
        batch_df.createOrReplaceTempView("_chunk_stream_batch")
        chunks = spark.sql(
            f"""
            SELECT d.doc_id, c.chunk_idx, c.chunk, c.chunk_tokens
            FROM _chunk_stream_batch d,
                 LATERAL chunk_sentences(d.text, {int(budget)}, {int(overlap)}) c
            """
        )
        _atomic_partial_write(chunks, out_path, batch_id)

    q = (
        doc_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def current_chunks(spark: SparkSession, out_path: str) -> DataFrame:
    """All chunks published so far — per-doc outputs need no fold, so
    this is just the partition-discovered union of batch dirs."""
    return spark.read.parquet(out_path).select(
        "doc_id", "chunk_idx", "chunk", "chunk_tokens"
    )


def run_streaming_sentence_index(
    doc_stream: DataFrame, index_path: str, checkpoint: str
):
    """Streaming/incremental sentence-dedup index (r13 VERDICT item
    7). ``dup_sentence_stats`` (plans/dedup.py) is cross-doc
    STATEFUL — a sentence's distinct-doc count only grows as documents
    arrive — so a per-batch emission of final stats would be wrong the
    moment a later batch repeated a sentence. The honest streaming
    analog persists the sufficient statistic instead: each micro-batch
    derives its documents' sentence keys (the IDENTICAL
    ``sentence_keys`` pipeline the batch entry groups — injection,
    boundary marking, normalization, xxhash64) and publishes one
    (doc_id, k, cnt) row per distinct (doc, sentence) pair to
    ``index_path/batch_id=N`` via the staged atomic rename. 24-byte
    rows — sentence text never leaves the batch that carried it.

    Replay class: the partial is a hash-deterministic function of the
    batch rows alone, so an at-least-once replay rewrites
    byte-identical files (the KMV/AMS partials discipline). Contract:
    a doc_id must appear in at most one micro-batch (the same
    upstream-identity assumption as the dedup stream's index fold) —
    a recurring id would double its instance counts in the fold."""
    from ..plans.dedup import sentence_keys
    from .sketches import _atomic_partial_write

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        partial = (
            sentence_keys(batch_df)
            .groupBy("doc_id", "k")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        _atomic_partial_write(partial, index_path, batch_id)

    # writer lock vs compact_sentence_index — see run_streaming_dedup
    with state_write_lock(index_path, "drain"):
        q = (
            doc_stream.writeStream.foreachBatch(process_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return q


def current_dup_sentence_stats(
    spark: SparkSession, index_path: str
) -> DataFrame:
    """Fold every published index partial into the corpus-wide
    duplicate-sentence stats — EXACTLY the batch entry's output
    (same column names, same rounding) for every document the index
    has seen. The fold is exact, not approximate: (doc_id, k) pairs
    are unique across batches (one batch per doc), so nd is a plain
    per-key row count and instance totals are sums of cnt. Documents
    that produced zero sentences never reach the index; the batch
    entry emits a zero row for them — callers comparing the two
    restrict to indexed docs (the stream≡batch test does)."""
    from .events import _recover_interrupted_swap

    _recover_interrupted_swap(index_path)  # crashed compaction swap
    idx = spark.read.parquet(index_path).select("doc_id", "k", "cnt")
    nd = idx.groupBy("k").agg(F.countDistinct("doc_id").alias("nd"))
    per = (
        idx.join(nd, "k")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_sentences"),
            F.sum(
                F.when(F.col("nd") >= 2, F.col("cnt")).otherwise(F.lit(0))
            ).alias("n_dup"),
        )
    )
    return per.select(
        "doc_id",
        F.col("n_sentences").cast("long").alias("n_sentences"),
        F.col("n_dup").cast("long").alias("n_dup_sentences"),
        F.round(
            F.col("n_dup").cast("double") / F.col("n_sentences"), 6
        ).alias("dup_sentence_frac"),
    )


# ---------------------------------------------------------------------------
# Streaming Bloom-filter maintenance (round 14): the reference set a
# corpus is decontaminated AGAINST grows over time (yesterday's crawl
# joins the "already seen" side today). The Bloom bitmap
# (operators/decontam.py::bloom_bitmap) merges by per-word bit_or —
# associative, commutative and IDEMPOTENT, the strongest closure law
# in the streaming family (KMV's union merge is idempotent only
# set-wise; AMS addition is not idempotent at all), so even a
# double-folded replay partial could not corrupt the state. Each
# micro-batch publishes its docs' bitmap partial to
# ``state_path/batch_id=N``; the current filter is the bit_or fold,
# byte-identical to the batch build over the same docs.
# ---------------------------------------------------------------------------


def run_streaming_bloom(
    doc_stream: DataFrame,
    state_path: str,
    checkpoint: str,
    n: int = 13,
    m_bits: int = 1 << 20,
    k: int = 7,
):
    """Drain ``doc_stream`` with AvailableNow; each micro-batch folds
    its documents' n-gram Bloom positions into a bitmap partial at
    ``state_path/batch_id=N`` (<= m_bits/64 rows per batch). Replay
    class: the partial is a hash-deterministic function of the batch
    rows alone — and uniquely here, even a NON-byte-identical replay
    interleaving would be harmless, because the read-side bit_or fold
    is idempotent. No doc-identity contract needed: re-contributing a
    document's grams sets the same bits.

    The (n, m_bits, k) tuple is pinned in a ``.params.json`` sidecar
    (NEXT TO the root, so it survives compaction's whole-root swap):
    the bitmap schema cannot carry it, and folding partials built
    under different parameters would corrupt the filter SILENTLY —
    wrong bits are indistinguishable from fp noise. A later drain
    with mismatched parameters raises instead."""
    from ..operators.decontam import _gram_hashes, bloom_bitmap
    from .events import pin_state_params
    from .sketches import _atomic_partial_write

    pin_state_params(state_path, {"n": n, "m_bits": m_bits, "k": k})

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        grams = _gram_hashes(batch_df, "doc_id", n, "doc_id", "text")
        partial = bloom_bitmap(grams.select("ng"), m_bits, k)
        _atomic_partial_write(partial, state_path, batch_id)

    # writer lock vs compact_bloom_state — see run_streaming_dedup
    with state_write_lock(state_path, "drain"):
        q = (
            doc_stream.writeStream.foreachBatch(process_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return q


def current_bloom_bitmap(spark: SparkSession, state_path: str) -> DataFrame:
    """Fold all batch partials into the current (word_idx, word)
    bitmap — same schema as ``bloom_bitmap`` and byte-identical to
    the batch build over the union of streamed docs (the stream≡batch
    test pins it). Input is O(batches × m/64) bitmap rows."""
    from .events import _recover_interrupted_swap

    _recover_interrupted_swap(state_path)  # crashed compaction swap
    return (
        spark.read.parquet(state_path)
        .groupBy("word_idx")
        .agg(F.bit_or("word").alias("word"))
    )
