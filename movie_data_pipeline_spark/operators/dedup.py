"""Deduplication operators for the training-data-pipeline surface.

Five families, all partition-parallel, no driver-side data loops:

- exact:          hash-groupBy on a content hash (md5) — one shuffle.
- minhash + LSH:  shingle → minhash signature → band → bucket self-join
                  → exact-Jaccard verify. The shuffle key is the band
                  hash, so only same-bucket pairs are ever materialized
                  (never the O(n²) cross product).
- simhash:        64-bit sign-sum sketch (vectorized pandas UDF — bit
                  twiddling is the genuinely non-SQL part), banded into
                  4×16-bit chunks for candidate generation (Hamming ≤ 3
                  guarantees ≥1 identical chunk by pigeonhole).
- n-gram Jaccard: exact set similarity on shingle arrays, applied to
                  LSH candidates (verify step) or any pair table.
- embedding:      cosine near-dup via random-hyperplane LSH buckets +
                  exact cosine verify (see similarity.py for the
                  hyperplane machinery).

Scale posture: every stage is a narrow map or a single keyed shuffle.
Candidate pairs are generated in-row after a single groupBy on the
bucket/fingerprint key (``pairs_within_groups`` — no self-join), with
hot keys bounded by truncation (LSH buckets) or removal (fingerprint
document-frequency noise cap).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text import bpe_ish_tokens, content_hash

# ---------------- exact ----------------


def exact_duplicate_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Groups of byte-identical docs: (content_md5, dup_count, doc_ids)."""
    return (
        docs.withColumn("content_md5", content_hash(F.col(text_col)))
        .groupBy("content_md5")
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
        )
        .filter(F.col("dup_count") > 1)
    )


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep the lowest-doc_id representative of each distinct text."""
    from .topk import top_k_per_group

    hashed = docs.withColumn("content_md5", content_hash(F.col(text_col)))
    return (
        top_k_per_group(hashed, ["content_md5"], [F.col("doc_id").asc()], 1)
        .drop("rank", "content_md5")
    )


# ---------------- shingles / minhash / LSH ----------------


def shingles(text: F.Column, n: int = 3) -> F.Column:
    """Word n-gram shingles as strings — the SEMANTIC REFERENCE the
    DuckDB oracle twins mirror. Production paths use
    ``with_hashed_shingles`` (identical set semantics, 8-byte keys);
    this string form remains the readable definition and the one the
    cross-engine SQL can express. All native array functions.

    slice+array_join beats per-element element_at lookups here: a
    lambda that references the token array k times re-embeds the whole
    tokenization subtree k times (no CSE inside lambda bodies), which
    costs more than slice()'s small per-index array allocation."""
    toks = bpe_ish_tokens(text)
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        ),
    ).otherwise(F.array(F.array_join(toks, " ")))


def with_hashed_shingles(
    df: DataFrame, text_col: str = "text", n: int = 3, out: str = "sh"
) -> DataFrame:
    """Word n-gram shingles as ``array<long>`` xxhash64 folds — the
    8-byte representation that replaces ~n·6-char gram strings in
    every downstream shuffle, cache, and hash (measured 5× on the
    decontamination path, see operators/decontam.py).

    DataFrame-level (not a Column fn) because the per-token hashes
    must be materialized as a REAL column first: expressions captured
    inside HOF lambdas get no CSE, so hashing tokens inside the
    per-position lambda would re-tokenize once per gram. Collisions
    (~2⁻⁶⁴) can only merge two distinct grams — they never split one.
    """

    def fold(arr: F.Column) -> F.Column:
        return F.aggregate(
            arr, F.lit(0).cast("long"), lambda acc, x: F.xxhash64(acc, x)
        )

    with_th = df.withColumn(
        "_th",
        F.transform(bpe_ish_tokens(F.col(text_col)), lambda t: F.xxhash64(t)),
    )
    grams = F.when(
        F.size("_th") >= n,
        F.transform(
            F.sequence(F.lit(0), F.size("_th") - n),
            lambda i: fold(F.slice(F.col("_th"), i + 1, n)),
        ),
    ).otherwise(F.array(fold(F.col("_th"))))
    return with_th.withColumn(out, grams).drop("_th")


def minhash_signature(shingle_col: F.Column, num_perm: int = 32) -> F.Column:
    """num_perm-wide minhash signature.

    Permutation i is simulated by salting xxhash64 with i — each salt
    gives an independent uniform hash, and min over shingles per salt
    is the classic minhash estimator. Pure JVM expressions.
    """
    return F.array(
        *[
            F.array_min(
                F.transform(
                    shingle_col, lambda s, i=i: F.xxhash64(s, F.lit(i))
                )
            )
            for i in range(num_perm)
        ]
    )


def minhash_bands(sig_col: F.Column, num_perm: int = 32, bands: int = 8) -> F.Column:
    """Pack the signature into `bands` band-hashes (rows = perm/bands)."""
    rows = num_perm // bands
    return F.array(
        *[
            F.xxhash64(
                F.concat_ws(",", *[
                    F.element_at(sig_col, b * rows + r + 1).cast("string")
                    for r in range(rows)
                ]),
                F.lit(b),
            )
            for b in range(bands)
        ]
    )


def jaccard(a: F.Column, b: F.Column) -> F.Column:
    """Exact Jaccard on two string arrays (distinct-element sets)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def pairs_within_groups(
    keyed: DataFrame,
    key_cols: list[str],
    id_col: str,
    max_group: int,
    drop_oversize: bool = False,
) -> DataFrame:
    """(id_a < id_b) pairs of ids sharing a key, built IN-ROW after a
    single groupBy — no self-join. The shared pair-generation core of
    the LSH-bucket and winnowing paths: one keyed shuffle in, bounded
    fan-out out (≤ max_group²/2 pairs per key regardless of corpus
    size — the 100 TB guard).

    Hot-key policy: ``drop_oversize=False`` keeps the first max_group
    sorted ids (same semantics as a row_number()-over-key cap, minus
    the window's sort pass) — right for LSH buckets, where an over-full
    bucket still holds real near-dups. ``drop_oversize=True`` discards
    the whole key — right for fingerprint document-frequency capping,
    where an over-shared key is boilerplate, not duplication."""
    agg_ids = F.array_sort(F.collect_list(id_col))
    if drop_oversize:
        groups = (
            keyed.groupBy(*key_cols)
            .agg(agg_ids.alias("ids"))
            .filter(F.size("ids").between(2, max_group))
        )
    else:
        groups = (
            keyed.groupBy(*key_cols)
            .agg(F.slice(agg_ids, 1, max_group).alias("ids"))
            .filter(F.size("ids") >= 2)
        )
    return (
        groups.select(
            F.explode(
                F.flatten(
                    F.transform(
                        "ids",
                        lambda x, i: F.transform(
                            F.slice(F.col("ids"), i + 2, F.size("ids")),
                            lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                        ),
                    )
                )
            ).alias("pair")
        )
        .select("pair.id_a", "pair.id_b")
    )


def pairs_within_groups_payload(
    keyed: DataFrame,
    key_cols: list[str],
    id_col: str,
    payload_col: str,
    max_group: int,
) -> DataFrame:
    """`pairs_within_groups` that carries a per-id payload column into
    the pair rows: (id_a, id_b, payload_a, payload_b), id_a < id_b.

    Exists so a verify predicate (e.g. cosine ≥ τ) can run IN-ROW on
    the exploded pair before anything is shuffled again — the join-back
    formulation materializes every candidate pair through two payload
    joins first, which at 100 TB means shuffling candidate_count ×
    payload_size twice; this shape shuffles each payload once (inside
    the single keyed groupBy) and lets the filter collapse candidates
    to survivors before the next exchange. Group rows hold ≤ max_group
    payloads (cap payload size × max_group to executor-comfortable
    sizes — 4096 × 64 doubles ≈ 2 MB).

    Ids must be unique within a group (payload rides in a struct whose
    first field is the id, so array_sort orders by id; duplicate ids
    would compare payloads — arrays, which Spark cannot compare)."""
    item = F.struct(F.col(id_col).alias("i"), F.col(payload_col).alias("p"))
    groups = (
        keyed.groupBy(*key_cols)
        .agg(F.slice(F.array_sort(F.collect_list(item)), 1, max_group).alias("its"))
        .filter(F.size("its") >= 2)
    )
    return (
        groups.select(
            F.explode(
                F.flatten(
                    F.transform(
                        "its",
                        lambda x, i: F.transform(
                            F.slice(F.col("its"), i + 2, F.size("its")),
                            lambda y: F.struct(
                                x["i"].alias("id_a"),
                                y["i"].alias("id_b"),
                                x["p"].alias("payload_a"),
                                y["p"].alias("payload_b"),
                            ),
                        ),
                    )
                )
            ).alias("pair")
        )
        .select("pair.id_a", "pair.id_b", "pair.payload_a", "pair.payload_b")
    )


def minhash_lsh_duplicates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard ≥ threshold).

    Plan shape: map (shingle+sign) → explode bands → shuffle on band
    hash → per-bucket self-join → exact verify. ``max_bucket`` caps
    pathological buckets (a degenerate all-identical corpus) so the
    per-bucket join stays bounded; capped buckets are near-total
    duplicates that the exact-dedup pass already collapses.
    """
    # Input corpora often arrive as few large files → few partitions;
    # spread rows across the cluster BEFORE the expensive shingle/
    # signature expressions so they parallelize (a narrow round-robin
    # shuffle of raw text, amortized across everything downstream).
    par = docs.sparkSession.sparkContext.defaultParallelism
    sh_tbl = (
        with_hashed_shingles(
            docs.repartition(par), text_col, n, out="sh"
        )
        .select(F.col(id_col).alias("doc_id"), "sh")
        .persist()  # feeds banding once + both verify sides
    )

    # Band rows stay SLIM (doc_id, band_idx, band_hash): the pair
    # generation shuffles only 3 scalar columns — the heavy shingle
    # arrays never ride the explode (8× duplication) or the shuffle,
    # and are joined back only for the final verify of the deduped
    # candidate pairs.
    banded = (
        # signature must be its OWN projected column: the band packer
        # references it 8×, and inlining would re-hash 8× per row
        sh_tbl.withColumn("sig", minhash_signature(F.col("sh"), num_perm))
        .select(
            "doc_id",
            F.posexplode(minhash_bands(F.col("sig"), num_perm, bands)).alias(
                "band_idx", "band_hash"
            ),
        )
    )
    pairs = pairs_within_groups(
        banded, ["band_idx", "band_hash"], "doc_id", max_bucket
    ).dropDuplicates(["id_a", "id_b"])
    sh_a = sh_tbl.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = sh_tbl.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        pairs.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


# ---------------- simhash ----------------


@F.pandas_udf(T.LongType())
def _simhash64(token_arrays: pd.Series) -> pd.Series:
    """64-bit simhash over token lists (Arrow-vectorized).

    Token hashes are md5-derived (process/executor-stable, unlike the
    PYTHONHASHSEED-salted builtin ``hash``) and memoized per Arrow
    batch — natural-language batches repeat tokens heavily, so the
    hash cost amortizes to the batch vocabulary, not the token count.
    The sign-sum → bit-pack step is pure numpy (no Python bit loops).
    """
    import hashlib

    cache: dict[str, int] = {}

    def stable_hash64(t: str) -> int:
        h = cache.get(t)
        if h is None:
            h = int.from_bytes(hashlib.md5(t.encode("utf-8")).digest()[:8], "little")
            cache[t] = h
        return h

    shifts = np.arange(64, dtype=np.uint64)

    def one(tokens) -> int:
        if tokens is None or len(tokens) == 0:
            return 0
        hashes = np.fromiter(
            (stable_hash64(t) for t in tokens), dtype=np.uint64, count=len(tokens)
        )
        bits = ((hashes[:, None] >> shifts) & np.uint64(1)).astype(np.int32)
        positive = (2 * bits - 1).sum(axis=0) > 0
        sketch = np.packbits(positive, bitorder="little").view(np.uint64)[0]
        return int(sketch.astype(np.int64))  # two's-complement into LongType

    return token_arrays.map(one)


def simhash(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach a 64-bit simhash sketch column (repartitioned first so
    the Arrow UDF parallelizes even from a single-file source)."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    return docs.repartition(par).withColumn(
        "simhash", _simhash64(bpe_ish_tokens(F.col(text_col)))
    )


def simhash_duplicates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming.

    Candidates via 4×16-bit chunk banding: any pair within Hamming ≤ 3
    shares at least one identical 16-bit chunk (pigeonhole over 4
    chunks), so bucketing on (chunk_idx, chunk_value) has full recall.
    Verify with an exact popcount — ``bit_count`` is native in Spark.

    Candidate generation goes through ``pairs_within_groups`` (the
    bounded in-row core shared with the LSH/winnow paths), so a
    degenerate chunk value — e.g. millions of empty docs hashing to
    the same 16-bit chunk — yields at most max_bucket²/2 pairs, not a
    quadratic self-join (a round-1 scale-killer: this was the one
    dedup family with an uncapped bucket join). Capped buckets hold
    near-identical docs the exact-dedup pass already collapses.
    """
    # persist: the simhash UDF output is read by both the candidate
    # pass and the verify joins
    sk = (
        simhash(docs, text_col)
        .select(F.col(id_col).alias("doc_id"), "simhash")
        .persist()
    )
    chunks = sk.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", 16 * i).bitwiseAND(F.lit(0xFFFF))
                    for i in range(4)
                ]
            )
        ).alias("chunk_idx", "chunk_val"),
    )
    cand = pairs_within_groups(
        chunks, ["chunk_idx", "chunk_val"], "doc_id", max_group=max_bucket
    ).dropDuplicates(["id_a", "id_b"])
    sh_a = sk.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sh_a"))
    sh_b = sk.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sh_b"))
    return (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


@F.pandas_udf(T.ArrayType(T.LongType()))
def _winnow64(texts: pd.Series) -> pd.Series:
    """Winnowing fingerprints (Schleimer et al., SIGMOD '03): rolling
    Rabin-Karp hashes of character k-grams, then the minimum hash of
    each w-wide window, deduplicated. Guarantees any shared substring
    of length ≥ k + w − 1 yields a shared fingerprint — the classic
    plagiarism/near-dup document signature.

    Arrow-vectorized: the rolling hash is one numpy pass per doc
    (polynomial hash via cumulative powers), window minima via stride
    tricks — no Python per-character loops.
    """
    K, W = 8, 16  # k-gram size, winnow window
    B = np.uint64(1000003)  # polynomial base
    # powers B^(K-1) .. B^0 — mod-2⁶⁴ wraparound is the INTENDED
    # Rabin-Karp arithmetic; suppress numpy's scalar-overflow warning
    # here only, so real overflow bugs elsewhere stay visible
    POWS = np.empty(K, dtype=np.uint64)
    POWS[K - 1] = np.uint64(1)
    with np.errstate(over="ignore"):
        for j in range(K - 2, -1, -1):
            POWS[j] = POWS[j + 1] * B

    from numpy.lib.stride_tricks import sliding_window_view

    def one(text) -> list[int]:
        if text is None:
            return []
        data = np.frombuffer(text.encode("utf-8"), dtype=np.uint8).astype(np.uint64)
        n = len(data)
        if n < K:
            return []
        # polynomial hash of every k-gram in one vectorized pass:
        # (n-K+1, K) windows × power vector, summed under wraparound
        hashes = (sliding_window_view(data, K) * POWS).sum(
            axis=1, dtype=np.uint64
        )
        if len(hashes) <= W:
            return [int(hashes.min().astype(np.int64))]
        # min of each w-window via sliding_window_view
        mins = sliding_window_view(hashes, W).min(axis=1)
        return sorted({int(m.astype(np.int64)) for m in mins})

    return texts.map(one)


def winnow_fingerprints(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the winnowing fingerprint set; shared fingerprints
    between docs indicate shared substrings of length ≥ 23."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    return docs.repartition(par).withColumn(
        "fingerprints", _winnow64(F.col(text_col))
    )


def winnow_shared_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_shared: int = 3,
    max_df: int = 100,
) -> DataFrame:
    """Doc pairs sharing ≥ min_shared winnowing fingerprints.

    Shape: explode fingerprints → groupBy fingerprint → generate the
    per-fingerprint doc pairs **in-row** (higher-order array functions,
    no self-join) → explode pairs → count per pair. Two keyed shuffles
    total, vs three for the explode→self-join→count shape.

    ``max_df`` drops fingerprints present in more than that many docs
    before pair generation. A fingerprint shared by d docs emits
    d·(d−1)/2 pairs, so one boilerplate phrase in 1% of a corpus is
    quadratic pain; and a fingerprint that common identifies stock
    phrasing, not near-duplication (the MOSS "noise threshold"). It
    also bounds per-group pair fan-out at max_df²/2 regardless of
    corpus size — the property that keeps this runnable at 100 TB.
    Measured at sf0.1 (5k docs): 50M join rows → 1.4M, 10.2s → ~2s.
    """
    fp = winnow_fingerprints(docs, text_col).select(
        F.col(id_col).alias("doc_id"), "fingerprints"
    )
    return winnow_pairs_from_fingerprints(fp, min_shared, max_df)


def winnow_pairs_from_fingerprints(
    fp: DataFrame, min_shared: int = 3, max_df: int = 100
) -> DataFrame:
    """Pair generation from a PRECOMPUTED (doc_id, fingerprints) table.

    Fingerprinting is index construction — one UDF pass over the
    corpus whose output is tiny relative to the text. Persisting that
    table (parquet / a cached DataFrame) and re-deriving pairs from it
    amortizes the expensive step across queries, the same
    index-vs-query split as IVF centroids. Round 1 re-fingerprinted
    the corpus inside every invocation (the slowest registry query)."""
    exploded = fp.select("doc_id", F.explode("fingerprints").alias("fp"))
    pairs = pairs_within_groups(
        exploded, ["fp"], "doc_id", max_df, drop_oversize=True
    )
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fingerprints"))
        .filter(F.col("shared_fingerprints") >= min_shared)
    )


# ---------------- duplicate clusters (connected components) ----------------


def _star_contract(edges: DataFrame, max_iters: int) -> DataFrame:
    """Alternating large-star/small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14): the
    O(log n)-round CC algorithm, vs O(component diameter) for plain
    min-label propagation.

    ``edges``: canonical undirected edge list (hi, lo) with hi > lo,
    distinct, no self-loops. Returns the converged star set — every
    surviving edge is (node, component_min).

    - large-star: every neighbor LARGER than u re-attaches to u's
      neighborhood minimum — long chains halve.
    - small-star: every neighbor ≤ u (canonical-form group) attaches
      to the group minimum — stars flatten.

    Both phases preserve connectivity (the paper's invariant); each is
    one keyed groupBy + one keyed join, so a round costs the same
    shuffles as one propagation step but makes exponential progress.
    Convergence is detected by an order-insensitive edge-set checksum.
    """
    prev_sig = None
    for _ in range(max_iters):
        # large-star over the symmetrized adjacency: m(u) = min
        # neighborhood label; emit (v, m(u)) for v > u. m(u) <= u < v
        # keeps the output canonical with no self-loops.
        sym = edges.unionAll(
            edges.select(F.col("lo").alias("hi"), F.col("hi").alias("lo"))
        )
        m = sym.groupBy("hi").agg(
            F.least(F.first("hi"), F.min("lo")).alias("mn")
        )
        large = (
            sym.join(m, "hi")
            .filter(F.col("lo") > F.col("hi"))
            .select(F.col("lo").alias("hi"), F.col("mn").alias("lo"))
            .distinct()
        )
        # small-star on canonical edges: all stored neighbors of hi are
        # < hi; attach hi and every such neighbor to their minimum.
        sm = large.groupBy("hi").agg(F.min("lo").alias("mn"))
        small = (
            large.join(sm, "hi")
            .select(
                F.explode(
                    F.array(
                        F.struct(F.col("hi"), F.col("mn").alias("lo")),
                        F.struct(F.col("lo").alias("hi"), F.col("mn").alias("lo")),
                    )
                ).alias("e")
            )
            .select("e.hi", "e.lo")
            .filter(F.col("hi") != F.col("lo"))
            .distinct()
            .localCheckpoint()  # cut lineage: plans must not snowball
        )
        sig = small.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal sum: full-range xxhash64 longs overflow a LongType
            # sum under ANSI; decimal(38,0) holds ~1e19 of them
            F.sum(F.xxhash64("hi", "lo").cast("decimal(38,0)")).alias("h"),
        ).first()
        edges = small
        if prev_sig == (sig.n, sig.h):
            break
        prev_sig = (sig.n, sig.h)
    return edges


def duplicate_clusters(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iters: int = 20,
    method: str = "propagate",
) -> DataFrame:
    """Connected components over a near-duplicate pair graph → one
    cluster per transitive duplicate group: (doc_id, cluster_id,
    is_canonical), cluster_id = min doc id in the component, canonical
    = that min doc (the keep-one-of-each-cluster dedup decision).

    ``method="propagate"`` (default): iterative min-label propagation
    — each node adopts the smallest label among itself and its
    neighbors until fixpoint; O(component diameter) rounds with ONE
    join + groupBy per round. Near-dup graphs are shallow (members of
    a cluster all share content, so almost every pair edge exists and
    diameters stay small), which makes this the cheaper production
    path: measured on the sf0.1 MinHash pair graph, propagation ≈2.3 s
    vs star ≈4.6 s (star pays double the shuffles per round and its
    log-round advantage never engages at diameter ≲3).
    ``method="star"``: alternating large-star/small-star contraction —
    O(log n) rounds (see ``_star_contract``), the right shape when a
    skewed corpus produces LONG duplicate chains (transcript dumps,
    boilerplate gradients): a planted 64-link chain converges within
    8 rounds where propagation needs 64. Property-tested equivalent to
    propagation on random graphs.

    Both are pure DataFrame ops, lineage cut with localCheckpoint each
    round so plans don't snowball; the driver loop iterates ROUNDS,
    never rows.
    """
    if method not in ("propagate", "star"):
        raise ValueError(
            f"method must be 'propagate' or 'star', got {method!r}"
        )
    if method == "star":
        canon = (
            pairs.select(
                F.greatest(
                    F.col(a_col).cast("long"), F.col(b_col).cast("long")
                ).alias("hi"),
                F.least(
                    F.col(a_col).cast("long"), F.col(b_col).cast("long")
                ).alias("lo"),
            )
            .filter(F.col("hi") != F.col("lo"))
            .distinct()
            .localCheckpoint()
        )
        stars = _star_contract(canon, max_iters)
        members = stars.groupBy(F.col("hi").alias("doc_id")).agg(
            F.min("lo").alias("cluster_id")
        )
        # node universe from the raw pairs (not `canon`) so a degenerate
        # self-pair still yields its singleton cluster row
        roots = (
            pairs.select(F.col(a_col).cast("long").alias("doc_id"))
            .unionAll(pairs.select(F.col(b_col).cast("long").alias("doc_id")))
            .distinct()
            .join(members, "doc_id", "left_anti")
            .select("doc_id", F.col("doc_id").alias("cluster_id"))
        )
        return members.unionByName(roots).select(
            "doc_id",
            "cluster_id",
            (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
        )
    edges = (
        pairs.select(
            F.col(a_col).cast("long").alias("src"),
            F.col(b_col).cast("long").alias("dst"),
        )
        .unionAll(
            pairs.select(
                F.col(b_col).cast("long").alias("src"),
                F.col(a_col).cast("long").alias("dst"),
            )
        )
        .distinct()
        .localCheckpoint()
    )
    # initialize at min(self, neighbors) — the first propagation round
    # folded into a single groupBy over the (symmetric) edge list
    labels = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.least(F.first("src"), F.min("dst")).alias("label"))
        .localCheckpoint()
    )
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("label"),
                (F.col("nmin") < F.col("label")).alias("changed"),
            )
            .localCheckpoint()
        )
        changed = new_labels.filter(F.col("changed")).limit(1).count()
        labels = new_labels.select("node", "label")
        if changed == 0:
            break
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        (F.col("node") == F.col("label")).alias("is_canonical"),
    )


def prefix_filtered_jaccard(
    docs: DataFrame, threshold: float, max_group: int = 10**6
) -> DataFrame:
    """Exact all-pairs Jaccard ≥ τ over word-trigram shingle sets via
    PPJoin-style prefix filtering (Bayardo et al. WWW'07; Xiao et al.
    ICDE'08) — the lossless candidate reduction the naive
    shared-shingle join (plans/analytics.py::ngram_jaccard_exact
    docstring) names as its web-scale form. Returns (id_a, id_b,
    jaccard) identical to the naive join's output.

    Under a global rarest-first shingle order, only each set's PREFIX
    (its |S| − ⌈τ·|S|⌉ + 1 globally rarest shingles) enters the
    candidate join: any pair with J ≥ τ must overlap in ≥ ⌈τ·max(|A|,
    |B|)⌉ shingles, which forces a common shingle inside both
    prefixes — so recall is exact while candidate volume drops from
    Σ_s C(df(s), 2) over ALL shingles to the same sum over rare
    prefix occurrences (measured at sf0.01, τ=0.7: 25 candidates vs
    the naive join's 11,533 — 461×, and every candidate is a true
    pair). Candidates then pass the τ·|A| ≤ |B| length filter and an
    exact array_intersect verify.

    Crossover note (measured, sf0.1): the naive join runs 1.1 s to
    PPJoin's 3.9 s here — on a corpus this small the naive join's
    candidate volume is cheap and PPJoin's three extra shuffles (df
    aggregate, rarity join, prefix re-group) dominate. The prefix
    filter wins where candidates do: Σ_s C(df(s),2) grows
    super-linearly with corpus size while prefix-candidate volume
    tracks output size, which is exactly the regime the 461×
    reduction above predicts.

    Plan: one shingle pass (cached), one df aggregate, one keyed join
    to rank shingles by (df, shingle), per-doc prefix via
    array_sort + slice (in-row, no window), bucket-local pair
    generation (pairs_within_groups — the 100 TB guard), and a
    verify join against the cached shingle arrays.
    """
    # localCheckpoint, not persist(): the blocks are freed by the
    # ContextCleaner when the returned plan goes out of scope, so
    # repeated invocations in a long-lived session don't accumulate
    # cached partitions (an explicit persist with no unpersist hook
    # would — the operator returns a lazy plan and never sees
    # consumption). Same discipline as the iterative graph operators.
    sh0 = (
        with_hashed_shingles(docs, "text", 3, out="sh_raw")
        .select("doc_id", F.array_distinct("sh_raw").alias("sh"))
        .withColumn("n_sh", F.size("sh"))
        .localCheckpoint()
    )
    e = sh0.select("doc_id", "n_sh", F.explode("sh").alias("shingle"))
    df_tbl = e.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    prefix_len = (
        F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
    ).cast("int")
    prefixes = (
        e.join(df_tbl, "shingle")
        .groupBy("doc_id")
        .agg(
            F.first("n_sh").alias("n_sh"),
            F.array_sort(
                F.collect_list(F.struct("df", "shingle"))
            ).alias("ranked"),
        )
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.slice(F.col("ranked"), F.lit(1), prefix_len),
                    lambda s: s["shingle"],
                )
            ).alias("shingle"),
        )
    )
    cands = pairs_within_groups(prefixes, ["shingle"], "doc_id", max_group).distinct()
    a = sh0.select(
        F.col("doc_id").alias("id_a"),
        F.col("sh").alias("sh_a"),
        F.col("n_sh").alias("na"),
    )
    b = sh0.select(
        F.col("doc_id").alias("id_b"),
        F.col("sh").alias("sh_b"),
        F.col("n_sh").alias("nb"),
    )
    verified = (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .filter(
            (F.col("nb") >= threshold * F.col("na"))
            & (F.col("na") >= threshold * F.col("nb"))
        )
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def prefix_filtered_containment(
    docs: DataFrame, threshold: float = 0.9
) -> DataFrame:
    """Exact containment join C = |A∩B| / min(|A|,|B|) ≥ τ with the
    prefix-filter candidate reduction — the scale path behind the
    naive shared-shingle containment join
    (plans/dedup.py::containment_dedup_pairs; output
    identical: (id_a, id_b, containment, a_is_smaller) with
    id_a < id_b).

    Pigeonhole on the SMALLER side only (containment-join prefix
    filtering à la Bayardo et al. WWW'07 adapted to set containment):
    a qualifying pair shares ≥ t = ⌈τ·|S|⌉ shingles where S is the
    smaller set, so any |S| − t + 1 positions of S — its globally
    rarest shingles — must hit the intersection. Unlike the Jaccard
    variant, the larger side has NO length bound (containment
    deliberately pairs very different sizes), so its FULL inverted
    index is the probe target: candidates = smaller-side prefixes ⋈
    all postings, volume Σ_s prefix_df(s)·df(s) instead of the naive
    Σ_s df(s)², with recall exact by the pigeonhole (measured at
    sf0.01, τ=0.9: 26 candidates vs the naive join's 11,533 distinct
    pairs — 443×, and 25 of the 26 are true pairs). The canonical
    smaller side breaks (size, id) ties so every pair is generated
    exactly once from one side's prefix.
    """
    sh0 = (
        with_hashed_shingles(docs, "text", 3, out="sh_raw")
        .select("doc_id", F.array_distinct("sh_raw").alias("sh"))
        .withColumn("n_sh", F.size("sh"))
        .localCheckpoint()  # ContextCleaner-reclaimed, like PPJoin
    )
    e = sh0.select("doc_id", "n_sh", F.explode("sh").alias("shingle"))
    df_tbl = e.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    t_req = F.ceil(F.lit(threshold) * F.col("n_sh")).cast("int")
    prefix_len = (F.col("n_sh") - t_req + 1).cast("int")
    prefixes = (
        e.join(df_tbl, "shingle")
        .groupBy("doc_id")
        .agg(
            F.first("n_sh").alias("n_sh"),
            F.array_sort(
                F.collect_list(F.struct("df", "shingle"))
            ).alias("ranked"),
        )
        .select(
            "doc_id",
            "n_sh",
            F.explode(
                F.transform(
                    F.slice(F.col("ranked"), F.lit(1), prefix_len),
                    lambda s: s["shingle"],
                )
            ).alias("shingle"),
        )
    )
    # smaller-side prefix probes the FULL postings of every other doc;
    # the (size, id) total order makes the smaller side canonical
    small = prefixes.select(
        F.col("doc_id").alias("id_s"), F.col("n_sh").alias("ns"), "shingle"
    )
    full = e.select(
        F.col("doc_id").alias("id_l"), F.col("n_sh").alias("nl"), "shingle"
    )
    cands = (
        small.join(full, "shingle")
        .filter(
            (F.col("ns") < F.col("nl"))
            | ((F.col("ns") == F.col("nl")) & (F.col("id_s") < F.col("id_l")))
        )
        .select("id_s", "id_l")
        .distinct()
    )
    a = sh0.select(F.col("doc_id").alias("id_s"), F.col("sh").alias("sh_s"))
    b = sh0.select(F.col("doc_id").alias("id_l"), F.col("sh").alias("sh_l"))
    verified = (
        cands.join(a, "id_s")
        .join(b, "id_l")
        .withColumn("inter", F.size(F.array_intersect("sh_s", "sh_l")))
        .withColumn(
            "containment",
            F.col("inter") / F.least(F.size("sh_s"), F.size("sh_l")),
        )
        .filter(F.col("containment") >= threshold)
    )
    return verified.select(
        F.least("id_s", "id_l").alias("id_a"),
        F.greatest("id_s", "id_l").alias("id_b"),
        F.round("containment", 6).alias("containment"),
        # a_is_smaller mirrors the naive output: |sh(id_a)| <= |sh(id_b)|
        F.when(
            F.col("id_s") < F.col("id_l"),
            F.size("sh_s") <= F.size("sh_l"),
        ).otherwise(F.size("sh_l") <= F.size("sh_s")).alias("a_is_smaller"),
    )


def minhash_index(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 32,
    bands: int = 8,
) -> DataFrame:
    """Persistable minhash index state: (doc_id, sh, bands) — the
    shingle hashes (for exact verify) and the banded LSH keys (for
    candidate lookup). Build once per corpus, write to parquet, and
    serve every future delta batch from it: the incremental-dedup
    contract where a 100 TB corpus is signed ONCE and each day's
    arrivals probe the index instead of re-signing the world (the
    winnowing index, ``winnow_fingerprints``, follows the same
    pattern)."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    sh_tbl = with_hashed_shingles(
        docs.repartition(par), text_col, n, out="sh"
    ).select(F.col(id_col).alias("doc_id"), "sh")
    return sh_tbl.select(
        "doc_id",
        "sh",
        minhash_bands(
            minhash_signature(F.col("sh"), num_perm), num_perm, bands
        ).alias("bands"),
    )


def delta_near_dup_pairs(
    index: DataFrame,
    delta_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicates of a NEW batch against an existing minhash
    index (plus duplicates within the batch itself) without touching
    the corpus text: (delta_id, match_id, jaccard, in_corpus).

    The delta is signed with the identical parameters, its band keys
    join the index's band keys (a keyed equi-join — the corpus index
    is probed, never self-joined), and candidates verify with exact
    Jaccard on the stored shingle hashes. Batch-internal pairs come
    from the usual bucket-local generation over the delta's own
    bands. The corpus-sided work is one shuffle of slim band keys +
    the verify join on matched candidates only — independent of
    corpus text size, which is the whole point of maintaining index
    state. ``max_bucket`` (when set) caps BOTH candidate paths:
    batch-internal buckets through pairs_within_groups and corpus
    band buckets through a deterministic sorted-prefix cap before the
    probe join, so one boilerplate-heavy band key cannot go
    quadratic. The library default is None — full recall, every
    candidate in every bucket — because a silent cap is a recall
    change; SCALE-PATH callers (the registry's incremental/streaming
    dedup entries) opt in explicitly with max_bucket=1000. A match
    dropped by the cap is one that sorts past the prefix in every
    shared band bucket."""
    # localCheckpoint over persist() for the same session-hygiene
    # reason as prefix_filtered_jaccard: blocks are reclaimed by the
    # ContextCleaner after the plan is dropped, not pinned until an
    # external clearCache.
    d = minhash_index(delta_docs, text_col, id_col, n, num_perm, bands)
    d = d.withColumnRenamed("doc_id", "delta_id").localCheckpoint()

    def explode_bands(df, id_name):
        return df.select(
            F.col(id_name),
            F.posexplode("bands").alias("band_idx", "band_hash"),
        )

    # delta × corpus candidates (keyed equi-join on the band key).
    # The corpus side gets the SAME hot-bucket cap the batch-internal
    # path applies (pairs_within_groups keep-first-max_bucket): a band
    # shared by many near-identical corpus docs would otherwise make
    # candidate volume |delta_bucket| × |corpus_bucket| — quadratic in
    # the hot bucket, exactly the blow-up the scale contract forbids.
    # The cap is the deterministic sorted prefix, and the groupBy runs
    # on the join keys, so the join reuses its exchange (no extra
    # corpus-side shuffle beyond the one the join needs anyway).
    ci = explode_bands(index.select(F.col("doc_id").alias("match_id"), "bands"), "match_id")
    if max_bucket is not None:
        ci = (
            ci.groupBy("band_idx", "band_hash")
            .agg(
                F.slice(
                    F.array_sort(F.collect_list("match_id")), 1, max_bucket
                ).alias("ids")
            )
            .select("band_idx", "band_hash", F.explode("ids").alias("match_id"))
        )
    di = explode_bands(d.select("delta_id", "bands"), "delta_id")
    cross = (
        di.join(ci, ["band_idx", "band_hash"])
        .select("delta_id", "match_id")
        .distinct()
    )
    # batch-internal candidates (bucket-local, bounded)
    internal = pairs_within_groups(
        di.select("band_idx", "band_hash", F.col("delta_id").alias("doc_id")),
        ["band_idx", "band_hash"],
        "doc_id",
        max_bucket if max_bucket is not None else 2**31 - 1,
    ).dropDuplicates(["id_a", "id_b"]).select(
        F.col("id_a").alias("delta_id"), F.col("id_b").alias("match_id"),
        F.lit(False).alias("in_corpus"),
    )
    cands = cross.withColumn("in_corpus", F.lit(True)).unionByName(internal)

    # ids must be disjoint between index and delta (a batch is by
    # definition not yet indexed), so the union needs no dedup — a
    # dropDuplicates here would shuffle every corpus doc's shingle
    # ARRAY just to re-assert uniqueness (measured 31 s -> 4 s at
    # sf0.1 removing it plus single-materializing the index)
    sh_delta = d.select(F.col("delta_id"), F.col("sh").alias("sh_d"))
    sh_match = index.select(
        F.col("doc_id").alias("match_id"), F.col("sh").alias("sh_m")
    ).unionByName(
        d.select(F.col("delta_id").alias("match_id"), F.col("sh").alias("sh_m"))
    )
    return (
        cands.join(sh_delta, "delta_id")
        .join(sh_match, "match_id")
        .withColumn("jaccard", jaccard(F.col("sh_d"), F.col("sh_m")))
        .filter(F.col("jaccard") >= threshold)
        .select(
            "delta_id", "match_id",
            F.round("jaccard", 6).alias("jaccard"), "in_corpus",
        )
    )
