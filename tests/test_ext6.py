"""Planted-corpus tests for plans/dedup.py and plans/curation.py:
exact repeated n-gram spans, per-doc duplication stats, and DSIR
hashed n-gram importance weights — expected values derived
independently in Python (hashlib md5 for DSIR, hand-constructed
duplication geometry for the spans)."""

from __future__ import annotations

import hashlib
import math

from movie_data_pipeline_spark.plans.curation import _DSIR_B, dsir_importance_weights
from movie_data_pipeline_spark.plans.dedup import (
    _SPAN_L,
    _span_rows,
    dup_span_doc_stats,
    repeated_ngram_spans,
)

assert _SPAN_L == 8  # the planted geometry below assumes L=8


def _toks(prefix: str, n: int, start: int = 0) -> str:
    return " ".join(f"{prefix}{i}" for i in range(start, start + n))


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])


def test_repeated_spans_planted(spark):
    shared12 = _toks("s", 12)         # 12-token run shared by docs 1/2
    run8 = _toks("r", 8)              # 8-token run repeated INSIDE doc 3
    rows = [
        # docs 1 and 2: unique prefixes/suffixes around the shared run
        (1, _toks("a", 5) + " " + shared12 + " " + _toks("b", 5), "en", "s"),
        (2, _toks("c", 3) + " " + shared12 + " " + _toks("d", 9), "en", "s"),
        # doc 3: the same 8-token run twice, separated by 10 unique toks
        (3, run8 + " " + _toks("e", 10) + " " + run8, "en", "s"),
        # doc 4: long, fully unique — must produce NO span rows
        (4, _toks("u", 40), "en", "s"),
        # doc 5: shorter than L — no windows at all
        (5, _toks("v", 5), "en", "s"),
    ]
    spans = {
        (r.doc_id, r.start_tok): (r.end_tok, r.span_toks, r.n_windows)
        for r in _span_rows(_docs_df(spark, rows)).collect()
    }
    # doc 1: shared12 occupies token positions 6..17 → 5 windows
    # (starts 6..10) merge into one span of 12 tokens
    assert spans[(1, 6)] == (17, 12, 5)
    # doc 2: shared12 at positions 4..15
    assert spans[(2, 4)] == (15, 12, 5)
    # doc 3: run8 at 1..8 and again at 19..26 (gap 10 > L keeps them
    # separate islands), single window each
    assert spans[(3, 1)] == (8, 8, 1)
    assert spans[(3, 19)] == (26, 8, 1)
    assert len(spans) == 4  # docs 4/5 contribute nothing


def test_dup_span_doc_stats_planted(spark):
    shared = _toks("s", 8)
    rows = [
        (1, shared + " " + _toks("a", 8), "en", "s"),   # 8 of 16 dup
        (2, _toks("b", 4) + " " + shared, "en", "s"),   # 8 of 12 dup
        (3, _toks("u", 20), "en", "s"),                  # clean
    ]
    docs = _docs_df(spark, rows).withColumnRenamed("source", "src")
    # dup_span_doc_stats loads from parquet via the registry path;
    # test the same logic composition directly on the planted frame
    from pyspark.sql import functions as F

    per_doc = _span_rows(docs).groupBy("doc_id").agg(
        F.sum("span_toks").alias("dup_toks")
    )
    n_tok = docs.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_toks")
    )
    got = {
        r.doc_id: (r.n_toks, r.dup_toks, r.frac)
        for r in n_tok.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_toks",
            F.coalesce("dup_toks", F.lit(0)).alias("dup_toks"),
            F.round(
                F.coalesce("dup_toks", F.lit(0)) / F.col("n_toks").cast("double"), 6
            ).alias("frac"),
        )
        .collect()
    }
    assert got[1] == (16, 8, 0.5)
    assert got[2] == (12, 8, round(8 / 12, 6))
    assert got[3] == (20, 0, 0.0)


def _bucket(ngram: str) -> int:
    h = hashlib.md5(ngram.encode()).hexdigest()
    hexd = "0123456789abcdef"
    return hexd.index(h[0]) * 16 + hexd.index(h[1])


def _expected_dsir(rows):
    per: dict[tuple[int, int], int] = {}
    cr: dict[int, int] = {}
    ct: dict[int, int] = {}
    for doc_id, text, lang, _src in rows:
        toks = text.split(" ")
        ngrams = toks + [
            f"{toks[i]} {toks[i + 1]}" for i in range(len(toks) - 1)
        ]
        for ng in ngrams:
            b = _bucket(ng)
            per[(doc_id, b)] = per.get((doc_id, b), 0) + 1
            cr[b] = cr.get(b, 0) + 1
            if lang == "en":
                ct[b] = ct.get(b, 0) + 1
    tr_tot = sum(cr.values())
    tt_tot = sum(ct.get(b, 0) for b in cr)
    lr = {
        b: round(
            math.log(
                ((ct.get(b, 0) + 1.0) * float(tr_tot + _DSIR_B))
                / ((cr[b] + 1.0) * float(tt_tot + _DSIR_B))
            ),
            6,
        )
        for b in cr
    }
    out: dict[int, float] = {}
    cnt: dict[int, int] = {}
    for (doc_id, b), n in per.items():
        out[doc_id] = round(out.get(doc_id, 0.0) + n * lr[b], 6)
        cnt[doc_id] = cnt.get(doc_id, 0) + n
    return cnt, out


def test_dsir_weights_planted(spark, tmp_path):
    rows = [
        (1, "alpha beta gamma alpha beta", "en", "s0"),
        (2, "delta epsilon zeta", "fr", "s1"),
        (3, "alpha beta delta", "en", "s0"),
        (4, "zeta zeta zeta eta", "de", "s2"),
        (5, "solo", "fr", "s1"),  # single token: no bigrams
    ]
    from pyspark.sql import functions as F

    # the registry entry reads {sf}/documents.parquet — write the
    # planted corpus through the same surface it consumes
    df = _docs_df(spark, rows).withColumn("n_chars", F.length("text"))
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.doc_id: (r.n_ngrams, r.dsir_logratio)
        for r in dsir_importance_weights(spark, str(tmp_path)).collect()
    }
    cnt, exp = _expected_dsir(rows)
    assert set(got) == set(exp)
    for d in exp:
        assert got[d][0] == cnt[d], d
        assert abs(got[d][1] - exp[d]) < 2e-6, (d, got[d][1], exp[d])
    # direction: the all-target-vocabulary doc must outrank the
    # all-non-target doc (per-doc signs are noisy at 5 docs, the
    # RANKING is what DSIR selection consumes)
    assert got[1][1] > 0
    assert got[1][1] > got[4][1]
    assert got[4][1] < 0


def test_registry_entries_run_at_sf0001(spark):
    for fn in (repeated_ngram_spans, dup_span_doc_stats, dsir_importance_weights):
        assert fn(spark, "/root/testdata/sf0.001").count() >= 0


def test_value_mad_outliers_planted(spark, tmp_path):
    """Hand-computed MAD geometry: values [1,2,3,4,100] → lower median
    3 (k = 3 of 5), deviations [2,1,0,1,97] → MAD 1, fence 3·1 = 3,
    outliers = {97} → 1. A second type with constant values has
    MAD 0 and the strict > fence flags nothing."""
    import datetime as dt

    from movie_data_pipeline_spark.plans.stats import value_mad_outliers

    rows = [
        (i + 1, dt.datetime(2024, 1, 1, 0, i), 1, "a", v, "{}")
        for i, v in enumerate([1.0, 2.0, 3.0, 4.0, 100.0])
    ] + [
        (i + 10, dt.datetime(2024, 1, 1, 1, i), 2, "b", 7.0, "{}")
        for i in range(3)
    ]
    spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    got = {
        r.event_type: (r.n, r.med, r.mad, r.n_outliers)
        for r in value_mad_outliers(spark, str(tmp_path)).collect()
    }
    assert got["a"] == (5, 3.0, 1.0, 1)
    assert got["b"] == (3, 7.0, 0.0, 0)


def test_score_pr_curve_planted(spark, tmp_path):
    """The scorer's weight vector has w[0] = 1.0, so an embedding
    [x, 0, ..., 0] scores sigmoid(x) exactly — plant four vectors at
    known scores and check the confusion counts at every threshold
    against a Python reimplementation."""
    import math

    from movie_data_pipeline_spark.plans.stats import score_pr_curve

    xs = [(-2.0, 9), (0.0, 3), (2.0, 7), (1.0, 1)]  # (x, label)
    rows = [
        (i, [float(x)] + [0.0] * 63, lab) for i, (x, lab) in enumerate(xs)
    ]
    spark.createDataFrame(rows, ["vec_id", "embedding", "label"]).selectExpr(
        "vec_id", "CAST(embedding AS array<float>) AS embedding",
        "CAST(label AS int) AS label"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    scores = [(1.0 / (1.0 + math.exp(-x)), lab >= 5) for x, lab in xs]
    got = {r.ti: (r.tp, r.fp, r.fn, r.precision, r.recall)
           for r in score_pr_curve(spark, str(tmp_path)).collect()}
    for ti in range(1, 10):
        t = float(repr(ti / 10))
        tp = sum(1 for s, p in scores if s >= t and p)
        fp = sum(1 for s, p in scores if s >= t and not p)
        fn = sum(1 for s, p in scores if s < t and p)
        prec = round(tp / (tp + fp), 6) if tp + fp else None
        rec = round(tp / (tp + fn), 6) if tp + fn else None
        assert got[ti] == (tp, fp, fn, prec, rec), (ti, got[ti])

    # AUC over the same planted scores: positives {σ(-2), σ(2)},
    # negatives {σ(0), σ(1)} — exactly 2 of 4 pos>neg pairs → 0.5
    from movie_data_pipeline_spark.plans.stats import score_auc

    auc_row = score_auc(spark, str(tmp_path)).collect()[0]
    assert (auc_row.n_pos, auc_row.n_neg, auc_row.auc) == (2, 2, 0.5)


def test_priority_loo_encoding_planted(spark, tmp_path):
    """Group [10, 20, 60]: loo(10) = 40.0, loo(20) = 35.0,
    loo(60) = 15.0; a singleton group encodes NULL."""
    import datetime as dt

    from movie_data_pipeline_spark.plans.tpch import priority_loo_encoding

    d = dt.date(2024, 1, 1)
    rows = [
        (1, 1, "O", 10.0, d, "1-URGENT"),
        (2, 1, "O", 20.0, d, "1-URGENT"),
        (3, 1, "O", 60.0, d, "1-URGENT"),
        (4, 1, "O", 99.0, d, "5-LOW"),
    ]
    spark.createDataFrame(
        rows,
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
         "o_orderdate", "o_orderpriority"],
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    got = {
        r.o_orderkey: r.loo_mean_price
        for r in priority_loo_encoding(spark, str(tmp_path)).collect()
    }
    assert got == {1: 40.0, 2: 35.0, 3: 15.0, 4: None}


def test_dedup_survivors_invariants(spark):
    from pyspark.sql import functions as F

    from movie_data_pipeline_spark.plans.dedup import dedup_survivors

    out = dedup_survivors(spark, "/root/testdata/sf0.001").localCheckpoint()
    n_docs = out.count()
    assert n_docs == 500  # every document gets a keep/drop decision
    per_cluster = out.groupBy("cluster_id").agg(
        F.sum(F.col("kept").cast("int")).alias("n_kept"),
        F.count(F.lit(1)).alias("n"),
    )
    # exactly one survivor per cluster, singletons keep themselves
    assert per_cluster.filter(F.col("n_kept") != 1).count() == 0
    # within every multi-doc cluster the survivor has max quality
    # (doc_id tie-break: no member may STRICTLY exceed the winner)
    winners = out.filter("kept").select(
        "cluster_id", F.col("quality").alias("wq")
    )
    losers = out.filter(~F.col("kept")).join(winners, "cluster_id")
    assert losers.filter(F.col("quality") > F.col("wq")).count() == 0
