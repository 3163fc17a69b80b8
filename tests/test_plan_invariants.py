"""Plan-audit invariants as pytest (round-10 VERDICT item 7).

PLANS.md is regenerated manually by tools/explain_audit.py; the
invariants it proves used to live only in that artifact. This module
makes the three load-bearing ones FAIL THE SUITE when violated, over
a fast sf0.001 sample of representative entries:

1. No row-at-a-time Python eval anywhere, and Arrow-vectorized Python
   (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas) only on the
   deliberate surfaces (ANN/sketch/chunking/PCA/recurrence families).
2. Explicit F.broadcast() hints only on bounded-by-construction sides:
   measured exactly (re-execute with autoBroadcastJoinThreshold=-1 so
   only hint-forced exchanges survive) at TWO scale factors — a hinted
   side that grows with SF is the driver-OOM-at-scale signature this
   round's predecessor caught by manual re-audit (q21's supplier dim,
   c22bf2a); here it's caught at commit time.
3. Pushed filters reach the parquet scan on every sampled entry whose
   plan filters a scanned column.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from movie_data_pipeline_spark.plans.analytics import QUERIES  # noqa: E402
from tools.explain_audit import hinted_broadcast_max  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"

# Entries that must run with ZERO Python eval nodes of any kind —
# one representative per JVM-only family (scan/agg, join chain,
# window, rank decomposition, iterative fixpoint, dedup, as-of,
# text stats). If one of these ever grows a Python boundary, the
# hot path left whole-stage codegen.
JVM_ONLY = [
    "q1_top_part",
    "q9_nation_profit",
    "q21_bottleneck_suppliers",
    "nearest_click_gap",
    "null_key_order_ranks",
    "sessionize_events",
    "minhash_dedup_pairs",
    "heaps_law_fit",
    "charlm_doc_scores",
    "value_percentile_grid_by_type",
    # round 11: KMV overlap is pure Column algebra — if it grows a
    # Python boundary the point of building it was lost
    "kmv_priority_overlap",
    # round 12: chunk_docs now serves the native plan (r11 VERDICT
    # item 2) — the UDTF twin moved to the sentence-chunking entry
    "chunk_docs",
    # round 12: PII redaction is a narrow all-native regexp map — a
    # Python boundary here would put regex eval on the slow path
    "redact_pii_docs",
    # round 13: the MIN/MAX-LCP boilerplate detector and the
    # sentence-dedup stats are pure Column algebra (string/array ops +
    # two groupBys) — a Python boundary would mean the sentence split
    # fell off the JVM path
    "source_template_prefix",
    "dup_sentence_stats",
    # round 14: exact-span dedup is shingle hashing + windows, and the
    # sentence-drop rewrite is explode/join/collect_list Column
    # algebra — a Python boundary in either would pull corpus text
    # through the Arrow boundary for nothing
    "exact_span_dedup",
    "drop_dup_sentences_docs",
    # round 14: the Bloom bitmap is xxhash64/pmod/shiftleft/bit_or
    # Column algebra and the probe is a broadcast join — a Python
    # boundary would put the membership test on the slow path
    "bloom_decontaminate_docs",
    # round 14: count-min is xxhash64/pmod explode + one groupBy and
    # a broadcast probe join — same all-JVM contract
    "cms_part_frequencies",
]

# Deliberate Arrow surfaces: vectorized Python is allowed, but ONLY
# the Arrow-batched node classes — BatchEvalPython (row-at-a-time)
# is banned repo-wide.
ARROW_WHITELISTED = [
    "chunk_docs_sentences",
    "embedding_pca_project",
    "ewma_user_values",
    # AMS replica sums: the 160-SUM global aggregate runs interpreted
    # (outside codegen), so the hot path is a deliberate mapInPandas
    # stage — numpy evaluation of the 4-wise sign polynomials
    # (measured 12.5 s -> ~1 s for the 3-column profile under the
    # original bit-unpack; the polynomial family keeps the shape)
    "ams_skew_profile",
    "ams_moment_check",
]

_ARROW_NODES = r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas"
_ROW_AT_A_TIME = r"BatchEvalPython|PythonUDF(?!.*Arrow)"

# Entries carrying explicit broadcast hints (PLANS.md `hint` column),
# spanning every hinted-side family: dim projections, calendar/decile
# frames, trained codebooks, decontamination n-gram sets, per-type
# medians. Their hinted rows must NOT scale with SF.
HINTED = [
    "q9_nation_profit",
    "decontaminate_docs",
    "price_decile_profile",
    "customer_balance_tiles",
    "bm25_top_docs",
]

# Hinted sides that saturate at a construction cap rather than being
# SF-independent: the bitmap prefilter broadcasts DISTINCT hash
# buckets (pmod(xxhash64, 2^16)) of the selective order slice, so its
# rows grow with the slice until they saturate at n_buckets — bounded
# at any scale, but a two-SF growth check would false-flag it before
# saturation.
SATURATING_HINTS = {"urgent_revenue_pruned": 1 << 16}

# Entries whose plans filter a scanned column — the predicate must
# reach the parquet scan as a PushedFilter. (Entries behind an eager
# localCheckpoint — e.g. the rank decomposition — hide their scans
# from the final plan by design and can't be sampled here.)
PUSHDOWN = [
    "q1_top_part",
    "q3_top_segment",
    "q21_bottleneck_suppliers",
    "shipping_priority",
    "nearest_click_gap",
]


def _executed_plan(spark, name: str, sf_dir: str) -> str:
    builder, _ = QUERIES[name]
    df = builder(spark, sf_dir)
    # execute via collect() on the df's OWN QueryExecution: only the
    # executed instance finalizes AQE rewrites (isFinalPlan=true)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    spark.catalog.clearCache()
    return plan


@pytest.mark.parametrize("name", JVM_ONLY)
def test_jvm_only_entries_have_zero_python_eval(spark, name):
    plan = _executed_plan(spark, name, SF_SMALL)
    assert not re.search(_ARROW_NODES, plan), (
        f"{name}: unexpected Python eval node in plan — this entry is "
        "a JVM-only family representative"
    )
    assert not re.search(_ROW_AT_A_TIME, plan)


@pytest.mark.parametrize("name", ARROW_WHITELISTED)
def test_arrow_surfaces_use_arrow_nodes_only(spark, name):
    plan = _executed_plan(spark, name, SF_SMALL)
    assert re.search(_ARROW_NODES, plan), (
        f"{name}: expected an Arrow-batched Python node (the deliberate "
        "surface) — if it vanished, the whitelist is stale"
    )
    assert "BatchEvalPython" not in plan, (
        f"{name}: row-at-a-time Python eval is banned repo-wide"
    )


@pytest.mark.parametrize("name", HINTED)
def test_hinted_broadcasts_do_not_scale_with_sf(spark, name):
    builder, _ = QUERIES[name]
    rows_small = hinted_broadcast_max(spark, builder, SF_SMALL)
    rows_med = hinted_broadcast_max(spark, builder, SF_MED)
    # a bounded-by-construction side (prefix table, codebook, calendar
    # frame, 1-row scalar) is SF-independent up to small variation; a
    # dim or fact projection grows ~10× across these two SFs
    assert rows_med <= max(4 * rows_small, 64), (
        f"{name}: hinted broadcast grew {rows_small}->{rows_med} rows "
        "from sf0.001 to sf0.01 — the hinted side scales with the data "
        "(the q21-supplier-dim signature); drop the hint and let AQE "
        "choose"
    )


@pytest.mark.parametrize("name", sorted(SATURATING_HINTS))
def test_saturating_hinted_sides_stay_under_their_cap(spark, name):
    builder, _ = QUERIES[name]
    cap = SATURATING_HINTS[name]
    rows_med = hinted_broadcast_max(spark, builder, SF_MED)
    assert 0 < rows_med <= cap, (
        f"{name}: hinted bucket-bitmap broadcast {rows_med} rows vs "
        f"construction cap {cap}"
    )


@pytest.mark.parametrize("name", PUSHDOWN)
def test_predicates_reach_the_parquet_scan(spark, name):
    plan = _executed_plan(spark, name, SF_SMALL)
    assert re.search(r"PushedFilters: \[[^\]]", plan), (
        f"{name}: no non-empty PushedFilters in the executed plan — "
        "the predicate stopped reaching the scan"
    )


PLAN_MODULES = [
    "columns", "curation", "dedup", "events", "graphs", "movie_queries",
    "pipeline", "retrieval", "sketches", "stats", "text", "tpch",
    "verification",
]


def test_plan_modules_do_not_import_the_registry():
    """Only the code that serves the registry imports it: in a fresh
    interpreter, no domain module (nor the catalog that loads tables)
    pulls ``plans.analytics`` into ``sys.modules``."""
    import subprocess

    mods = ["movie_data_pipeline_spark.sources.catalog"] + [
        f"movie_data_pipeline_spark.plans.{m}" for m in PLAN_MODULES
    ]
    code = (
        "import importlib, sys\n"
        f"for m in {mods!r}:\n"
        "    importlib.import_module(m)\n"
        "    if 'movie_data_pipeline_spark.plans.analytics' in sys.modules:\n"
        "        print(m)\n"
        "        break\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=Path(__file__).resolve().parent.parent,
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    assert out == "", f"{out} imports plans.analytics"
