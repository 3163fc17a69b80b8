"""The session holds the engine's generated code across ops.

Spark keeps one JVM-wide cache of Janino-compiled classes, sized by the
static ``spark.sql.codegen.cache.maxEntries`` (default 100). A registry
op compiles dozens of classes, so at the default every op evicts the
classes of the ops before it and recompiles its own on every run.
``CodegenMetrics``' compilation histogram counts each compile.
"""

from __future__ import annotations

from conftest import SF_SMALL as SF

from movie_data_pipeline_spark.session import CODEGEN_CACHE_ENTRIES, clear_state
from tools.ab import compile_count

# The op kinds of the benchmark's tpch_serve workload, by registry name.
SERVE_ENTRIES = (
    "pricing_summary", "shipping_priority", "supplier_volume_by_nation",
    "q7_nation_trade_volume", "q9_nation_profit", "q11_important_parts",
    "q13_custdist", "q15_top_supplier", "q17_small_qty_revenue",
    "q19_disjunctive_revenue", "q21_bottleneck_suppliers", "trade_bfs_hops",
)


def test_codegen_cache_size_is_the_constant(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )


def test_serve_entries_reuse_their_compiled_code(spark):
    """The twelve entries compile about 210 classes in a fresh session,
    more than the default cache holds. Two warm passes come first: AQE
    picks ``q17_small_qty_revenue``'s join sides from whichever shuffle
    stage finishes first, so its second run can take a second plan shape
    and compile a few classes once. After that, a pass compiles nothing;
    at the default size it recompiles about 200."""
    from movie_data_pipeline_spark.plans.analytics import QUERIES

    def one_pass() -> int:
        before = compile_count(spark)
        for name in SERVE_ENTRIES:
            QUERIES[name][0](spark, SF).write.format("noop").mode("overwrite").save()
            clear_state(spark)
        return compile_count(spark) - before

    one_pass()
    one_pass()
    assert one_pass() == 0


def test_second_publish_compiles_only_the_timestamp_literal(spark, tmp_path):
    """``build_movies_table``'s ``F.current_timestamp()`` is folded into a
    literal that differs per run and is inlined into the generated code
    of the two stages that carry ``created_at``. Those 2 classes are
    compiled on every publish; everything else comes from the cache. A
    new per-run value inlined into a plan raises this count."""
    from movie_data_pipeline_spark.plans.pipeline import load_movielens

    movies = tmp_path / "movies.csv"
    ratings = tmp_path / "ratings.csv"
    movies.write_text(
        "movieId,title,genres\n"
        "1,Toy Story (1995),Adventure|Animation|Children\n"
        '2,"City of Lost Children, The (Cité des enfants perdus, La) (1995)",'
        "Adventure|Drama|Fantasy\n"
        "3,Heat (1995),Action|Crime|Thriller\n"
        "4,Untitled,(no genres listed)\n"
    )
    ratings.write_text(
        "userId,movieId,rating,timestamp\n"
        "1,1,4.0,964982703\n1,3,5.0,964981247\n2,2,3.5,964983815\n"
        "2,1,2.0,964982931\n3,4,0.5,964982400\n"
    )
    root = str(tmp_path / "wh")

    def publish() -> int:
        before = compile_count(spark)
        load_movielens(spark, str(movies), str(ratings), root)
        clear_state(spark)
        return compile_count(spark) - before

    publish()
    assert publish() <= 2
