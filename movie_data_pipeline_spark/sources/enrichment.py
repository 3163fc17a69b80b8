"""Enrichment source: the OMDb lookup re-expressed as a join (J4/S3).

The reference does a per-movie HTTP cascade (``etl.py:116-152``): for
each title candidate (priority-ordered), try (candidate, year) then
(candidate, no-year); first hit wins; total miss → default record.

Spark-first model (SURVEY §2.3 J4): enrichment is a STAGED LOOKUP TABLE
(offline-fetched or synthetic, schema ``schemas.OMDB_LOOKUP``) and the
cascade becomes an ordered-fallback ("priority") join:

    explode candidates with their priority index
      → join lookup on (candidate, year) and on (candidate, NULL-year)
      → row_number() over (movie) ordered by (candidate priority,
        with-year-before-without) → keep rank 1
      → left join back to movies → coalesce defaults for misses.

This is deterministic, testable, and fully distributed. Live fetching
is ``omdb_datasource``'s ``mode=http`` path; offline runs stage or stub
the lookup table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.titles import generate_title_candidates

DEFAULTS = {
    "imdb_id": None,
    "plot": "Not Available",
    "director": "Unknown",
    "box_office": None,
    "runtime": None,
    "imdb_rating": None,
}

_LOOKUP_COLS = ["imdb_id", "plot", "director", "box_office", "runtime", "imdb_rating"]


def with_candidates(movies: DataFrame, title_col: str = "title") -> DataFrame:
    """Attach the priority-ordered candidate array (F7) to each movie."""
    return movies.withColumn("title_candidates", generate_title_candidates(F.col(title_col)))


def enrich(movies: DataFrame, lookup: DataFrame) -> DataFrame:
    """Ordered-fallback enrichment join.

    ``movies`` must carry ``movieId``, ``title``, ``release_year``.
    ``lookup`` has schema ``schemas.OMDB_LOOKUP``; a row with
    ``lookup_year IS NULL`` matches the reference's without-year probe.

    At reference scale the lookup is broadcast; at 100 TB scale both
    sides shuffle on the candidate key — the plan is the same shape
    either way and contains exactly one wide join + one window.
    """
    cand = (
        with_candidates(movies)
        .select(
            "movieId",
            "release_year",
            F.posexplode("title_candidates").alias("cand_priority", "cand_title"),
        )
    )

    # One probe row per (candidate, with_year? yes/no), mirroring the
    # reference's params_list order: with-year first when year known.
    probes = cand.select(
        "movieId",
        "cand_priority",
        "cand_title",
        F.explode(
            F.when(
                F.col("release_year").isNotNull(),
                F.array(F.col("release_year"), F.lit(None).cast("int")),
            ).otherwise(F.array(F.lit(None).cast("int")))
        ).alias("probe_year"),
    ).withColumn(
        "probe_priority",
        F.when(F.col("probe_year").isNotNull(), F.lit(0)).otherwise(F.lit(1)),
    )

    joined = probes.join(
        F.broadcast(lookup),
        (probes.cand_title == lookup.lookup_title)
        & (
            (probes.probe_year.isNull() & lookup.lookup_year.isNull())
            | (probes.probe_year == lookup.lookup_year)
        ),
        "inner",
    )

    w = Window.partitionBy("movieId").orderBy("cand_priority", "probe_priority")
    best = (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("movieId", *_LOOKUP_COLS)
    )

    out = movies.join(best, "movieId", "left")
    # F12 defaults on miss.
    out = out.withColumn("plot", F.coalesce("plot", F.lit(DEFAULTS["plot"])))
    out = out.withColumn("director", F.coalesce("director", F.lit(DEFAULTS["director"])))
    return out


def stub_lookup(spark) -> DataFrame:
    """Empty lookup table → every movie gets the default record, the
    exact behavior of the survey's API-stubbed golden run."""
    from .. import schemas

    return spark.createDataFrame([], schemas.OMDB_LOOKUP)
