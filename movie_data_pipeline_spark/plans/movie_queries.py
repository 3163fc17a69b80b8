"""The four canonical analytical queries (reference ``queries.sql``),
each exposed twice: a DataFrame plan and an equivalent SQL string
(SURVEY §3.3 dual surface).

Deterministic tie-breaks are ADDED relative to the reference (SURVEY
§2.5 ⚠): Q1/Q2/Q3 limit queries get trailing key tie-breaks, and Q3's
GROUP_CONCAT becomes a sorted-distinct string agg, so results are
reproducible and oracle-comparable. Values are otherwise identical.

Physical notes (verified via .explain): the movies side of Q1/Q4 and
the whole dim chain of Q2 broadcast (under the 10 MB default); the
ORDER BY + LIMIT pairs compile to TakeOrderedAndProject (per-partition
top-k + k-row driver merge, no global sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def q1_highest_rated_movie(movies: DataFrame, ratings: DataFrame) -> DataFrame:
    """Q1 (queries.sql:5-14): J1 join → groupBy movie → avg/count →
    top-1 with movie_id tie-break."""
    return (
        ratings.join(F.broadcast(movies), "movie_id")
        .groupBy("movie_id", "title", "release_year")
        .agg(
            F.avg("rating").alias("avg_rating"),
            F.count("rating").alias("rating_count"),
        )
        .orderBy(
            F.desc("avg_rating"), F.desc("rating_count"), F.asc("movie_id")
        )
        .limit(1)
        .select("title", "release_year", "avg_rating", "rating_count")
    )


Q1_SQL = """
SELECT m.title, m.release_year,
       AVG(r.rating) AS avg_rating,
       COUNT(r.rating) AS rating_count
FROM movies m
JOIN ratings r ON m.movie_id = r.movie_id
GROUP BY m.movie_id, m.title, m.release_year
ORDER BY avg_rating DESC, rating_count DESC, m.movie_id ASC
LIMIT 1
"""


def q2_top_genres(
    genres: DataFrame,
    movie_genres: DataFrame,
    movies: DataFrame,
    ratings: DataFrame,
) -> DataFrame:
    """Q2 (queries.sql:19-30): 4-way join → per-genre avg/distinct/count
    → top-5 with genre_name tie-break. Dims broadcast; the single
    shuffle is the groupBy on genre."""
    return (
        ratings.join(F.broadcast(movie_genres), "movie_id")
        .join(F.broadcast(genres), "genre_id")
        .groupBy("genre_id", "genre_name")
        .agg(
            F.round(F.avg("rating"), 2).alias("avg_rating"),
            F.countDistinct("movie_id").alias("movie_count"),
            F.count("rating").alias("total_ratings"),
        )
        .orderBy(F.desc("avg_rating"), F.desc("total_ratings"), F.asc("genre_name"))
        .limit(5)
        .select("genre_name", "avg_rating", "movie_count", "total_ratings")
    )


Q2_SQL = """
SELECT g.genre_name,
       ROUND(AVG(r.rating), 2) AS avg_rating,
       COUNT(DISTINCT m.movie_id) AS movie_count,
       COUNT(r.rating) AS total_ratings
FROM genres g
JOIN movie_genres mg ON g.genre_id = mg.genre_id
JOIN movies m ON mg.movie_id = m.movie_id
JOIN ratings r ON m.movie_id = r.movie_id
GROUP BY g.genre_id, g.genre_name
ORDER BY avg_rating DESC, total_ratings DESC, g.genre_name ASC
LIMIT 5
"""


def q3_most_prolific_director(movies: DataFrame) -> DataFrame:
    """Q3 (queries.sql:35-44): filter → per-director count + sorted
    title concat → top-1. GROUP_CONCAT's arbitrary order becomes
    sorted-distinct (deterministic; SURVEY §7.4.1)."""
    return (
        movies.filter(
            F.col("director").isNotNull() & (F.col("director") != "N/A")
        )
        .groupBy("director")
        .agg(
            F.count(F.lit(1)).alias("movie_count"),
            F.array_join(F.sort_array(F.collect_set("title")), ", ").alias("movies"),
        )
        .orderBy(F.desc("movie_count"), F.asc("director"))
        .limit(1)
    )


# Q3 in Spark SQL for the SQL-runner path (the reference's CLI runs
# SQLite dialect on SQLite, etl.py:295-321; ours runs Spark SQL on
# Spark). The sorted-distinct aggregate is spelled
# `string_agg(DISTINCT x) WITHIN GROUP (ORDER BY x)`, which DuckDB
# cannot parse (its form is `STRING_AGG(DISTINCT x ORDER BY x)`), hence
# the _SPARK suffix.
Q3_SQL_SPARK = """
SELECT director,
       COUNT(*) AS movie_count,
       string_agg(DISTINCT title, ', ') WITHIN GROUP (ORDER BY title) AS movies
FROM movies
WHERE director IS NOT NULL AND director != 'N/A'
GROUP BY director
ORDER BY movie_count DESC, director ASC
LIMIT 1
"""


def q4_avg_rating_per_year(movies: DataFrame, ratings: DataFrame) -> DataFrame:
    """Q4 (queries.sql:49-58): join → filter year → per-year stats →
    numeric year sort desc (the reference's TEXT-affinity sort is
    numeric-correct for 4-digit years; we sort a real INT)."""
    return (
        ratings.join(F.broadcast(movies), "movie_id")
        .filter(F.col("release_year").isNotNull())
        .groupBy("release_year")
        .agg(
            F.round(F.avg("rating"), 2).alias("avg_rating"),
            F.countDistinct("movie_id").alias("movie_count"),
            F.count("rating").alias("total_ratings"),
        )
        .orderBy(F.desc("release_year"))
    )


Q4_SQL = """
SELECT m.release_year,
       ROUND(AVG(r.rating), 2) AS avg_rating,
       COUNT(DISTINCT m.movie_id) AS movie_count,
       COUNT(r.rating) AS total_ratings
FROM movies m
JOIN ratings r ON m.movie_id = r.movie_id
WHERE m.release_year IS NOT NULL
GROUP BY m.release_year
ORDER BY m.release_year DESC
"""
