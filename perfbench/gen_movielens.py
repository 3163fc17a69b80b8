"""Seeded MovieLens-shaped CSVs, an OMDb-shaped lookup CSV, and the answers
the engine must produce on them, computed here in plain Python.

Titles carry the features the engine's title cleaning and enrichment
cascade act on: ``(YYYY)`` year suffixes (a few titles have none),
trailing articles (``Name, The``), parenthetical alternates
(``Name (Alt Title)``), both at once (the article then stays, because
it is moved before parentheticals are removed), and diacritics
(``Cité``). Genres are pipe-joined, with the ``(no genres listed)``
sentinel, empty segments and repeated genres mixed in. Ratings run from
0.5 to 5.0 in half steps over a skewed movie popularity.

Each lookup row is keyed on exactly one title candidate of one movie
(the year-qualified or year-less form), so the director the engine
must attach to every movie is known by construction.

Usage: python3 gen_movielens.py OUT_DIR --seed N
writes movies.csv, ratings.csv, lookup.csv and expected.json.
"""

from __future__ import annotations

import argparse
import csv
import json
import os
import unicodedata
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

# the reference data set's size
REF_MOVIES = 9_742
REF_RATINGS = 100_836
REF_USERS = 610

WORDS = (
    "Garden Night River Stone Winter Summer Silver Golden Shadow Light "
    "House Road City Island Mountain Ocean Storm Fire Ice Heart Dream "
    "Song Letter Mirror Window Station Harbor Forest Desert Valley Bridge "
    "Empire Kingdom Secret Promise Journey Return Escape Hunter Stranger "
    "Doctor Captain Sister Brother Mother Father Child Friend Ghost Angel"
).split()
ACCENTED = "Cité Amélie Señor Café Über Niño Garçon Fête Noël Müller Émile São".split()
ALT_WORDS = "Lumière Chanson Rêve Nuit Sombra Verano Traum Sommer Ciel Mar".split()
ARTICLES = ("The", "A", "An")
GENRES = (
    "Action Adventure Animation Children Comedy Crime Documentary Drama "
    "Fantasy Film-Noir Horror IMAX Musical Mystery Romance Sci-Fi Thriller "
    "War Western"
).split()
SENTINEL = "(no genres listed)"
DIRECTORS = [
    f"{a} {b}" for a in ("Ada", "Bela", "Chen", "Dario", "Elif", "Farah", "Goran", "Hana")
    for b in ("Okafor", "Lindqvist", "Moreau", "Tanaka", "Varga")
]
HIT_SHARE = 0.9  # the reference's published OMDb match rate


def strip_accents(s: str) -> str:
    return "".join(ch for ch in unicodedata.normalize("NFKD", s) if not unicodedata.combining(ch))


def tidy(s: str) -> str:
    return " ".join(s.split())


def round2(x: float) -> float:
    """Spark's ROUND(double, 2): half-up on the double's decimal form."""
    return float(Decimal(repr(x)).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP))


def _serial(i: int) -> str:
    digits = "0123456789ABCDEFGHJKLMNPQRSTUVWXYZ"
    out = ""
    i += 1
    while i:
        i, r = divmod(i, len(digits))
        out = digits[r] + out
    return out


def make_movies(rng: np.random.Generator, n: int) -> list[dict]:
    """Raw rows plus, per movie, its clean title and the title forms the
    engine's enrichment cascade is certain to probe."""
    movies = []
    for i in range(n):
        w = [WORDS[k] for k in rng.integers(0, len(WORDS), 2)]
        if rng.random() < 0.15:
            w[int(rng.integers(0, 2))] = ACCENTED[int(rng.integers(0, len(ACCENTED)))]
        # the serial keeps names (3 words) and alternates (2 words) unique
        name = f"{w[0]} {w[1]} {_serial(i)}"
        alt = f"{ALT_WORDS[int(rng.integers(0, len(ALT_WORDS)))]} {_serial(i)}"
        art = ARTICLES[int(rng.choice(3, p=[0.7, 0.2, 0.1]))]
        shape = int(rng.choice(4, p=[0.6, 0.2, 0.15, 0.05]))
        if shape == 0:
            body, clean, probes = name, name, [name]
        elif shape == 1:
            body, clean = f"{name}, {art}", f"{art} {name}"
            probes = [f"{art} {name}", f"{name}, {art}"]
        elif shape == 2:
            body, clean = f"{name} ({alt})", name
            probes = [f"{name} ({alt})", name, alt]
        else:
            body, clean = f"{name}, {art} ({alt})", f"{name}, {art}"
            probes = [f"{name}, {art} ({alt})", f"{name}, {art}", alt]
        year = None if rng.random() < 0.03 else int(min(2018, 2019 - rng.geometric(1 / 25)))
        title = body if year is None else f"{body} ({year})"
        k = int(rng.choice(4, p=[0.3, 0.4, 0.2, 0.1]))
        genres = list(dict.fromkeys(GENRES[j] for j in rng.integers(0, len(GENRES), k)))
        raw_genres = "|".join(genres)
        u = rng.random()
        if k == 0:
            raw_genres = SENTINEL
        elif u < 0.02:
            raw_genres += "|" + genres[0]  # repeated genre
        elif u < 0.04:
            raw_genres += "||"  # empty segments
        movies.append({
            "movie_id": i + 1, "title": title, "raw_genres": raw_genres,
            "genres": genres, "year": year, "clean": tidy(strip_accents(clean)),
            "probes": probes,
        })
    return movies


def make_lookup(rng: np.random.Generator, movies: list[dict]) -> list[tuple]:
    rows = []
    for m in movies:
        m["director"] = "Unknown"
        if rng.random() >= HIT_SHARE:
            continue
        key = m["probes"][int(rng.integers(0, len(m["probes"])))]
        if rng.random() < 0.3:
            key = strip_accents(key)  # the cascade probes stripped forms too
        year = m["year"] if m["year"] is not None and rng.random() < 0.5 else None
        director = "N/A" if rng.random() < 0.03 else DIRECTORS[int(rng.integers(0, len(DIRECTORS)))]
        m["director"] = director
        box = "N/A" if rng.random() < 0.2 else f"${int(rng.integers(1, 400)) * 250_000:,}"
        rows.append((
            key, year, f"tt{m['movie_id']:07d}", f"Plot of {key}.", director,
            box, f"{int(rng.integers(70, 200))} min", round(float(rng.uniform(1, 10)), 1),
        ))
    return rows


def make_ratings(rng: np.random.Generator, n_movies: int, n: int, n_users: int):
    # skewed popularity: a few movies collect most ratings, some none
    weight = 1.0 / np.arange(1, n_movies + 1) ** 0.9
    popular = rng.permutation(n_movies)
    movie = popular[rng.choice(n_movies, size=n, p=weight / weight.sum())] + 1
    user = rng.integers(1, n_users + 1, n)
    rating = rng.integers(1, 11, n) / 2.0
    ts = rng.integers(828_124_615, 1_537_799_250, n)
    return user, movie, rating, ts


def expected(movies: list[dict], movie_ids, ratings) -> dict:
    """The four tables' row counts, Q1-Q4 (plans/movie_queries.py
    semantics, including its tie-breaks) and every movie's director, in
    plain Python. Q3 names the 'Unknown' director of the unmatched
    movies, so the per-movie directors are what checks the enrichment."""
    by_id = {m["movie_id"]: m for m in movies}
    total = defaultdict(float)
    count = defaultdict(int)
    for mid, r in zip(movie_ids.tolist(), ratings.tolist()):
        total[mid] += r
        count[mid] += 1

    q1_mid = min(count, key=lambda mid: (-(total[mid] / count[mid]), -count[mid], mid))
    m = by_id[q1_mid]
    q1 = [[m["clean"], m["year"], total[q1_mid] / count[q1_mid], count[q1_mid]]]

    g_sum, g_cnt, g_movies = defaultdict(float), defaultdict(int), defaultdict(set)
    for mid in count:
        for g in by_id[mid]["genres"]:
            g_sum[g] += total[mid]
            g_cnt[g] += count[mid]
            g_movies[g].add(mid)
    q2 = sorted(
        ([g, round2(g_sum[g] / g_cnt[g]), len(g_movies[g]), g_cnt[g]] for g in g_cnt),
        key=lambda r: (-r[1], -r[3], r[0]),
    )[:5]

    d_titles = defaultdict(list)
    for m in movies:
        if m["director"] != "N/A":
            d_titles[m["director"]].append(m["clean"])
    q3_dir = min(d_titles, key=lambda d: (-len(d_titles[d]), d))
    q3 = [[q3_dir, len(d_titles[q3_dir]), ", ".join(sorted(set(d_titles[q3_dir])))]]

    y_sum, y_cnt, y_movies = defaultdict(float), defaultdict(int), defaultdict(set)
    for mid in count:
        y = by_id[mid]["year"]
        if y is not None:
            y_sum[y] += total[mid]
            y_cnt[y] += count[mid]
            y_movies[y].add(mid)
    q4 = [[y, round2(y_sum[y] / y_cnt[y]), len(y_movies[y]), y_cnt[y]] for y in sorted(y_cnt, reverse=True)]

    pairs = {(m["movie_id"], g) for m in movies for g in m["genres"]}
    return {
        "counts": {
            "movies": len(movies),
            "genres": len({g for _, g in pairs}),
            "movie_genres": len(pairs),
            "ratings": len(movie_ids),
        },
        "queries": [q1, q2, q3, q4],
        # the enrichment's output, per movie: directors[movie_id - 1]
        "directors": [m["director"] for m in movies],
    }


def write(out_dir: str, seed: int) -> dict:
    """Write the inputs and expected.json; returns a summary of them."""
    rng = np.random.default_rng(seed)
    movies = make_movies(rng, REF_MOVIES)
    lookup = make_lookup(rng, movies)
    user, movie, rating, ts = make_ratings(rng, REF_MOVIES, REF_RATINGS, REF_USERS)
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "movies.csv"), "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f)
        w.writerow(["movieId", "title", "genres"])
        w.writerows((m["movie_id"], m["title"], m["raw_genres"]) for m in movies)
    with open(os.path.join(out_dir, "ratings.csv"), "w", newline="") as f:
        f.write("userId,movieId,rating,timestamp\n")
        f.writelines(
            f"{u},{mv},{r:.1f},{t}\n"
            for u, mv, r, t in zip(user.tolist(), movie.tolist(), rating.tolist(), ts.tolist())
        )
    with open(os.path.join(out_dir, "lookup.csv"), "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f)
        w.writerow(["lookup_title", "lookup_year", "imdb_id", "plot", "director",
                     "box_office", "runtime", "imdb_rating"])
        w.writerows(("" if v is None else v for v in row) for row in lookup)
    exp = expected(movies, movie, rating)
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(exp, f)
    return {
        "movies": REF_MOVIES, "ratings": REF_RATINGS, "lookup_rows": len(lookup),
        "lookup_hit_share": round(len(lookup) / REF_MOVIES, 4),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    print(json.dumps(write(args.out_dir, args.seed)))


if __name__ == "__main__":
    main()
