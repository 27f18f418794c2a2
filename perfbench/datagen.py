"""Seeded input generator for the ``etl_movies`` workload.

``write_movie_inputs`` writes the paper's three ETL inputs (ragged wiki
JSON, Kaggle metadata CSV, MovieLens ratings CSV) with the edge cases of
FIXTURES.md planted at known rows, and returns what a correct pipeline
must produce for them. It is pure numpy/stdlib, so the program under
test only ever sees the files.

The same seed gives byte-identical files; a different seed gives
different ones. (The catalog workloads generate nothing: they read the
fixed tables under ``perfbench/tables/``.)
"""

from __future__ import annotations

import csv
import json
import os

import numpy as np

# ---------------------------------------------------------------------------
# movie ETL inputs
# ---------------------------------------------------------------------------

# The reference's inputs: 7,311 wiki records, 45,466 Kaggle rows and 26M
# ratings. Wiki:Kaggle keeps that 1:6 ratio; ratings are scaled down so
# one pass fits a run (the reference's 3,556 ratings per wiki
# record would make the ratings write the whole benchmark).
WIKI_RECORDS = 2_000
KAGGLE_ROWS = 12_000
RATINGS_ROWS = 300_000

KAGGLE_COLUMNS = [
    "adult", "belongs_to_collection", "budget", "genres", "id",
    "imdb_id", "original_language", "original_title", "overview",
    "popularity", "production_companies", "production_countries",
    "release_date", "revenue", "runtime", "spoken_languages", "status",
    "tagline", "title", "video", "vote_average", "vote_count",
]

_MONTHS = ["January", "February", "March", "April", "May", "June", "July",
           "August", "September", "October", "November", "December"]

# the wiki money forms of FIXTURES.md (the last two are unparseable)
_MONEY_FORMS = [
    lambda m: f"${m} million",
    lambda m: f"${m / 1000:.1f} billion",
    lambda m: f"${m * 1_000_000:,}",
    lambda m: f"${max(m - 5, 1)}-{m} million",
    lambda m: f"${m}[1] million",
    lambda m: [f"${m} million", "(US)"],
    lambda m: "N/A",
    lambda m: f"£{m} million",
]


def _imdb(n: int) -> str:
    return f"tt{n:07d}"


def _date_form(rng: np.random.Generator, y: int, mo: int, d: int):
    """One of the four wiki date forms (or a list cell of the first)."""
    k = int(rng.integers(0, 5))
    if k == 0:
        return f"{_MONTHS[mo - 1]} {d}, {y}"
    if k == 1:
        return f"{y}-{mo:02d}-{d:02d}"
    if k == 2:
        return f"{_MONTHS[mo - 1]} {y}"
    if k == 3:
        return str(y)
    return [f"{_MONTHS[mo - 1]} {d}, {y}", "(United States)"]


def _runtime_form(rng: np.random.Generator, minutes: int):
    """One of the running-time forms; ``varies`` parses to NULL."""
    k = int(rng.integers(0, 5))
    if k == 0:
        return f"{minutes} minutes"
    if k == 1:
        return f"{minutes // 60} h {minutes % 60} min"
    if k == 2:
        return f"{minutes} min"
    if k == 3:
        return [f"{minutes} minutes"]
    return "varies"


def _minutes(form) -> int | None:
    """The minutes a running-time form of ``_runtime_form`` stands for."""
    text = form[0] if isinstance(form, list) else form
    if text == "varies":
        return None
    parts = text.split()
    if parts[1] == "h":
        return int(parts[0]) * 60 + int(parts[2])
    return int(parts[0])


def _wiki_movie(rng: np.random.Generator, i: int, imdb_n: int, year: int) -> dict:
    mo, d = int(rng.integers(1, 13)), int(rng.integers(1, 29))
    box_m = int(rng.integers(2, 900))
    rec: dict = {
        "url": f"https://en.wikipedia.org/wiki/Film_{i:06d}",
        "year": year,
        "title": f"Film {i}",
        "imdb_link": f"https://www.imdb.com/title/{_imdb(imdb_n)}/",
        ("Directed by" if i % 3 else "Director"): f"Director {i % 997}",
        "Box office": _MONEY_FORMS[int(rng.integers(0, len(_MONEY_FORMS)))](box_m),
        "Budget": f"${int(rng.integers(1, 300))} million",
        "Release date": _date_form(rng, year, mo, d),
        "Running time": _runtime_form(rng, int(rng.integers(70, 200))),
        "Starring": [f"Actor {int(x)}" for x in rng.integers(0, 5000, 3)],
        "Country of origin": "United States",
        "Distributed by": f"Distributor {i % 41}",
        "Cinematography": f"DP {i % 211}",
        "Edited by": f"Editor {i % 173}",
        "Based on": f"Novel {i % 89}",
        ("Music by" if i % 2 else "Theme music composer"): f"Composer {i % 131}",
        ("Produced by" if i % 2 else "Producer"): f"Producer {i % 307}",
        ("Productioncompany " if i % 2 else "Productioncompanies "): f"Studio {i % 59}",
        ("Written by" if i % 4 else "Screenplay by"): f"Writer {i % 401}",
        "Language": "English",
    }
    if i % 7 == 0:
        rec["French"] = f"Film {i} (fr)"
    if i % 11 == 0:
        rec["Japanese"] = f"映画{i}"
    return rec


def write_movie_inputs(out_dir: str, seed: int) -> dict:
    """Write ``wikipedia.movies.json``, ``movies_metadata.csv`` and
    ``ratings.csv``; return their paths plus the planted expectations
    (``expect``) a correct pipeline run must meet."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    wiki: list[dict] = []
    kept: list[int] = []              # wiki movies that survive filter + dedup
    base = 100_000 + int(rng.integers(0, 1_000_000))
    years: dict[int, int] = {}
    for i in range(WIKI_RECORDS):
        r = rng.random()
        year = int(rng.integers(1970, 2020))
        rec = _wiki_movie(rng, i, base + i, year)
        if r < 0.03:                  # no director -> filtered
            rec.pop("Directed by", None)
            rec.pop("Director", None)
        elif r < 0.05:                # no imdb link -> filtered
            rec.pop("imdb_link")
        elif r < 0.07:                # TV series -> filtered
            rec["No. of episodes"] = int(rng.integers(5, 200))
        elif r < 0.09 and kept:       # duplicate imdb id, later url -> dropped
            j = kept[int(rng.integers(0, len(kept)))]
            rec["imdb_link"] = f"https://www.imdb.com/title/{_imdb(base + j)}/"
            rec["url"] = f"https://en.wikipedia.org/wiki/Film_{j:06d}_(re-release)"
        else:
            kept.append(i)
            years[i] = year
        if rng.random() < 0.02:       # junk columns, >90% null -> pruned
            rec[f"junk{int(rng.integers(0, 4))}"] = "x"
        wiki.append(rec)

    # Kaggle: one row per kept wiki movie (planted conflicts on a known
    # share of them), the rest with imdb ids no wiki record has.
    rows: list[dict] = []
    expect_budget: dict[str, int] = {}
    expect_runtime_filled: dict[str, int | None] = {}
    expect_revenue_null: list[str] = []
    dropped: set[str] = set()
    joined: list[tuple[str, int]] = []
    kid = 1
    for i in kept:
        imdb = _imdb(base + i)
        row = _kaggle_row(rng, kid, imdb, years[i])
        r = rng.random()
        if r < 0.04:
            row["budget"] = "0"       # filled from the wiki budget
            expect_budget[imdb] = int(wiki[i]["Budget"][1:].split()[0]) * 1_000_000
        elif r < 0.08:
            row["runtime"] = "0"      # filled from the wiki running time
            expect_runtime_filled[imdb] = _minutes(wiki[i]["Running time"])
        elif r < 0.11:
            row["revenue"] = ""       # NULL is not 0: stays NULL
            expect_revenue_null.append(imdb)
        elif r < 0.13:
            row["adult"] = "True"     # adult -> dropped
            dropped.add(imdb)
        elif r < 0.15 and years[i] > 1996:
            row["release_date"] = "1960-01-01"  # P7 outlier -> dropped
            wiki[i]["Release date"] = f"January 5, {years[i]}"
            dropped.add(imdb)
        if imdb not in dropped:
            joined.append((imdb, kid))
        rows.append(row)
        kid += 1
    n_corrupt = 0
    while len(rows) < KAGGLE_ROWS:
        row = _kaggle_row(rng, kid, _imdb(base + WIKI_RECORDS + kid), 1990)
        if rng.random() < 0.01:
            row["adult"] = "corrupt-data"
            n_corrupt += 1
        rows.append(row)
        kid += 1
    order = rng.permutation(len(rows))
    rows = [rows[k] for k in order]

    # ratings: MovieLens shape over the Kaggle ids; a fifth of the
    # joined movies get none, so their histogram must zero-fill.
    rated_ids = np.array([k for _, k in joined if rng.random() >= 0.2]
                         + list(range(len(kept) + 1, kid)), dtype="int64")
    nr = RATINGS_ROWS
    movie = rated_ids[rng.integers(0, len(rated_ids), nr)]
    user = rng.integers(1, 270_000, nr)
    rating = rng.integers(1, 11, nr) / 2.0
    ts = rng.integers(789_652_009, 1_501_829_870, nr)
    joined_ids = {k for _, k in joined}
    rated_joined = int(np.isin(movie, list(joined_ids)).sum())

    paths = {
        "wiki": os.path.join(out_dir, "wikipedia.movies.json"),
        "kaggle": os.path.join(out_dir, "movies_metadata.csv"),
        "ratings": os.path.join(out_dir, "ratings.csv"),
    }
    with open(paths["wiki"], "w") as f:
        json.dump(wiki, f, ensure_ascii=False)
    with open(paths["kaggle"], "w", newline="") as f:
        w = csv.DictWriter(f, fieldnames=KAGGLE_COLUMNS)
        w.writeheader()
        w.writerows(rows)
    with open(paths["ratings"], "w") as f:
        f.write("userId,movieId,rating,timestamp\n")
        f.write("".join(f"{u},{m},{r},{t}\n" for u, m, r, t in zip(user, movie, rating, ts)))
    unrated = sorted(imdb for imdb, k in joined if not np.isin(k, rated_ids))
    return {
        "paths": paths,
        "input_rows": WIKI_RECORDS + len(rows) + nr,
        "expect": {
            "movies_rows": len(joined),
            "ratings_rows": nr,
            "rated_in_movies": rated_joined,
            "budget_filled": expect_budget,
            "runtime_filled": expect_runtime_filled,
            "revenue_null": expect_revenue_null,
            "unrated": unrated,
            "corrupt_adult_rows": n_corrupt,
        },
    }


def _kaggle_row(rng: np.random.Generator, kid: int, imdb: str, year: int) -> dict:
    return {
        "adult": "False",
        "belongs_to_collection": "",
        "budget": str(int(rng.integers(1, 300)) * 1_000_000),
        "genres": "[{'id': 18, 'name': 'Drama'}]",
        "id": str(kid),
        "imdb_id": imdb,
        "original_language": "en",
        "original_title": f"Original {kid}",
        "overview": f"Overview of movie {kid}",
        "popularity": f"{rng.uniform(0, 50):.3f}",
        "production_companies": f"[{{'name': 'Studio {kid % 59}', 'id': {kid % 59}}}]",
        "production_countries": "[{'iso_3166_1': 'US', 'name': 'United States of America'}]",
        "release_date": f"{year}-{int(rng.integers(1, 13)):02d}-{int(rng.integers(1, 29)):02d}",
        "revenue": str(int(rng.integers(1, 900)) * 1_000_000),
        "runtime": str(int(rng.integers(70, 200))),
        "spoken_languages": "[{'iso_639_1': 'en', 'name': 'English'}]",
        "status": "Released",
        "tagline": f"Tagline {kid}",
        "title": f"Movie {kid}",
        "video": "False",
        "vote_average": f"{rng.uniform(1, 10):.1f}",
        "vote_count": str(int(rng.integers(0, 10_000))),
    }

