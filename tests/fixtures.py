"""Movie-shaped fixture data per FIXTURES.md: tiny deterministic
replicas of the reference's three inputs, seeded with the edge cases
mined from the notebook outputs (list cells, money forms, 4 date
forms, corrupt adult rows, duplicate imdb ids, junk columns)."""

from __future__ import annotations

import csv
import json
import os


def _imdb(n: int) -> str:
    return f"tt{n:07d}"


def _link(n: int) -> str:
    return f"https://www.imdb.com/title/{_imdb(n)}/"


def write_wiki_json(path: str) -> list[dict]:
    """Ragged wiki records. Planted shapes:

    - 1..10: clean movies exercising every money/date/duration form
    - 11: duplicate imdb_id of 1 (dedup keeps the url-lesser = movie 1)
    - 12: no director → filtered
    - 13: no imdb_link → filtered
    - 14: TV series (has 'No. of episodes') → filtered
    - junk1/junk2 columns appear on ONE record of 11 kept → >90% null
    """
    movies: list[dict] = [
        {  # all-form base: million money, full date, minutes runtime
            "url": "https://en.wikipedia.org/wiki/Movie_01",
            "year": 2000, "title": "Movie 01",
            "imdb_link": _link(1), "Directed by": "Alpha Director",
            "Box office": "$21.4 million", "Budget": "$4.2[1] million",
            "Release date": "January 21, 2000", "Running time": "100 minutes",
            "Written by": "Writer One", "Starring": ["Actor A", "Actor B"],
            "French": "Film Un",
        },
        {  # billion + ISO date + h/min duration + screenplay variant
            "url": "https://en.wikipedia.org/wiki/Movie_02",
            "year": 2001, "title": "Movie 02",
            "imdb_link": _link(2), "Director": "Beta Director",
            "Box office": "$2.7 billion", "Budget": "$200 million",
            "Release date": "2001-03-15", "Running time": "2 h 30 min",
            "Screenplay by": "Writer Two",
        },
        {  # comma-form money + month-year date + 'min' duration
            "url": "https://en.wikipedia.org/wiki/Movie_03",
            "year": 2002, "title": "Movie 03",
            "imdb_link": _link(3), "Directed by": "Gamma Director",
            "Box office": "$57,718,089", "Budget": "$30,000,000",
            "Release date": "March 2002", "Running time": "104 min",
            "Music by": "Composer Three",
        },
        {  # range money (upper bound kept) + bare-year date + junk cols
            "url": "https://en.wikipedia.org/wiki/Movie_04",
            "year": 2003, "title": "Movie 04",
            "imdb_link": _link(4), "Directed by": "Delta Director",
            "Box office": "$10-20 million", "Budget": "$12 million",
            "Release date": "2003", "Running time": "varies",
            "junk1": "x", "junk2": "y",
        },
        {  # list cells everywhere + unparseable money
            "url": "https://en.wikipedia.org/wiki/Movie_05",
            "year": 2004, "title": "Movie 05",
            "imdb_link": _link(5), "Directed by": "Epsilon Director",
            "Box office": ["$21.4 million", "(US)"],
            "Budget": "N/A",
            "Release date": ["January 21, 2004", "(US)"],
            "Running time": ["100 minutes"],
            "Produced by": "Producer Five",
        },
        {  # foreign currency → unparseable, Productioncompany variant
            "url": "https://en.wikipedia.org/wiki/Movie_06",
            "year": 2005, "title": "Movie 06",
            "imdb_link": _link(6), "Directed by": "Zeta Director",
            "Box office": "£3 million", "Budget": "¥1.1 billion",
            "Release date": "June 2005", "Running time": "90 minutes",
            "Productioncompany ": "Studio Six",
        },
    ]
    # 7..10: plain movies (keep the table dense so junk cols stay >90% null)
    for n in range(7, 11):
        movies.append({
            "url": f"https://en.wikipedia.org/wiki/Movie_{n:02d}",
            "year": 2005 + n, "title": f"Movie {n:02d}",
            "imdb_link": _link(n), "Directed by": f"Director {n}",
            "Box office": f"${n} million", "Budget": f"${n - 1} million",
            "Release date": f"January {n}, {2005 + n}",
            "Running time": f"{90 + n} minutes",
            "Japanese": f"映画{n}" if n == 7 else None,
            # keep the full 31-column projection alive through the
            # 90%-null pruner (each needs ≥2 non-null of 10 kept rows)
            "Starring": [f"Lead {n}", f"Support {n}"],
            "Country of origin": "United States",
            "Distributed by": f"Distributor {n}",
            "Cinematography": f"DP {n}",
            "Edited by": f"Editor {n}",
            "Based on": f"Novel {n}",
            "Theme music composer": f"Composer {n}",
            "Producer": f"Producer {n}",
            "Productioncompanies ": f"Studio {n}",
        })
    movies.append({  # 11: duplicate imdb_id of movie 1, later url
        "url": "https://en.wikipedia.org/wiki/Movie_01_(re-release)",
        "year": 2010, "title": "Movie 01 rerelease",
        "imdb_link": _link(1), "Directed by": "Alpha Director",
        "Box office": "$1 million", "Release date": "2010",
        "Running time": "100 minutes",
    })
    movies.append({  # 12: no director → filtered
        "url": "https://en.wikipedia.org/wiki/NoDirector",
        "year": 2010, "title": "No Director", "imdb_link": _link(90),
    })
    movies.append({  # 13: no imdb_link → filtered
        "url": "https://en.wikipedia.org/wiki/NoLink",
        "year": 2010, "title": "No Link", "Directed by": "Someone",
    })
    movies.append({  # 14: TV series → filtered
        "url": "https://en.wikipedia.org/wiki/Series",
        "year": 2010, "title": "Series", "imdb_link": _link(91),
        "Directed by": "Someone", "No. of episodes": 10,
    })
    clean = [{k: v for k, v in m.items() if v is not None} for m in movies]
    with open(path, "w") as f:
        json.dump(clean, f)
    return clean


KAGGLE_COLUMNS = [
    "adult", "belongs_to_collection", "budget", "genres", "id",
    "imdb_id", "original_language", "original_title", "overview",
    "popularity", "production_companies", "production_countries",
    "release_date", "revenue", "runtime", "spoken_languages", "status",
    "tagline", "title", "video", "vote_average", "vote_count",
]


def write_kaggle_csv(path: str) -> None:
    """Kaggle metadata rows joined to the wiki fixtures. Planted:

    - kaggle_id 101..110 ↔ imdb 1..10 (kaggle_id 111 has no wiki match)
    - movie 2: budget 0  → C7 fill from wiki ($200M)
    - movie 3: runtime 0 → C7 fill from wiki (104)
    - movie 5: revenue 0 → C7 fill from wiki box office (21.4M)
    - movie 4: revenue empty (NULL) → Q2: stays NULL, NOT filled
    - movie 9: adult=True → dropped; replaced by corrupt-adult row
    - movie 10: release 1960 + wiki release 1997-01-10 → P7 outlier?
      (wiki date is 2015 for movie 10 → not outlier; movie 8 is the
      planted outlier: kaggle release 1960-01-01, wiki January 8, 2013)
    """
    rows = []

    def row(n, **kw):
        base = {
            "adult": "False",
            "belongs_to_collection": "",
            "budget": str(10_000_000 + n),
            "genres": "[{'id': 18, 'name': 'Drama'}]",
            "id": str(100 + n),
            "imdb_id": _imdb(n),
            "original_language": "en",
            "original_title": f"Movie {n:02d}",
            "overview": f"Overview {n}",
            "popularity": str(round(1.5 * n, 2)),
            "production_companies": f"[{{'name': 'Studio {n}', 'id': {n}}}]",
            "production_countries": "[{'iso_3166_1': 'US', 'name': 'United States of America'}]",
            "release_date": f"{2000 + (n % 15)}-01-{n:02d}",
            "revenue": str(50_000_000 + n),
            "runtime": str(95 + n),
            "spoken_languages": "[{'iso_639_1': 'en', 'name': 'English'}]",
            "status": "Released",
            "tagline": f"Tagline {n}",
            "title": f"Movie {n:02d}",
            "video": "False",
            "vote_average": str(5.0 + n / 10),
            "vote_count": f"{100 * n}.0",
        }
        base.update(kw)
        return base

    for n in range(1, 11):
        if n == 2:
            rows.append(row(n, budget="0"))
        elif n == 3:
            rows.append(row(n, runtime="0"))
        elif n == 5:
            rows.append(row(n, revenue="0"))
        elif n == 4:
            rows.append(row(n, revenue=""))
        elif n == 8:
            rows.append(row(n, release_date="1960-01-01"))
        elif n == 9:
            rows.append(row(n, adult="True"))
        else:
            rows.append(row(n))
    rows.append(row(11))                       # no wiki match → inner-join drop
    rows.append(row(12, adult="corrupt-data"))  # corrupt adult row → dropped
    with open(path, "w", newline="") as f:
        w = csv.DictWriter(f, fieldnames=KAGGLE_COLUMNS)
        w.writeheader()
        w.writerows(rows)


def write_ratings_csv(path: str) -> None:
    """MovieLens-shaped ratings over kaggle ids 101..106.

    kaggle_id 101 gets ratings [5.0, 5.0, 3.5]; 102 gets [1.0];
    103..106 get one 4.0 each. Movies 107+ are unrated → zero-fill.
    """
    rows = [
        (1, 101, 5.0, 1260759131),
        (2, 101, 5.0, 1260759200),
        (3, 101, 3.5, 1260759300),
        (1, 102, 1.0, 1260759400),
    ] + [(u, 100 + m, 4.0, 1260760000 + m) for u, m in ((4, 3), (5, 4), (6, 5), (7, 6))]
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["userId", "movieId", "rating", "timestamp"])
        w.writerows(rows)


def write_all(dirpath: str) -> dict[str, str]:
    os.makedirs(dirpath, exist_ok=True)
    paths = {
        "wiki": os.path.join(dirpath, "wikipedia.movies.json"),
        "kaggle": os.path.join(dirpath, "movies_metadata.csv"),
        "ratings": os.path.join(dirpath, "ratings.csv"),
    }
    write_wiki_json(paths["wiki"])
    write_kaggle_csv(paths["kaggle"])
    write_ratings_csv(paths["ratings"])
    return paths
