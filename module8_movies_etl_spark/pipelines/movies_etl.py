"""The reference pipeline (E1) as one lazy Spark DAG.

Re-expresses ``transform_and_load`` (reference ``challenge.py:38-334``)
with the engine's operators. Stage map (SURVEY.md §3):

1. wiki transform   — P1 filter → C9 consolidation → F1 id extract →
                      P9 dedup → P8 null-prune → F2-F11 parsing
2. kaggle transform — P5 filter → C2-C5 casts
3. rating histogram — A1 group count + V1 pivot + V2 rename
4. merge            — J1 inner join (pandas suffixes) → P7 outlier
                      drop → C7 conflict fills ×7 → P2 projection →
                      P4 rename → J2 broadcast left join → C8 fill

Quirk decisions (SURVEY.md §4.3): dedup IS applied (Q7, notebook
semantics); the P7 outlier filter runs BEFORE the C7 fills so it is
effective (Q3, notebook order); C7 fills on ``== 0`` — never on NULL
(Q2); the ratings timestamp stays raw unix seconds (Q1).

Everything below is a narrow transformation except: the A1/V1
histogram shuffle on ``movieId``, and the J1 shuffle join (wiki side
is small in the reference workload → broadcast if it fits). J2's
right side (the 45k-row histogram) is broadcast explicitly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import casts, cleaning, currency, dates, durations
from ..operators import filters, pivot

# C9: the 20 language-title keys folded into alt_titles
# (reference challenge.py:63-73)
ALT_TITLE_KEYS = [
    "Also known as", "Arabic", "Cantonese", "Chinese", "French",
    "Hangul", "Hebrew", "Hepburn", "Japanese", "Literally",
    "Mandarin", "McCune–Reischauer", "Original title", "Polish",
    "Revised Romanization", "Romanized", "Russian",
    "Simplified", "Traditional", "Yiddish",
]

# C9: raw key variants → canonical column (reference challenge.py:78-96).
# Order matters — and encodes the reference's OVERWRITE precedence:
# change_column_name(old, new) does movie[new] = movie.pop(old), so a
# variant OVERWRITES any pre-existing target value and sequential
# calls mean the LAST variant present wins. coalesce_first takes the
# FIRST non-null, so each list is the reference's call order REVERSED
# with the canonical target LAST (it survives only when no variant is
# present). 'Release date' additionally folds the chained renames
# Released→'Release Date'→'Release date' (challenge.py:90-91):
# Released beats a raw 'Release Date', which beats 'Original release'.
RENAME_CONSOLIDATION: dict[str, list[str]] = {
    "Writer(s)": ["Written by", "Story by", "Screenplay by",
                  "Screen story by", "Adaptation by", "Writer(s)"],
    "Country": ["Country of origin", "Country"],
    "Director": ["Directed by", "Director"],
    "Distributor": ["Distributed by", "Distributor"],
    "Editor(s)": ["Edited by", "Editor(s)"],
    "Running time": ["Length", "Running time"],
    "Release date": ["Released", "Release Date", "Original release",
                     "Release date"],
    "Composer(s)": ["Theme music composer", "Music by", "Composer(s)"],
    "Producer(s)": ["Producer", "Produced by", "Producer(s)"],
    "Production company(s)": ["Productioncompany ", "Productioncompanies ",
                              "Production company(s)"],
}

# P2: final column order (reference challenge.py:265-270) after
# P4 renames (challenge.py:273-288)
FINAL_COLUMNS = [
    "imdb_id", "kaggle_id", "title", "original_title", "tagline",
    "belongs_to_collection", "wikipedia_url", "imdb_link", "runtime",
    "budget", "revenue", "release_date", "popularity", "vote_average",
    "vote_count", "genres", "original_language", "overview",
    "spoken_languages", "country", "production_companies",
    "production_countries", "distributor", "producers", "director",
    "starring", "cinematography", "editors", "writers", "composers",
    "based_on",
]

# C7: (kaggle column, wiki column) conflict pairs, reference order
# (challenge.py:250-256)
CONFLICT_PAIRS = [
    ("title_kaggle", "title_wiki"),
    ("release_date_kaggle", "release_date_wiki"),
    ("original_language", "Language"),
    ("production_companies", "Production company(s)"),
    ("runtime", "running_time"),
    ("budget_kaggle", "budget_wiki"),
    ("revenue", "box_office"),
]


def _consolidated(df: DataFrame) -> DataFrame:
    """C9: fold alt-title keys into a map column and collapse raw-name
    variants onto canonical columns (reference ``clean_movie``,
    ``challenge.py:61-101``) — as plan-time projections, not a per-row
    rewriter."""
    out_cols: list[F.Column] = []
    consumed: set[str] = set()
    for target, variants in RENAME_CONSOLIDATION.items():
        out_cols.append(cleaning.coalesce_first(df, *variants).alias(target))
        consumed.update(v for v in variants if v in df.columns)
    consumed.update(k for k in ALT_TITLE_KEYS if k in df.columns)
    passthrough = [
        F.col(f"`{c}`") for c in df.columns
        if c not in consumed and c not in RENAME_CONSOLIDATION
    ]
    alt = cleaning.consolidate_alt_titles(df, ALT_TITLE_KEYS).alias("alt_titles")
    return df.select(*passthrough, *out_cols, alt)


def wiki_transform(wiki: DataFrame, null_prune_threshold: float = 0.9) -> DataFrame:
    """Stage 2 (reference ``challenge.py:52-201``): filter, consolidate,
    extract ids, dedup, prune, and parse the four messy columns."""
    # P1: has (Director | Directed by) AND imdb_link AND no episode count
    has_director = F.col("Director").isNotNull() if "Director" in wiki.columns else F.lit(False)
    if "Directed by" in wiki.columns:
        has_director = has_director | F.col("`Directed by`").isNotNull()
    filtered = wiki.filter(has_director & F.col("imdb_link").isNotNull())
    if "No. of episodes" in wiki.columns:
        filtered = filtered.filter(F.col("`No. of episodes`").isNull())

    movies = _consolidated(filtered)

    # F1: imdb_id; empty-match '' normalized to NULL (pandas extract = NaN)
    movies = movies.withColumn(
        "imdb_id", F.nullif(F.regexp_extract("imdb_link", r"(tt\d{7})", 1), F.lit(""))
    )
    # P9 (Q7: dedup kept, notebook semantics; first occurrence by url
    # as the stable file-order stand-in)
    movies = filters.dedup_by_key(movies, ["imdb_id"], order_by=["url"])
    # P8: 90%-null column pruning (two-phase, data-dependent)
    movies = filters.prune_mostly_null_columns(movies, null_prune_threshold)

    # Box office / Budget (F2-F7): list-join → range collapse →
    # citation strip → two-form extract → parse
    if "Box office" in movies.columns:
        box = cleaning.normalize_list_cell(movies, "Box office")
        money = currency.collapse_money_range(box)
        movies = movies.withColumn(
            "box_office", currency.parse_dollars(currency.extract_currency(money))
        ).drop("Box office")
    if "Budget" in movies.columns:
        bud = cleaning.normalize_list_cell(movies, "Budget")
        bud = currency.strip_citations(currency.collapse_money_range(bud))
        movies = movies.withColumn(
            "budget_wiki", currency.parse_dollars(currency.extract_currency(bud))
        ).drop("Budget")
    # Release date (F8-F9). Extraction materializes as its own column
    # before the parse ladder: the ladder references its input across
    # conditional branches, which defeats subexpression elimination —
    # fused, the 4-form alternation regex re-runs per branch
    # (measured 4.8× slower at sf0.1)
    if "Release date" in movies.columns:
        rel = cleaning.normalize_list_cell(movies, "Release date")
        movies = (
            movies.withColumn("_rel_text", dates.extract_date_text(rel))
            .withColumn(
                "release_date_wiki",
                dates.parse_multiformat_date(F.col("_rel_text")),
            )
            .drop("Release date", "_rel_text")
        )
    # Running time (F10-F11)
    if "Running time" in movies.columns:
        rt = cleaning.normalize_list_cell(movies, "Running time")
        movies = movies.withColumn(
            "running_time", durations.parse_running_time(rt)
        ).drop("Running time")
    return movies


def kaggle_transform(kaggle: DataFrame) -> DataFrame:
    """Stage 3 (reference ``challenge.py:204-214``): adult filter +
    typed casts. The reference's C2 strict casts (``errors='raise'``)
    become LENIENT try_casts here — a bad id/budget yields NULL and
    the row flows on (the production posture; a raise would kill a
    100 TB job on one bad cell). Callers who need the reference's
    raise semantics run ``casts.strict_cast_audit`` on the raw frame
    and gate on the audit column — this path deliberately does not,
    so a NULL kaggle_id silently misses the histogram join.

    Every numeric column is cast, so a frame read as strings gets the
    inferred read's schema and C7 fills (which skip non-numeric ones)."""
    doubles = ("popularity", "runtime", "revenue", "vote_average", "vote_count")
    out = kaggle.filter(F.col("adult") == "False").drop("adult")
    return (
        out.withColumn("video", casts.coerce_bool(F.col("video")))
        .withColumn("budget_kaggle", F.col("budget").try_cast("long"))
        .drop("budget")
        .withColumn("kaggle_id", F.col("id").try_cast("long"))
        .drop("id")
        .withColumns({c: F.col(c).try_cast("double") for c in doubles})
        .withColumn(
            "release_date_kaggle",
            F.try_to_timestamp(F.col("release_date"), F.lit("yyyy-MM-dd")).cast("date"),
        )
        .drop("release_date")
    )


def rating_histogram(ratings: DataFrame) -> DataFrame:
    """Stage 4 (reference ``challenge.py:293-296``): per-movie rating
    histogram. A1 + V1 fused into one conditional count per value of
    the known domain: one exchange on movieId, and V2's float-derived
    names (``rating_0.5``…) are plan-time stable. A movie with no rating
    of some value counts 0, as ``merge_movies``' C8 zero-fill makes it."""
    rating_values = [0.5, 1.0, 1.5, 2.0, 2.5, 3.0, 3.5, 4.0, 4.5, 5.0]
    return pivot.pivot_count_fixed(
        ratings, "movieId", "rating", values=rating_values, prefix="rating_"
    )


def merge_movies(
    wiki: DataFrame, kaggle: DataFrame, hist: DataFrame
) -> DataFrame:
    """Stage 5 (reference ``challenge.py:225-302``): join, resolve
    conflicts, project, rename, attach the rating histogram."""
    # J1: inner join on imdb_id with pandas suffix semantics — rename
    # overlapping non-key columns (title, budget, release_date get
    # explicit _wiki/_kaggle names upstream; the rest don't collide)
    wiki_j = (
        wiki.withColumnRenamed("title", "title_wiki")
        if "title" in wiki.columns
        else wiki
    )
    kaggle_j = kaggle.withColumnRenamed("title", "title_kaggle")
    merged = wiki_j.join(kaggle_j, "imdb_id", "inner")

    # P7 BEFORE C7 (Q3: notebook order makes the outlier drop effective)
    merged = merged.filter(
        ~(
            (F.col("release_date_wiki") > F.lit("1996-01-01"))
            & (F.col("release_date_kaggle") < F.lit("1965-01-01"))
        )
        | F.col("release_date_wiki").isNull()
        | F.col("release_date_kaggle").isNull()
    )

    # C7 ×7 (Q2: fill triggers on == 0, NULL survives)
    for keep, fallback in CONFLICT_PAIRS:
        if keep in merged.columns and fallback in merged.columns:
            merged = casts.fill_zero_with(merged, keep, fallback)

    # P2 + P4: project + snake_case rename (challenge.py:265-288)
    rename = {
        "id": "kaggle_id", "title_kaggle": "title", "url": "wikipedia_url",
        "budget_kaggle": "budget", "release_date_kaggle": "release_date",
        "Country": "country", "Distributor": "distributor",
        "Producer(s)": "producers", "Director": "director",
        "Starring": "starring", "Cinematography": "cinematography",
        "Editor(s)": "editors", "Writer(s)": "writers",
        "Composer(s)": "composers", "Based on": "based_on",
    }
    for old, new in rename.items():
        if old in merged.columns:
            merged = merged.withColumnRenamed(old, new)
    present = [c for c in FINAL_COLUMNS if c in merged.columns]
    movies_df = merged.select(*present)

    # J2 + C8: broadcast left join of the histogram, zero-fill unrated
    rating_cols = [c for c in hist.columns if c != "movieId"]
    joined = movies_df.join(
        F.broadcast(hist),
        movies_df.kaggle_id == hist.movieId,
        "left",
    ).drop("movieId")
    # C8 zero-fill — NOT via na.fill: the pivot names contain dots
    # ("rating_0.5") which na.fill parses as nested field paths
    return joined.withColumns(
        {c: F.coalesce(F.col(f"`{c}`"), F.lit(0)) for c in rating_cols}
    )


def run_pipeline(
    wiki: DataFrame, kaggle: DataFrame, ratings: DataFrame
) -> dict[str, DataFrame]:
    """E1 end-to-end: returns the three output tables the reference
    loads into Postgres (``challenge.py:312-322``) — movies,
    movies_ratings, and the raw ratings pass-through (Q1: timestamps
    stay unix seconds)."""
    wiki_t = wiki_transform(wiki)
    kaggle_t = kaggle_transform(kaggle)
    hist = rating_histogram(ratings)
    movies = merge_movies(wiki_t, kaggle_t, hist)
    movies_only = movies.select(
        *[c for c in movies.columns if not c.startswith("rating_")]
    )
    return {"movies": movies_only, "movies_ratings": movies, "ratings": ratings}
