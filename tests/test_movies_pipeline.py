"""End-to-end pipeline tests on movie-shaped fixtures (SURVEY.md §5):
the notebook's own QA probes (row counts, parse golden values, quirk
semantics Q1-Q9) as assertions."""

from __future__ import annotations

import pytest

from module8_movies_etl_spark.pipelines import movies_etl
from module8_movies_etl_spark.sources import read_csv, read_json_records

from . import fixtures


@pytest.fixture(scope="module")
def inputs(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("movies_fixtures")
    paths = fixtures.write_all(str(d))
    wiki = read_json_records(spark, paths["wiki"])
    kaggle = read_csv(spark, paths["kaggle"])
    ratings = read_csv(spark, paths["ratings"])
    return wiki, kaggle, ratings


@pytest.fixture(scope="module")
def wiki_t(inputs):
    df = movies_etl.wiki_transform(inputs[0]).cache()
    yield df
    # Unpersist so the storage-leak regression test (test_scale_fixes.py)
    # sees no foreign cached RDDs in full-suite order.
    df.unpersist()


@pytest.fixture(scope="module")
def outputs(inputs):
    wiki, kaggle, ratings = inputs
    out = movies_etl.run_pipeline(wiki, kaggle, ratings)
    out["movies_ratings"] = out["movies_ratings"].cache()
    yield out
    out["movies_ratings"].unpersist()


def _by_imdb(df, n):
    rows = df.filter(df.imdb_id == f"tt{n:07d}").collect()
    assert len(rows) == 1, f"expected 1 row for imdb {n}, got {len(rows)}"
    return rows[0]


class TestWikiTransform:
    def test_filter_and_dedup_row_count(self, wiki_t):
        # 14 raw − 3 filtered (P1) − 1 duplicate (P9) = 10
        assert wiki_t.count() == 10

    def test_dedup_keeps_first_by_url(self, wiki_t):
        row = _by_imdb(wiki_t, 1)
        assert row.url.endswith("Movie_01")  # not the (re-release) url

    def test_junk_columns_pruned(self, wiki_t):
        assert "junk1" not in wiki_t.columns
        assert "junk2" not in wiki_t.columns
        # and the episode column never survives the P1 filter's source
        assert "No. of episodes" not in wiki_t.columns

    def test_money_parsing_golden(self, wiki_t):
        assert _by_imdb(wiki_t, 1).box_office == pytest.approx(21.4e6)
        assert _by_imdb(wiki_t, 2).box_office == pytest.approx(2.7e9)
        assert _by_imdb(wiki_t, 3).box_office == pytest.approx(57718089.0)
        # range collapses to the upper bound
        assert _by_imdb(wiki_t, 4).box_office == pytest.approx(20e6)
        # list cell joined then parsed
        assert _by_imdb(wiki_t, 5).box_office == pytest.approx(21.4e6)
        # foreign currency is unparseable → NULL (reference: NaN)
        assert _by_imdb(wiki_t, 6).box_office is None

    def test_budget_citation_strip(self, wiki_t):
        # "$4.2[1] million" → 4.2e6
        assert _by_imdb(wiki_t, 1).budget_wiki == pytest.approx(4.2e6)
        assert _by_imdb(wiki_t, 5).budget_wiki is None  # "N/A"

    def test_date_four_forms(self, wiki_t):
        assert str(_by_imdb(wiki_t, 1).release_date_wiki) == "2000-01-21"
        assert str(_by_imdb(wiki_t, 2).release_date_wiki) == "2001-03-15"
        assert str(_by_imdb(wiki_t, 3).release_date_wiki) == "2002-03-01"
        assert str(_by_imdb(wiki_t, 4).release_date_wiki) == "2003-01-01"
        # list cell
        assert str(_by_imdb(wiki_t, 5).release_date_wiki) == "2004-01-21"

    def test_running_time_forms(self, wiki_t):
        assert _by_imdb(wiki_t, 1).running_time == pytest.approx(100.0)
        assert _by_imdb(wiki_t, 2).running_time == pytest.approx(150.0)  # 2h30
        assert _by_imdb(wiki_t, 3).running_time == pytest.approx(104.0)
        assert _by_imdb(wiki_t, 4).running_time == pytest.approx(0.0)  # varies

    def test_rename_consolidation(self, wiki_t):
        # Written by / Screenplay by / Music by / Produced by variants
        assert _by_imdb(wiki_t, 1)["Writer(s)"] == "Writer One"
        assert _by_imdb(wiki_t, 2)["Writer(s)"] == "Writer Two"
        assert _by_imdb(wiki_t, 3)["Composer(s)"] == "Composer Three"
        assert _by_imdb(wiki_t, 5)["Producer(s)"] == "Producer Five"
        # trailing-space variant
        assert _by_imdb(wiki_t, 6)["Production company(s)"] == "Studio Six"

    def test_alt_titles_map(self, wiki_t):
        assert _by_imdb(wiki_t, 1).alt_titles["French"] == "Film Un"


class TestMergedOutput:
    def test_row_count(self, outputs):
        # 10 wiki × 10 kaggle (9 clean + outlier) on imdb_id:
        # kaggle dropped movie 9 (adult) and row 12 (corrupt adult);
        # kaggle 11 has no wiki match; movie 8 is the P7 outlier.
        # → matched 1..8,10 minus outlier 8 = 8 rows
        assert outputs["movies_ratings"].count() == 8

    def test_outlier_dropped_notebook_order(self, outputs):
        # Q3: wiki 2013 vs kaggle 1960 → dropped (P7 runs before C7)
        assert outputs["movies_ratings"].filter("imdb_id = 'tt0000008'").count() == 0

    def test_adult_filtered(self, outputs):
        assert outputs["movies_ratings"].filter("imdb_id = 'tt0000009'").count() == 0

    def test_final_schema(self, outputs):
        movies = outputs["movies"]
        assert movies.columns == movies_etl.FINAL_COLUMNS
        ratings_cols = [
            c for c in outputs["movies_ratings"].columns if c.startswith("rating_")
        ]
        assert len(ratings_cols) == 10  # rating_0.5 … rating_5.0

    def test_conflict_fill_on_zero(self, outputs):
        df = outputs["movies_ratings"]
        # movie 2: kaggle budget 0 → wiki $200M
        assert _by_imdb(df, 2).budget == pytest.approx(200e6)
        # movie 3: kaggle runtime 0 → wiki 104
        assert _by_imdb(df, 3).runtime == pytest.approx(104.0)
        # movie 5: kaggle revenue 0 → wiki box office 21.4M
        assert _by_imdb(df, 5).revenue == pytest.approx(21.4e6)
        # non-zero kaggle values kept (wiki NOT preferred)
        assert _by_imdb(df, 1).budget == pytest.approx(10_000_001)

    def test_null_not_filled_quirk_q2(self, outputs):
        # movie 4: kaggle revenue NULL (not 0) → stays NULL even though
        # wiki box office ($20M) exists — the reference's == 0 check
        assert _by_imdb(outputs["movies_ratings"], 4).revenue is None

    def test_rating_histogram_and_zero_fill(self, outputs):
        df = outputs["movies_ratings"]
        m1 = _by_imdb(df, 1)  # kaggle_id 101: [5.0, 5.0, 3.5]
        assert m1["rating_5.0"] == 2
        assert m1["rating_3.5"] == 1
        assert m1["rating_0.5"] == 0  # C8 zero-fill
        m7 = _by_imdb(df, 7)  # unrated movie → all zeros
        assert m7["rating_4.0"] == 0

    def test_ratings_passthrough_q1(self, outputs):
        # Q1: ratings keep raw unix seconds (int), no timestamp column
        dtypes = dict(outputs["ratings"].dtypes)
        assert dtypes["timestamp"] in ("int", "bigint")

    def test_string_read_kaggle_matches_inferred(self, spark, inputs, outputs, tmp_path):
        # the Kaggle CSV read as strings (then cast, as FIXTURES.md
        # describes) fills C7 and types its output as the inferred read
        path = str(tmp_path / "movies_metadata.csv")
        fixtures.write_kaggle_csv(path)
        kaggle = read_csv(spark, path, infer_schema=False)
        df = movies_etl.run_pipeline(inputs[0], kaggle, inputs[2])["movies_ratings"]
        assert _by_imdb(df, 2).budget == pytest.approx(200e6)
        assert _by_imdb(df, 3).runtime == pytest.approx(104.0)
        assert _by_imdb(df, 5).revenue == pytest.approx(21.4e6)
        assert _by_imdb(df, 4).revenue is None  # Q2
        assert _by_imdb(df, 5).vote_count == pytest.approx(500.0)
        assert dict(df.dtypes)["vote_count"] == "double"
        assert df.schema == outputs["movies_ratings"].schema
