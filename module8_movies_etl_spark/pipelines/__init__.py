"""Composed pipelines (SURVEY.md §7 phase 3): the reference's E1
workload in one pass, with its two multiply-read stages written once
to scratch snapshots."""

from .movies_etl import (  # noqa: F401
    kaggle_transform,
    merge_movies,
    rating_histogram,
    run_pipeline,
    wiki_transform,
)
