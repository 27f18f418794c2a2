"""Every catalog query vs its DuckDB oracle at sf0.001 — the local
replica of the driver's correctness gate (CORRECTNESS_r{N}.json)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

from .oracle_check import compare, duckdb_con

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) > 0


def test_all_queries_have_docstrings_and_run(spark, sf_dir):
    for name, fn in QUERIES.items():
        assert fn.__doc__, f"{name} missing docstring"


def test_catalog_md_matches_registry():
    """CATALOG.md is generated: it equals what the generator renders
    from the live registry (``python tools/gen_catalog_md.py``)."""
    import os

    from tools.gen_catalog_md import ROOT, render

    with open(os.path.join(ROOT, "CATALOG.md")) as fh:
        assert fh.read() == render()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(spark, sf_dir, name):
    con = duckdb_con(sf_dir)
    df = QUERIES[name](spark, sf_dir)
    oracle = ORACLES[name]
    if name == "cosine_topk_ivf":
        # IVF centroids are trained from the data, so they're
        # SF-specific; regenerate the oracle for THIS sf_dir (the
        # registered one targets the driver's sf0.01 gate)
        from module8_movies_etl_spark.plans.benchmark_queries import (
            _cosine_topk_ivf_oracle,
        )

        oracle = _cosine_topk_ivf_oracle(sf_dir=sf_dir)
    if name == "ivf_recall_audit":
        # Embeds the IVF leg's oracle, whose centroids are trained
        # from the SF's own sample — regenerate for THIS sf_dir
        from module8_movies_etl_spark.plans.benchmark_queries import (
            _ivf_recall_oracle,
        )

        oracle = _ivf_recall_oracle(sf_dir=sf_dir)
    if name == "bpe_learn_merges":
        # Merges are learned from the SF's own word frequencies —
        # regenerate the replay for THIS sf_dir
        from module8_movies_etl_spark.plans.benchmark_queries import (
            _bpe_oracle,
        )

        oracle = _bpe_oracle(sf_dir=sf_dir, n_merges=8)
    if name == "bpe_compression_by_lang":
        from module8_movies_etl_spark.plans.benchmark_queries import (
            _bpe_compress_oracle,
        )

        oracle = _bpe_compress_oracle(sf_dir=sf_dir, n_merges=8)
    if name == "cosine_topk_pq":
        # PQ codebooks are likewise trained from the SF's own sample
        from module8_movies_etl_spark.plans.benchmark_queries import (
            _cosine_topk_pq_oracle,
        )

        oracle = _cosine_topk_pq_oracle(sf_dir=sf_dir)
    errors = compare(df, con, oracle, name)
    hard = [e for e in errors if "WARNING" not in e]
    assert not hard, "\n".join(errors)
    if errors:
        pytest.skip("; ".join(errors))  # fp-drift warnings surface as skips


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    assert df.count() >= 0
