"""SQL entry point — the engine's second query surface.

Everything in the catalog is DataFrame-built, but Spark's other
first-class surface is SQL over registered tables; a reference user
coming from SQL tooling gets the same Catalyst plans (identical
optimization, pushdown, AQE) either way. ``register_tables`` exposes
the driver's parquet tables as temp views; ``run_sql`` is sugar for
one-shot queries.

Views are session-scoped metadata — registering them costs no scan,
and every query against them plans exactly like the DataFrame
formulation (pinned by test_sql_api_matches_dataframe_plan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.readers import TPCH_TABLES, read_table


def register_tables(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TPCH_TABLES
) -> list[str]:
    """Register each parquet table as a temp view named after the
    table. Returns the registered names. Re-registering replaces the
    prior view (idempotent across sf_dirs). A missing table (e.g. no
    embeddings at some SFs) is skipped; one that is present but cannot
    be read raises."""
    out = []
    for t in tables:
        try:
            df = read_table(spark, sf_dir, t)
        except FileNotFoundError:
            continue
        df.createOrReplaceTempView(t)
        out.append(t)
    return out


def run_sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """Register the tables, run one ANSI-SQL query, return the lazy
    DataFrame (same Catalyst plan the DataFrame API would build)."""
    register_tables(spark, sf_dir)
    return spark.sql(query)
