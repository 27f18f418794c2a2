"""Filters & data-dependent pruning (SURVEY.md §2.2).

Most reference filters (P1-P7, P10-P11) are plain ``df.filter``
expressions — declared inline by callers so Catalyst pushes them into
the scan. The two operators that genuinely need engine code are here:

- P8  statistics-driven column pruning (two-phase, data-dependent)
- P9  deterministic keep-first dedup (pandas ``drop_duplicates`` parity)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Row, Window
from pyspark.sql import functions as F
from pyspark.sql.types import MapType


def null_stats(df: DataFrame) -> list[Column]:
    """P8 statistics of ``df`` as aggregate columns: the row count
    (``n``) and one null count per column (``c0``, ``c1``, … in schema
    order). ONE aggregate computes all of them in a single pass over
    the input (partial aggregation map-side, one row shuffled) — a
    separate ``df.count()`` would double the scan cost, which is 2×
    the whole query at 100 TB. The columns serve a ``select`` as well
    as an ``Observation`` on a write that runs anyway
    (``pipelines.movies_etl.wiki_transform``)."""
    return [
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.col(f"`{c}`").isNull().cast("long")).alias(f"c{i}")
            for i, c in enumerate(df.columns)
        ],
    ]


def kept_columns(
    columns: list[str], stats: dict[str, int] | Row, threshold: float = 0.9
) -> list[str]:
    """P8 keep rule: the ``columns`` with < ``threshold`` null fraction,
    from ``null_stats``' values by name (an ``Observation``'s dict or
    the aggregate's Row).

    The reference prunes 191 → 21 columns by comparing per-column null
    counts to ``0.9 * len(df)`` (reference ``challenge.py:110-111``).
    Data-dependent → cannot be a Catalyst rule (plan-time schema).
    """
    n = stats["n"]
    if n == 0:
        # reference parity: with len(df)==0 the comparison is
        # null_count < 0 — false for every column, so the reference
        # keeps NONE (an all-columns early return would silently
        # diverge the degenerate schema)
        return []
    return [c for i, c in enumerate(columns) if stats[f"c{i}"] < threshold * n]


def null_prune(df: DataFrame, threshold: float = 0.9) -> list[str]:
    """P8 phase one: the columns of ``df`` that ``kept_columns`` keeps,
    from one ``null_stats`` job."""
    return kept_columns(df.columns, df.select(*null_stats(df)).first(), threshold)


def prune_mostly_null_columns(df: DataFrame, threshold: float = 0.9) -> DataFrame:
    """P8 phase two: project to the kept columns."""
    kept = null_prune(df, threshold)
    return df.select(*[F.col(f"`{c}`") for c in kept])


def dedup_by_key(
    df: DataFrame, keys: list[str], order_by: list[str] | None = None
) -> DataFrame:
    """P9: duplicate elimination, first-occurrence-kept.

    pandas ``drop_duplicates(subset='imdb_id')`` keeps the FIRST row in
    file order (reference ``Data Cleaning.ipynb:3696``); Spark's
    ``dropDuplicates`` keeps an arbitrary row. For deterministic parity
    the engine ranks within each key by ``order_by`` (a stable tiebreak
    the caller supplies — e.g. a monotonically increasing load id) and
    keeps rank 1. With no ``order_by`` the DEFAULT tiebreak is the
    remaining columns in schema order — the kept row is then the
    lexicographically smallest per key, stable across runs and
    partitionings (``dropDuplicates``' arbitrary pick is not). Callers
    with non-orderable payload columns (maps) must supply ``order_by``.

    Scale: one hash shuffle on ``keys`` either way; the window variant
    sorts only within each key group.
    """
    if not order_by:
        order_by = [c for c in df.columns if c not in set(keys)]
        unorderable = [
            f.name
            for f in df.schema.fields
            if f.name in order_by and isinstance(f.dataType, MapType)
        ]
        if unorderable:
            raise ValueError(
                "dedup_by_key: default deterministic tiebreak orders by all "
                f"non-key columns, but {unorderable} are maps (not orderable). "
                "Pass order_by= with orderable columns."
            )
    if not order_by:
        # every column is a key: duplicates are identical rows, any
        # survivor is the same row — dropDuplicates is deterministic here
        return df.dropDuplicates(keys)
    w = Window.partitionBy(*keys).orderBy(*[F.col(c) for c in order_by])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
