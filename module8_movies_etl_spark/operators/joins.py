"""Joins with pandas-merge parity (SURVEY.md §2.3 J1-J2).

The reference uses exactly two joins:

- J1 inner equi-join with ``suffixes=['_wiki','_kaggle']``
  (reference ``challenge.py:225``)
- J2 left equi-join attaching a small aggregate (rating histogram)
  (reference ``challenge.py:299``)

pandas suffixes overlapping non-key columns automatically; Spark does
not, so ``join_with_suffixes`` pre-renames the overlap — this keeps
downstream code referring to ``title_wiki`` / ``title_kaggle`` exactly
as the reference does.

Scale posture: the engine never hints what Catalyst+AQE can decide,
except the one case AQE can't know statically — a side the caller
KNOWS stays small (an aggregate of bounded cardinality) may be
explicitly ``broadcast()`` so the 100 TB fact side never shuffles.
That assertion is the CALLER's to make (``bounded=True``); by default
``left_join_small`` size-checks the optimizer's estimate instead of
broadcasting blindly — a fact-keyed aggregate (row count ∝ data
volume) must NOT be force-broadcast, or the plan OOMs at 100× scale.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

logger = logging.getLogger(__name__)

# Explicit-broadcast ceiling for the size-checked path. Deliberately
# larger than spark.sql.autoBroadcastJoinThreshold's 10 MB default
# (the caller chose this operator because the side is *expected* to be
# small) but far below executor memory, so a mis-estimated side
# degrades to a shuffle join instead of an OOM.
BROADCAST_SIZE_CEILING = 64 << 20


def plan_size_bytes(df: DataFrame) -> int:
    """Optimizer size estimate (bytes) of a frame's optimized plan.

    Drives the broadcast decision without executing the plan: for
    scans this is file size scaled by column pruning; for aggregates
    Spark propagates the child estimate — conservative in exactly the
    right direction (a fact-keyed aggregate keeps its fact-sized
    estimate and is therefore never force-broadcast).
    """
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def join_with_suffixes(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | str,
    how: str = "inner",
    suffixes: tuple[str, str] = ("_x", "_y"),
) -> DataFrame:
    """J1: equi-join with pandas suffix semantics.

    Overlapping non-key columns get ``suffixes[0]`` / ``suffixes[1]``
    appended (pandas ``pd.merge`` behavior); key columns appear once.
    """
    keys = [on] if isinstance(on, str) else list(on)
    overlap = (set(left.columns) & set(right.columns)) - set(keys)
    lsuf, rsuf = suffixes
    for c in overlap:
        left = left.withColumnRenamed(c, c + lsuf)
        right = right.withColumnRenamed(c, c + rsuf)
    return left.join(right, on=keys, how=how)


def left_join_small(
    fact: DataFrame,
    small: DataFrame,
    on: list[str] | str | None = None,
    condition=None,
    fill_zero: list[str] | None = None,
    bounded: bool | None = None,
    broadcast_threshold: int = BROADCAST_SIZE_CEILING,
) -> DataFrame:
    """J2: left-join an expected-small side, then zero-fill the
    attached columns for non-matches (reference ``challenge.py:299-302``).

    Broadcast policy (the 100 TB-safe contract):

    - ``bounded=True``  — the caller ASSERTS the side's cardinality is
      bounded by a dimension key (e.g. a per-movieId histogram, ≈45 k
      rows regardless of ratings volume): broadcast unconditionally.
    - ``bounded=False`` — never hint; Catalyst + AQE pick the strategy
      from runtime sizes.
    - ``bounded=None`` (default) — size-check the optimizer's estimate
      and broadcast only under ``broadcast_threshold``. An aggregate
      keyed on a fact column (row count ∝ data volume, e.g. per-
      orderkey) inherits its child's fact-sized estimate and therefore
      degrades to a shuffle join at scale instead of OOMing the
      executors.
    """
    if bounded is None:
        est = plan_size_bytes(small)
        bounded = est <= broadcast_threshold
        # Surface the decision: without CBO an aggregate inherits its
        # child's (possibly fact-sized) estimate, so a genuinely
        # key-bounded side can silently lose the broadcast — the log
        # line makes the downgrade observable; callers that KNOW the
        # cardinality bound should pass bounded=True.
        logger.info(
            "left_join_small: size-checked policy %s the small side "
            "(estimate %d bytes, ceiling %d)",
            "broadcasts" if bounded else "does NOT broadcast",
            est,
            broadcast_threshold,
        )
    right = F.broadcast(small) if bounded else small
    joined = fact.join(right, on=on if on is not None else condition, how="left")
    if fill_zero:
        # coalesce per column, NOT na.fill: na.fill parses a dotted
        # column name ('rating_0.5' — exactly what the reference's
        # pivot produces) as a nested field path and silently skips
        # it, leaving NULLs where the C8 contract promises zeros
        joined = joined.select(
            *[
                F.coalesce(F.col(f"`{c}`"), F.lit(0)).alias(c)
                if c in fill_zero
                else F.col(f"`{c}`")
                for c in joined.columns
            ]
        )
    return joined


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    spread_col: str,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resilient big×big equi-join by key salting.

    When ONE join key holds a disproportionate share of the fact rows
    and the dim side is too large to broadcast, a plain shuffle join
    lands the hot key on a single reducer. Salting spreads it: the
    fact side appends ``_s = pmod(hash(spread_col, 13), salt)``
    (``spread_col`` is any per-row column — ideally unique — so hot-key
    rows scatter across salts; hashing rather than ``pmod(id, salt)``
    keeps any type and skewed id spacing uniform), and the dim side is
    replicated once per salt via an ``explode(sequence(...))`` —
    ``salt×`` dim rows buys ``salt×`` parallelism on the hot key.
    Each fact row matches exactly the one replica carrying its salt,
    so the result is row-for-row identical to the plain join for
    ``inner`` and ``left`` — the ONLY supported modes (validated): a
    right/full join would emit every unmatched dim row once per salt
    replica.

    This is the *static* form of what AQE's OptimizeSkewedJoin does at
    runtime (pinned by ``test_aqe_skew_join_splits_hot_key``): AQE
    splits oversized partitions after the map stage, but only for
    sort-merge joins and only per-partition — salting also rebalances
    the *aggregation* that typically follows, and works when the skew
    is known ahead of time (the 100 TB planned-pipeline case).

    MEASURED (BENCH_SKEW.json, sf1.0 hot-key fact, round 10):
    when the downstream aggregate is keyed ON the join key, its
    required hash distribution pins the join's output partitioning
    and AQE's skew split cannot fire at all (skew_split_fired=false)
    — salting wins 4.36 vs 4.65 s for an algebraic count+sum and
    6.49 vs 9.17 s for non-combinable top-k list state; AQE wins the
    join-only case (aggregate keyed elsewhere), 3.33 vs 5.62 s.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports how='inner'|'left', got {how!r}: "
            "the dim side is replicated per salt, so right/full joins "
            "would duplicate every unmatched dim row salt times"
        )
    sdim = dim.withColumn(
        "_s", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    ).withColumn("_s", F.col("_s").cast("int"))
    sfact = fact.withColumn(
        "_s", F.pmod(F.hash(F.col(spread_col), F.lit(13)), F.lit(salt)).cast("int")
    )
    return sfact.join(sdim, on=[on, "_s"], how=how).drop("_s")
