"""Bucketed tables — co-located joins and aggregations without a
shuffle (SURVEY.md §2.1 scale posture; beyond the reference surface).

The reference's only join is a one-shot pandas merge
(``challenge.py:225``). At 100 TB the same workload shape — fact table
repeatedly joined/aggregated on one key — is dominated by the shuffle
of the fact side. Bucketing is Spark's answer: write the table
hash-partitioned (and optionally sorted) by the join key into a fixed
number of buckets; any subsequent equi-join or group-by on that key
between tables with compatible bucketing reads co-located partitions
and skips the exchange entirely (``.explain`` shows SortMergeJoin with
NO Exchange under either side).

Rules of thumb encoded here:

- bucket count is a real contract: both sides must have the SAME
  number of buckets (or a whole multiple) for the join to avoid the
  shuffle; pick it for the TARGET cluster's task size (100 TB /
  n_buckets ≈ a few hundred MB per bucket), not the test corpus.
- ``sortBy`` the bucket key too: sorted buckets turn the merge phase
  into a streaming merge (no per-task sort — ``.explain`` drops the
  Sort under the join when bucket-sorted files match the join key).
- bucket pruning: an equality filter on the bucket key scans 1/n of
  the files (Spark prunes bucket files at planning time).

Bucketed writes go through ``saveAsTable`` (the bucketing metadata
lives in the catalog, not the parquet files); ``option("path", ...)``
keeps the data external so tests can target scratch dirs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as a bucketed (and bucket-sorted) catalog table."""
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    writer = writer.sortBy(*(sort_cols or bucket_cols))
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)

