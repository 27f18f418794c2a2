"""Stream-static enrichment join.

The canonical streaming-ingest pattern the windows/dedup/stateful
modules don't yet cover: every micro-batch of the event stream is
joined against a STATIC dimension (user/customer profile) so rows land
in the silver layer already enriched. Spark plans the static side once
and — for a bounded dimension — broadcasts it into every micro-batch:
no stream-side state, no watermark needed for an inner join, and the
100 TB/day firehose never shuffles on the join key.

Replayed over the finite events table with ``trigger(availableNow)``,
the emitted rows are EXACTLY the batch join's — which is what lets the
driver hash-verify real streaming execution against a plain SQL join
oracle (same replay discipline as ``streaming.dedup``).
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .windows import (
    read_event_stream,
    run_to_memory,
    scoped_shuffle_partitions,
)

_SINK_SEQ = itertools.count()


def enrich_stream(
    events: DataFrame,
    dim: DataFrame,
    on,
    how: str = "inner",
    broadcast_dim: bool = True,
) -> DataFrame:
    """Join a stream to a static dimension. ``broadcast_dim=True``
    asserts the dimension is bounded (profile tables are key-bounded
    by construction) so each micro-batch does a map-side hash join;
    pass False to let AQE decide per micro-batch."""
    d = F.broadcast(dim) if broadcast_dim else dim
    return events.join(d, on=on, how=how)


def run_enrich_over_events(
    spark: SparkSession,
    sf_dir: str,
) -> DataFrame:
    """Replay stream-static enrichment over the finite events table:
    stream events, inner-join the static customer dimension on
    ``user_id = c_custkey``, emit enriched rows (append mode — a plain
    stateless join needs no watermark and no state store).

    Returns (event_id, user_id, event_type, mktsegment, value) for
    every event whose user maps to a customer key.
    """
    from ..sources.readers import read_table

    # A plain stateless join: no watermark, so ts is not read.
    stream = read_event_stream(
        spark,
        os.path.join(sf_dir, "events.parquet"),
        schema=(
            "event_id bigint, user_id bigint, event_type string, value double"
        ),
    )

    dim = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("mktsegment"),
    )
    enriched = enrich_stream(stream, dim, on="user_id").select(
        "event_id", "user_id", "event_type", "mktsegment", "value"
    )

    sink = f"stream_enrich_events_{next(_SINK_SEQ)}"
    with scoped_shuffle_partitions(spark, 16):
        run_to_memory(enriched, sink, output_mode="append")
    return spark.table(sink)
