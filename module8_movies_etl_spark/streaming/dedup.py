"""Streaming deduplication with bounded state.

``dropDuplicates`` on an unbounded stream keeps every key seen — state
grows forever. ``dropDuplicatesWithinWatermark`` bounds it: a key's
state is evicted once the event-time watermark passes its last-seen
timestamp plus the delay, so the state store holds only the keys of
the trailing window. The trade: a duplicate arriving AFTER its key was
evicted is emitted again — the standard at-least-once dedup contract
for infinite streams (exact global dedup over 100 TB of history is the
batch ``exact_dedup`` operator's job; this one serves the ingest path).
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

# Declared stream types of the events columns a dedup key can name.
_EVENT_TYPES = {
    "event_id": "bigint",
    "user_id": "bigint",
    "event_type": "string",
    "value": "double",
    "props": "string",
}


def dedup_stream(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    delay: str = "10 minutes",
) -> DataFrame:
    """First occurrence per key within the watermark horizon; state is
    evicted ``delay`` past each key's event time."""
    return (
        events.withWatermark(ts_col, delay)
        .dropDuplicatesWithinWatermark(keys)
        .select(*keys)
    )


def run_dedup_over_events(
    spark: SparkSession,
    sf_dir: str,
    keys: list[str] | None = None,
    delay: str = "240 hours",
) -> DataFrame:
    """Replay the streaming dedup over the finite events table with
    ``trigger(availableNow)`` and return the emitted key set.

    The default ``delay`` exceeds the table's event-time span, so no
    key is ever evicted mid-replay and no row is late — the emitted
    rows are then EXACTLY the distinct keys, which is what makes this
    real streaming execution (state store + watermark eviction logic
    engaged) hash-verifiable against a plain ``SELECT DISTINCT``
    oracle. Production callers pass a short delay and accept
    re-emission past the horizon.
    """
    keys = keys or ["user_id", "event_type"]
    schema = ", ".join(f"{k} {_EVENT_TYPES[k]}" for k in keys)
    stream = read_event_stream(
        spark,
        os.path.join(sf_dir, "events.parquet"),
        schema=f"{schema}, ts timestamp",
    )
    deduped = dedup_stream(stream, keys, delay=delay)
    # Stateful streams commit one state-store partition per shuffle
    # partition per micro-batch; a default-conf session (200) spends
    # more time on store commits than on data (same scoping as
    # streaming.stateful). The conf is read at query start — scope it.
    sink = f"stream_dedup_events_{next(_SINK_SEQ)}"
    with scoped_shuffle_partitions(spark, 16):
        run_to_memory(deduped, sink, output_mode="append")
    return spark.table(sink).select(*[F.col(k) for k in keys])
