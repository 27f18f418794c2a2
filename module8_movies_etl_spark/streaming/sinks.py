"""foreachBatch sink pattern: incremental latest-wins upsert into a
parquet state table (SURVEY.md §2.11 — the streaming SINK surface beside the
windows/stateful operators).

``writeStream.foreachBatch`` is Structured Streaming's escape hatch
for sinks Spark has no connector for — and the standard way to run a
MERGE/upsert per micro-batch. The pattern here maintains a
latest-row-per-key state table across micro-batches:

- each batch reduces to one candidate row per key (max (ts, id)
  struct — map-side combinable),
- the candidate set COMPACTS into the prior state: union + per-key
  max (ts, id) again — the same associative latest-wins fold, so
  state ∘ batch is order- and split-invariant by construction (a
  delta-always-wins CDC apply would be WRONG here: micro-batches of
  an unordered file replay are not a time-ordered change log, and a
  later batch can carry an older event), and
- the merged state lands in a NEW versioned directory per batch
  (read-state and write-state never overlap — self-overwrite of the
  directory being read is the classic foreachBatch corruption bug).

Because latest-wins by event time is associative and commutative over
batches, the FINAL state is independent of how availableNow splits
the replay into micro-batches — which is what makes the result
batch-verifiable: it must equal the batch query "latest event per
user" exactly ((ts, id) struct-max makes even exact-ts ties
deterministic).

On a real lake the same callback body targets a transactional MERGE
(Delta/Iceberg); the versioned-directory dance is the no-dependency
stand-in with the same read/write separation.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_STATE_SCHEMA = "user_id long, event_type string, ts_us long, event_id long"


def run_upsert_foreachbatch(
    spark: SparkSession,
    sf_dir: str,
) -> DataFrame:
    """Replay the finite events table through the foreachBatch upsert
    sink (multiple micro-batches via ``maxFilesPerTrigger``) and
    return the final per-user state table."""
    from ..sources.readers import read_table
    from ..sources.scratch import mkscratch

    scratch = mkscratch("fb_upsert_stream_")
    state_root = mkscratch("fb_upsert_state_")
    # 4 input files → availableNow processes them as several
    # micro-batches (maxFilesPerTrigger=1), exercising the incremental
    # merge path rather than a single-batch degenerate run
    read_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_id",
    ).repartition(4).write.mode("overwrite").parquet(scratch)

    stream = spark.readStream.schema(_STATE_SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).parquet(scratch)

    last_dir: list[str | None] = [None]

    def _latest_per_user(df: DataFrame) -> DataFrame:
        return (
            df.groupBy("user_id")
            .agg(
                F.max(F.struct("ts_us", "event_id", "event_type")).alias("_m")
            )
            .select(
                "user_id",
                F.col("_m.event_type").alias("event_type"),
                F.col("_m.ts_us").alias("ts_us"),
                F.col("_m.event_id").alias("event_id"),
            )
        )

    def upsert(batch: DataFrame, batch_id: int) -> None:
        sp = batch.sparkSession
        delta = _latest_per_user(batch)
        if last_dir[0] is None:
            merged = delta
        else:
            base = sp.read.schema(_STATE_SCHEMA).parquet(last_dir[0])
            merged = _latest_per_user(base.unionByName(delta))
        out = f"{state_root}/v{batch_id}"
        merged.write.mode("overwrite").parquet(out)
        last_dir[0] = out

    q = (
        stream.writeStream.foreachBatch(upsert)
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{state_root}/_chk")
        .start()
    )
    q.awaitTermination()
    # the input copy is dead; the state root stays on disk (registered
    # above — reaped at interpreter exit) so the returned DataFrame
    # can read the final version lazily like any table
    shutil.rmtree(scratch, ignore_errors=True)
    return spark.read.schema(_STATE_SCHEMA).parquet(last_dir[0])
