"""Custom stateful streaming operator: gap-based sessionization via
``applyInPandasWithState``.

The windowed slices in ``streaming.windows`` cover what Spark's built-in
streaming aggregates express (tumbling / sliding / session_window). This
module is the engine's CUSTOM-STATE extension point — the pattern to
follow when an operator needs per-key state Spark's aggregates can't
hold (running ML features, CEP-style pattern matches, custom eviction):

- state lives per group key in the state store (RocksDB/HDFS-backed on
  a cluster), NOT on the driver — scales with executors;
- each micro-batch hands the operator (key, new rows, state) and the
  operator decides what to EMIT (append mode) and what to RETAIN;
- event-time timeouts + watermark bound state size: a key quiet past
  its timeout gets a final callback to flush and clear.

Spark 4's successor API (``transformWithStateInPandas`` /
``StatefulProcessor``) is ENVIRONMENT-GATED here: its state-server
client imports ``pyspark.sql.streaming.proto.StateMessage_pb2``,
which requires ``google.protobuf`` — not installed in this container
(verified round 8: the TWS driver worker crashes in pre-init on that
import). The ``applyInPandasWithState`` operators in this module
carry the same arbitrary-per-key-state semantics on the stable API;
porting them to a StatefulProcessor is mechanical once protobuf is
available.

Session semantics match the batch sessionizer exactly
(``plans.benchmark_queries.sessionize_events``): events of a user
sorted by time; a gap strictly greater than ``gap_s`` seconds starts a
new session.

Emission contract (deterministic, batch-verifiable): a session is
emitted when it is CLOSED — i.e. a later event of the same user lies
more than ``gap_s`` past its end (closed-by-data), or the event-time
watermark passes its timeout (closed-by-timeout; watermarks are
MILLISECOND-precision). Open sessions remain in state. Replaying a
finite table through ``trigger(availableNow)`` therefore emits exactly
the batch sessions whose gap horizon ``(end + gap) * 1000 ms`` lies
strictly before the final watermark — the `sessionize_stateful`
oracle pins this.

Exactness caveat (documented, inherent to streaming): parity with the
batch sessionizer assumes a user's events arrive in event-time order
ACROSS micro-batches (within a batch, order is irrelevant — the
operator sorts). Out-of-order arrivals beyond that are governed by the
watermark, as in any Structured Streaming job.

Reference seed: the reference has no streaming at all (SURVEY.md §2.11);
this is a beyond-reference capability required by the north star.
"""

from __future__ import annotations

import os
from typing import Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .windows import (
    read_event_stream,
    run_to_memory,
    scoped_shuffle_partitions,
)

SESSION_OUT_SCHEMA = (
    "user_id bigint, session_start_s bigint, session_end_s bigint, n_events bigint"
)
_STATE_SCHEMA = "start_s bigint, end_s bigint, n bigint"


def _fold_epochs(
    epochs: Iterable[int],
    open_state: Tuple[int, int, int] | None,
    gap_s: int,
) -> tuple[list[tuple[int, int, int]], tuple[int, int, int] | None]:
    """Fold sorted epoch-seconds into (closed_sessions, open_session).

    Pure function so the session math is unit-testable without a
    streaming harness.
    """
    closed: list[tuple[int, int, int]] = []
    cur = open_state
    for t in epochs:
        if cur is None:
            cur = (t, t, 1)
        elif t - cur[1] > gap_s:
            closed.append(cur)
            cur = (t, t, 1)
        else:
            cur = (cur[0], t, cur[2] + 1)
    return closed, cur


def sessionize_stateful(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_s: int = 1800,
    watermark: str = "0 seconds",
) -> DataFrame:
    """Streaming gap-sessionizer over a streaming DataFrame.

    Returns an append-mode streaming DataFrame with schema
    ``SESSION_OUT_SCHEMA``. See module docstring for emission contract.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        uid = key[0]
        if state.hasTimedOut:
            s0, e0, n0 = state.get
            state.remove()
            yield pd.DataFrame(
                [(uid, s0, e0, n0)],
                columns=["user_id", "session_start_s", "session_end_s", "n_events"],
            )
            return
        epochs: list[int] = []
        for pdf in pdfs:
            epochs.extend(int(v) for v in pdf["_epoch_s"])
        epochs.sort()
        open_state = tuple(state.get) if state.exists else None
        closed, cur = _fold_epochs(epochs, open_state, gap_s)
        # cur is non-None here: hasTimedOut=False means new rows exist
        # (or state existed), and _fold_epochs only returns None for
        # empty input with no prior state.
        state.update(cur)
        # Event-time timeout: flush the open session once the watermark
        # passes its gap horizon. setTimeoutTimestamp takes millis.
        state.setTimeoutTimestamp((cur[1] + gap_s) * 1000)
        yield pd.DataFrame(
            [(uid, s0, e0, n0) for (s0, e0, n0) in closed],
            columns=["user_id", "session_start_s", "session_end_s", "n_events"],
        )

    prepared = events.withWatermark(ts_col, watermark).withColumn(
        "_epoch_s", F.unix_timestamp(F.col(ts_col))
    )
    return prepared.groupBy(user_col).applyInPandasWithState(
        fn,
        outputStructType=SESSION_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


_SINK_SEQ = __import__("itertools").count()



def _replay_events_stream(spark, sf_dir, schema, transform, query_name):
    """Shared finite-replay mechanics for every custom stateful
    operator runner (sessionize / KMV / CMS): stream the events table
    where it lives with the declared ``schema``, run ``transform``'s
    stateful plan to completion with availableNow into a memory sink,
    and return the materialized table.

    Why each piece is the way it is (fixes here apply to ALL
    runners — that is the point of sharing them):

    - Declared ``schema``: it names only the columns the operator
      reads, and ``ts timestamp`` reads the table's NTZ footer as
      TIMESTAMP under any session — a vanilla session
      (inferTimestampNTZ on) would infer TIMESTAMP_NTZ, which
      watermarks reject.
    - No per-trigger file cap, so availableNow replays the table in
      ONE data micro-batch: with a 0-second watermark, a multi-batch
      replay would drop any event that sorts behind an earlier
      batch's maximum as late data — single-batch replay is what
      makes the finite-input result equal the batch twin (the
      production posture for live data is a real watermark delay,
      not 0 seconds).
    - ``scoped_shuffle_partitions(16)``: a stateful stream
      materializes one state-store partition per shuffle partition
      PER micro-batch; under a default-conf session (200) that is
      400 store commits for this replay — measured 6x slower than
      the data warrants. The conf is read at query start, so it is
      scoped to the stream and restored after.
    """
    stream = read_event_stream(
        spark, os.path.join(sf_dir, "events.parquet"), schema=schema
    )
    with scoped_shuffle_partitions(spark, 16):
        run_to_memory(transform(stream), query_name, output_mode="append")
    return spark.table(query_name)


def run_sessionize_over_events(
    spark: SparkSession,
    sf_dir: str,
    gap_s: int = 1800,
    query_name: str | None = None,
) -> DataFrame:
    """Replay the finite ``events`` table through the stateful
    sessionizer with ``trigger(availableNow=True)`` into a memory sink;
    return the materialized result as a batch DataFrame.

    This is real Structured Streaming execution — state store,
    watermark, micro-batches — driven to completion over fixed input,
    which is what makes the operator oracle-checkable. The replay
    mechanics (in-place stream, declared schema, single micro-batch,
    scoped shuffle partitions) and their rationale live in
    ``_replay_events_stream``, shared with the KMV and CMS runners.
    """
    if query_name is None:
        query_name = f"sessionize_stateful_sink_{next(_SINK_SEQ)}"
    return _replay_events_stream(
        spark, sf_dir,
        "user_id bigint, ts timestamp",
        lambda stream: sessionize_stateful(stream, gap_s=gap_s),
        query_name,
    )


KMV_OUT_SCHEMA = "event_type string, n_exactish bigint, est_raw double"
_KMV_STATE_SCHEMA = "mins array<double>"


def _merge_kmins(
    mins: list[float], new_hashes: Iterable[float], k: int
) -> list[float]:
    """Merge new hashes into a sorted k-minimum set — the KMV state
    transition, pure for unit tests."""
    merged = sorted(set(mins) | set(new_hashes))
    return merged[:k]


def kmv_stateful(
    events: DataFrame,
    key_col: str = "event_type",
    value_col: str = "user_id",
    k: int = 64,
    watermark: str = "0 seconds",
) -> DataFrame:
    """Streaming KMV distinct-count sketch as a CUSTOM stateful
    operator: per key, the state is the set of k smallest md5-U(0,1)
    hashes seen so far — constant-size, mergeable, exactly the batch
    sketch's state (``aggregates.kmv_distinct_sketch``), maintained
    incrementally instead of recomputed.

    Because the hash arithmetic is identical (hashlib md5 here, Spark
    ``conv(md5)`` in batch — both land on the same correctly-rounded
    double n/2^60), a finite replay's final emission EQUALS the batch
    sketch row for row: the streaming operator shares the batch
    query's full value oracle, the strongest correctness statement a
    custom streaming operator can make.

    Emission: nothing per batch; each key flushes its final
    (n_exactish, estimate) when the event-time watermark passes its
    timeout in the terminal no-data micro-batch of an
    ``availableNow`` replay (for a live stream this emits a
    checkpointed snapshot per quiet period).
    """
    import hashlib

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        kt = key[0]
        if state.hasTimedOut:
            (mins,) = state.get
            state.remove()
            n = len(mins)
            est = float(n) if n < k else (k - 1) / mins[k - 1]
            yield pd.DataFrame(
                [(kt, n, est)],
                columns=["event_type", "n_exactish", "est_raw"],
            )
            return
        hashes = []
        for pdf in pdfs:
            for v in pdf["_v"]:
                if v is None:
                    continue
                h = hashlib.md5(str(v).encode()).hexdigest()[:15]
                hashes.append(int(h, 16) / (1 << 60))
        mins = list(state.get[0]) if state.exists else []
        state.update((_merge_kmins(mins, hashes, k),))
        # flush once the watermark moves past this batch (terminal
        # no-data micro-batch of an availableNow replay)
        state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1)
        yield pd.DataFrame(
            [], columns=["event_type", "n_exactish", "est_raw"]
        )

    prepared = events.withWatermark("ts", watermark).select(
        F.col(key_col).alias("_k"),
        F.col("ts"),
        F.col(value_col).cast("string").alias("_v"),
    )
    return prepared.groupBy("_k").applyInPandasWithState(
        fn,
        outputStructType=KMV_OUT_SCHEMA,
        stateStructType=_KMV_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def run_kmv_over_events(
    spark: SparkSession,
    sf_dir: str,
    k: int = 64,
    query_name: str | None = None,
) -> DataFrame:
    """Replay the finite events table through the streaming KMV sketch
    (same in-place stream + availableNow + memory-sink mechanics as
    ``run_sessionize_over_events``) and return the final per-key
    estimates, rounded like the batch query so the BATCH oracle
    applies verbatim."""
    if query_name is None:
        query_name = f"kmv_stateful_sink_{next(_SINK_SEQ)}"
    result = _replay_events_stream(
        spark, sf_dir,
        "event_type string, ts timestamp, user_id bigint",
        lambda stream: kmv_stateful(stream, k=k),
        query_name,
    )
    return result.select(
        "event_type",
        "n_exactish",
        F.round("est_raw", 2).alias("kmv_estimate"),
    )


CMS_OUT_SCHEMA = "event_type string, grid_row int, bucket int, cnt bigint"
_CMS_STATE_SCHEMA = "grid array<long>"


def _cms_bucket_py(v: str, r: int, width: int) -> int:
    """Python replica of ``sketches._bucket``: top-60-bit md5 of the
    '#row'-salted item, mod width — must stay bit-identical to the
    batch expression so the streaming grid equals the batch grid."""
    import hashlib

    return int(hashlib.md5(f"{v}#{r}".encode()).hexdigest()[:15], 16) % width


def cms_stateful(
    events: DataFrame,
    key_col: str = "event_type",
    item_col: str = "user_id",
    depth: int = 4,
    width: int = 256,
    watermark: str = "0 seconds",
) -> DataFrame:
    """Streaming count-min sketch as a CUSTOM stateful operator: per
    key, the state is the depth×width counter grid (a flat
    ``array<long>`` — constant-size, mergeable by addition), the
    incremental twin of ``sketches.cms_build``. The THIRD custom
    streaming sketch beside the KMV distinct state and the dedup
    state — counters (frequency) where KMV is distinct-count.

    The bucket arithmetic is the batch operator's md5 route verbatim
    (``_cms_bucket_py`` vs ``sketches._bucket``), so a finite
    replay's final grid emission EQUALS the batch grid cell for cell
    and the streaming operator shares a batch-SQL value oracle — the
    same "strongest statement" contract as ``kmv_stateful``.

    Per micro-batch the Python work is per-DISTINCT-item (one
    value_counts then depth md5s per distinct item), not per row;
    emission flushes each key's non-zero cells when the watermark
    passes its timeout in the terminal no-data batch.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    n_cells = depth * width

    def fn(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        kt = key[0]
        if state.hasTimedOut:
            (grid,) = state.get
            state.remove()
            rows = [
                (kt, i // width, i % width, int(c))
                for i, c in enumerate(grid)
                if c
            ]
            yield pd.DataFrame(
                rows, columns=["event_type", "grid_row", "bucket", "cnt"]
            )
            return
        grid = list(state.get[0]) if state.exists else [0] * n_cells
        for pdf in pdfs:
            for v, n in pdf["_v"].dropna().value_counts().items():
                for r in range(depth):
                    grid[r * width + _cms_bucket_py(v, r, width)] += int(n)
        state.update((grid,))
        state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1)
        yield pd.DataFrame(
            [], columns=["event_type", "grid_row", "bucket", "cnt"]
        )

    prepared = events.withWatermark("ts", watermark).select(
        F.col(key_col).alias("_k"),
        F.col("ts"),
        F.col(item_col).cast("string").alias("_v"),
    )
    return prepared.groupBy("_k").applyInPandasWithState(
        fn,
        outputStructType=CMS_OUT_SCHEMA,
        stateStructType=_CMS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def run_cms_over_events(
    spark: SparkSession,
    sf_dir: str,
    depth: int = 4,
    width: int = 256,
    query_name: str | None = None,
) -> DataFrame:
    """Replay the finite events table through the streaming CMS
    (in-place stream + availableNow + memory-sink mechanics shared
    with the KMV runner) and return each event type's final non-zero
    grid cells."""
    if query_name is None:
        query_name = f"cms_stateful_sink_{next(_SINK_SEQ)}"
    return _replay_events_stream(
        spark, sf_dir,
        "event_type string, ts timestamp, user_id bigint",
        lambda stream: cms_stateful(stream, depth=depth, width=width),
        query_name,
    )


def run_kmv_multibatch_over_events(
    spark: SparkSession,
    sf_dir: str,
    k: int = 64,
    n_batches: int = 6,
    query_name: str | None = None,
) -> DataFrame:
    """Replay the events table through the streaming KMV sketch in
    ``n_batches`` REAL micro-batches — the state-evolution proof the
    single-batch replay can't give: per-key state is loaded from the
    store, merged with a batch's hashes, and committed back
    ``n_batches`` times, and the final emission must STILL equal the
    batch sketch (KMV merge is a set-union + k-min — associative,
    commutative, so incremental maintenance provably loses nothing).

    Mechanics: events are split into ``n_batches`` contiguous
    EVENT-TIME ranges written as one parquet file each, named in
    time order (``b00.parquet``…), and streamed with
    ``maxFilesPerTrigger=1``. Time-ordered batches are what make the
    0-second watermark safe: the watermark after batch i is batch
    i's max event time, and batch i+1 starts strictly later (day
    boundaries), so no row is ever late-dropped. Each key must
    appear in every batch (true for the 5 event types over any
    day range at the catalog's scales) — a silent batch would fire
    the key's event-time timeout mid-stream; the hash-verification
    against the batch oracle would catch it.

    One bounded driver fetch (min/max day — a 1-row boundary
    aggregate) sizes the ranges.
    """
    import glob
    import shutil

    from ..sources.readers import read_table
    from ..sources.scratch import mkscratch

    if query_name is None:
        query_name = f"kmv_multibatch_sink_{next(_SINK_SEQ)}"
    base = read_table(spark, sf_dir, "events").select(
        "event_type",
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        F.unix_date(F.to_date(F.col("ts"))).alias("_d"),
    )
    lo, hi = base.agg(F.min("_d"), F.max("_d")).collect()[0]
    n_days = int(hi) - int(lo) + 1
    n_batches = max(1, min(n_batches, n_days))
    per = -(-n_days // n_batches)  # ceil
    scratch = mkscratch("kmv_multibatch_")
    tmp = mkscratch("kmv_multibatch_tmp_")
    try:
        # ONE scan writes every range: bucket → partitionBy directory,
        # single task per bucket (repartition(1) upstream), then the
        # lone part file of each directory is renamed into time order
        # — ordered names = ordered processing (the file source
        # batches its initial snapshot in path order).
        (
            base.withColumn(
                "_b",
                ((F.col("_d") - F.lit(int(lo))) / per).cast("int"),
            )
            .drop("_d")
            .repartition(1)
            .write.mode("overwrite")
            .partitionBy("_b")
            .parquet(tmp)
        )
        n_written = 0
        for i in range(n_batches):
            found = glob.glob(os.path.join(tmp, f"_b={i}", "part-*.parquet"))
            if not found:
                # an empty time range (ceil-sized trailing bucket, or a
                # day gap) writes no directory — skip it; the surviving
                # files keep their time order under the renumbering
                continue
            (part_file,) = found
            shutil.move(
                part_file, os.path.join(scratch, f"b{n_written:02d}.parquet")
            )
            n_written += 1
        if n_written == 0:
            raise ValueError(
                "run_kmv_multibatch_over_events: no events to replay"
            )
        stream = (
            spark.readStream.schema(
                "event_type string, ts timestamp, user_id long"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(scratch)
        )
        out = kmv_stateful(stream, k=k)
        with scoped_shuffle_partitions(spark, 16):
            q = (
                out.writeStream.format("memory")
                .queryName(query_name)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.table(query_name).select(
        "event_type",
        "n_exactish",
        F.round("est_raw", 2).alias("kmv_estimate"),
    )
