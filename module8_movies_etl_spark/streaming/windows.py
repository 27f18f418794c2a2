"""Windowed streaming aggregations over the events stream.

Design: every function takes/returns DataFrames so the SAME
transformation runs in batch (catalog verification) and streaming
(``readStream`` + trigger) — the Structured Streaming contract. State
sizing at scale: the watermark bounds state to
(watermark / window) × |keys| windows; without it a grouped streaming
aggregation's state grows forever.
"""

from __future__ import annotations

import itertools
import os
from contextlib import contextmanager
from datetime import timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import _footer_schema


@contextmanager
def scoped_shuffle_partitions(spark: SparkSession, n: int = 16):
    """Scope ``spark.sql.shuffle.partitions`` around a streaming run.

    Stateful streams commit one state-store partition per shuffle
    partition per micro-batch; under a default-conf session (200)
    store-commit overhead dwarfs the data (measured 6× on a two-batch
    replay). Every runner in the package passes 16: on the sf0.1
    replays the six single-store stateful queries total 15.0 s at 32
    vs 11.3 s at 16 (warm session), and the stream-stream joins —
    FOUR stores per partition — drop 15.6 s → 12.0 s; 8 is flat vs
    16, so 16 keeps the parallelism headroom. Production sizes this
    to input rate; the replay's bound is store commits, not rows. The
    conf is read at query START, so it must wrap the whole run and
    restore after — unset if it was unset, not blindly re-set. This
    is the ONE implementation of that save/set/restore discipline for
    every streaming runner in the package.
    """
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def read_event_stream(
    spark: SparkSession,
    path: str,
    schema=None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over parquet (the standard bronze-layer
    pattern: writers append files, the stream discovers them).

    A file source watches a directory, so a single-file ``path`` (the
    benchmark's ``<sf_dir>/events.parquet``) streams its parent
    directory filtered to that file name — the table is read where it
    lives, no copy. Streaming sources require an explicit schema —
    pass one or it is taken from the path's parquet footer, the schema
    a batch read would infer, without a Spark job. A declared ``ts
    timestamp`` reads the events table's NTZ footer as TIMESTAMP under
    any session; inference under a vanilla session (inferTimestampNTZ
    on) gives TIMESTAMP_NTZ, which watermarks reject."""
    if schema is None:
        schema = _footer_schema(spark, path)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    if os.path.isfile(path):
        path, name = os.path.split(path)
        reader = reader.option("pathGlobFilter", name)
    return reader.parquet(path)


def tumbling_event_counts(
    events: DataFrame,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling-window count + value sum per event type — the
    streaming twin of the catalog's ``tumbling_window_counts``.

    The watermark lets Spark finalize+evict window state once event
    time passes window_end + watermark; late rows beyond it are
    dropped (documented late-data semantics).

    The value sum runs on DECIMAL(28,6): addition is then
    order-independent, so the batch plan and the streaming
    state-store plan (different partial-aggregation orders) can never
    disagree on a rounded .xx5 boundary — the same guard
    ``run_hopping_over_events`` uses.
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(28,6)")).cast("double"), 2
            ).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_event_counts(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Sliding-window variant: each event lands in window/slide
    overlapping windows (state cost multiplies accordingly)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def session_window_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Gap-based session windows per user via ``session_window`` —
    the built-in stateful operator replacing the batch twin's
    lag+running-sum sessionizer (catalog ``sessionize_events``).
    Sessions close when no event arrives within ``gap``.
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("w"), key_col)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col(key_col),
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def run_to_memory(
    stream_df: DataFrame, query_name: str, output_mode: str = "complete"
) -> None:
    """Drive a streaming DataFrame to completion over the files
    currently present (``availableNow`` trigger) into an in-memory
    table named ``query_name`` — the batch-parity test harness."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    left_ts: str,
    right_ts: str,
    lower_s: int,
    upper_s: int,
    watermark: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream interval join: pair left and right
    events of the same key with ``right_ts`` in
    ``[left_ts + lower_s, left_ts + upper_s)``. ``how`` extends to
    the watermark-legal outer modes (``leftOuter`` etc.): an outer
    row's NULL completion is emitted only once the watermark passes
    its match horizon — "no match YET" and "no match EVER" are
    distinguishable exactly then, which is why outer stream joins
    REQUIRE the time-range condition.

    State sizing is the whole game for stream-stream joins: BOTH
    sides buffer rows in the state store, and without the time-range
    condition + watermarks that buffer is unbounded. With them, Spark
    derives an eviction horizon per side (a left row can stop waiting
    once the watermark passes ``left_ts + upper_s``; a right row once
    it passes ``right_ts - lower_s``), so state is bounded by the
    interval width × arrival rate regardless of stream length.

    Output contract: the sides keep ALL their columns under the
    ``l`` / ``r`` aliases — the two streams usually share a schema,
    so disambiguate with ``F.col("l.<name>")`` / ``F.col("r.<name>")``
    when selecting from the result.
    """
    l_wm = left.withWatermark(left_ts, watermark).alias("l")
    r_wm = right.withWatermark(right_ts, watermark).alias("r")
    lts, rts = F.col(f"l.{left_ts}"), F.col(f"r.{right_ts}")
    cond = (
        (F.col(f"l.{key_col}") == F.col(f"r.{key_col}"))
        & (rts >= lts + F.expr(f"INTERVAL {lower_s} SECONDS"))
        & (rts < lts + F.expr(f"INTERVAL {upper_s} SECONDS"))
    )
    return l_wm.join(r_wm, cond, how)


_HOP_SEQ = itertools.count()

# No-drop watermark delay (hours) shared by the finite-replay
# stream-stream interval joins: large enough that no real event in
# the test tables' time span is ever dropped, and the single source
# of truth for the outer-join sentinel horizon derivation below.
_IJ_WATERMARK_HOURS = 240

# (sf_dir, left_type, right_type, upper_s) -> {side: (scratch, schema)}
_IJ_SCRATCH_CACHE: dict = {}


def _scratch_has_data(path: str) -> bool:
    """True iff ``path`` holds at least one parquet DATA file — the
    cache-liveness check for the interval-join scratch pair. A bare
    ``isdir`` is not enough: a partial external cleanup that empties
    the directory without removing it would otherwise stream an empty
    source instead of rebuilding."""
    try:
        return any(
            f.name.endswith(".parquet") and f.is_file()
            for f in os.scandir(path)
        )
    except OSError:
        return False


def run_hopping_over_events(
    spark: SparkSession,
    sf_dir: str,
    window: str = "10 minutes",
    slide: str = "5 minutes",
) -> DataFrame:
    """Replay the SLIDING-window streaming aggregation over the finite
    events table with ``trigger(availableNow)`` and return the final
    windows — real Structured Streaming execution (window state store,
    watermark bookkeeping, overlapping-window fan-out) made
    hash-verifiable: the watermark spans the table's whole event-time
    range, so no window is dropped and the complete-mode result equals
    the batch ``F.window`` aggregation the oracle replays in SQL.
    Production callers use a short watermark and accept late-data
    drops past it.
    """
    stream = read_event_stream(
        spark,
        os.path.join(sf_dir, "events.parquet"),
        schema="event_type string, ts timestamp, value double",
    ).withColumn("value", F.col("value").cast("decimal(28,6)"))
    agg = (
        stream.withWatermark("ts", "240 hours")
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value").cast("double"), 2).alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_s"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    sink = f"stream_hopping_{next(_HOP_SEQ)}"
    with scoped_shuffle_partitions(spark, 16):
        run_to_memory(agg, sink, output_mode="complete")
    return spark.table(sink)


def run_session_windows_over_events(
    spark: SparkSession,
    sf_dir: str,
    gap_seconds: int = 1800,
) -> DataFrame:
    """Replay the built-in ``session_window`` stateful operator over
    the finite events table (``availableNow``, full-span watermark →
    no session drops) and return the final sessions — the
    MERGING-state streaming operator (sessions coalesce as events
    arrive) made hash-verifiable: with nothing dropped, the closed
    sessions equal the batch gaps-and-islands derivation, with the
    boundary semantic pinned: a successor exactly ``gap`` away
    starts a NEW session (session intervals are half-open
    ``[ts, ts+gap)``), which the oracle mirrors with ``>=`` on
    microsecond arithmetic.
    """
    stream = read_event_stream(
        spark,
        os.path.join(sf_dir, "events.parquet"),
        schema="user_id bigint, ts timestamp",
    )
    agg = (
        stream.withWatermark("ts", "240 hours")
        .groupBy(
            F.session_window("ts", f"{gap_seconds} seconds").alias("w"),
            "user_id",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "n_events",
        )
    )
    sink = f"stream_sessions_{next(_HOP_SEQ)}"
    with scoped_shuffle_partitions(spark, 16):
        run_to_memory(agg, sink, output_mode="complete")
    return spark.table(sink)


def ensure_ij_scratches(
    spark: SparkSession,
    sf_dir: str,
    left_type: str = "click",
    right_type: str = "purchase",
    upper_s: int = 300,
) -> dict:
    """Build (or return cached) the interval join's two side-stream
    parquet scratches for ``(sf_dir, left_type, right_type,
    upper_s)``. Factored out of ``run_interval_join_over_events`` so
    a bench/test harness can pre-build the pair OUTSIDE its timed
    region: the writes are shared setup, not join cost, and whichever
    catalog entry ran first used to absorb ~4-8 s of scratch-write
    time that read as a query regression.
    """
    from ..sources.readers import read_table
    from ..sources.scratch import mkscratch

    base = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type",
        F.col("ts").cast("timestamp").alias("ts"),
    )
    # One scratch pair per (dir, types, bounds) PER PROCESS: the inner
    # and leftOuter catalog entries consume identical side streams, so
    # the second caller reuses the first's parquet scratches and skips
    # the max_ts fetch + two writes (~2-4 s at sf0.1). Sentinels are
    # written UNCONDITIONALLY to make the scratches mode-agnostic —
    # under an inner join they are inert (negative user_ids, distinct
    # per side, so the equality can never match), and the outer mode
    # needs them:
    # Outer emission happens at state EVICTION: a left row's NULL
    # completion surfaces only once the global watermark (min over
    # both sides) passes ts + upper_s. Finite replay under a
    # no-drop delay D leaves every row in the last D+upper_s of
    # event time un-evicted — "no match YET" forever. One sentinel
    # row per side, past every real horizon (negative keys, so it
    # can never join or match), pushes the final watermark past
    # every REAL horizon; the sentinels' own horizons stay
    # unreached, so they never emit. (1-row bounded driver fetch.)
    # The horizon derives from the join parameters: the last REAL
    # left row's eviction point is max_ts + upper_s, and the
    # watermark lags the observed maximum by the no-drop delay D
    # (_IJ_WATERMARK_HOURS, passed to interval_join_streams below).
    # A sentinel at max_ts + D + upper_s + 1s advances the final
    # watermark to max_ts + upper_s + 1s — strictly past every real
    # horizon — for ANY upper_s, where a fixed "+241h" pad only
    # covered upper_s < 3600.
    cache_key = (sf_dir, left_type, right_type, upper_s)
    entry = _IJ_SCRATCH_CACHE.get(cache_key)
    if entry is not None and not all(
        _scratch_has_data(scratch) for scratch, _ in entry.values()
    ):
        # external cleanup deleted the dirs or their contents out
        # from under the cache — rebuild instead of streaming a
        # missing/empty source
        entry = None
    if entry is None:
        max_ts = base.agg(F.max("ts")).collect()[0][0]
        sentinel_ts = max_ts + timedelta(
            hours=_IJ_WATERMARK_HOURS, seconds=upper_s + 1
        )
        entry = {}
        for side, etype, skey in (
            ("l", left_type, -1),
            ("r", right_type, -2),
        ):
            scratch = mkscratch(f"stream_ij_{side}_")
            part = base.filter(
                F.col("event_type") == etype
            ).drop("event_type")
            part = part.unionByName(
                spark.createDataFrame(
                    [(skey, skey, sentinel_ts)], part.schema
                )
            )
            part.coalesce(1).write.mode("overwrite").parquet(scratch)
            entry[side] = (scratch, part.schema)
        _IJ_SCRATCH_CACHE[cache_key] = entry
    return entry


def run_interval_join_over_events(
    spark: SparkSession,
    sf_dir: str,
    left_type: str = "click",
    right_type: str = "purchase",
    lower_s: int = 0,
    upper_s: int = 300,
    how: str = "inner",
) -> DataFrame:
    """Replay the stream-stream interval join over the finite events
    table: clicks joined to same-user purchases within the next
    ``upper_s`` seconds — both sides REAL streams (two file sources,
    two watermarks, dual-sided join state with time-range eviction),
    driven to completion with ``availableNow``. The watermark spans
    the event-time range, so no buffered row is evicted before its
    match window closes and the append-mode matches equal the batch
    interval join the oracle replays in SQL.

    Side-stream scratch setup lives in ``ensure_ij_scratches`` (one
    pair per process, pre-buildable untimed by the bench harness).
    """
    entry = ensure_ij_scratches(
        spark, sf_dir, left_type, right_type, upper_s
    )
    sides = {
        side: read_event_stream(spark, scratch, schema=schema)
        for side, (scratch, schema) in entry.items()
    }
    left = sides["l"].select(
        F.col("event_id").alias("l_id"), "user_id",
        F.col("ts").alias("l_ts"),
    )
    right = sides["r"].select(
        F.col("event_id").alias("r_id"), "user_id",
        F.col("ts").alias("r_ts"),
    )
    joined = interval_join_streams(
        left, right, "user_id", "l_ts", "r_ts", lower_s, upper_s,
        watermark=f"{_IJ_WATERMARK_HOURS} hours", how=how,
    ).select(
        F.col("l.l_id").alias("click_id"),
        F.col("r.r_id").alias("purchase_id"),
        F.col("l.user_id").alias("user_id"),
        (F.unix_micros(F.col("r.r_ts")) - F.unix_micros(F.col("l.l_ts")))
        .alias("delta_us"),
    )
    sink = f"stream_ij_{next(_HOP_SEQ)}"
    # A stream-stream join commits FOUR state stores per shuffle
    # partition per micro-batch (keyed + key-with-index on each
    # side), so partition count multiplies commit overhead twice
    # over. Measured on the sf0.1 replay (leftOuter, warm session):
    # 32 partitions → 15.6 s, 16 → 12.0 s, 8 → 12.3 s — hence the
    # package-wide 16 (see scoped_shuffle_partitions).
    with scoped_shuffle_partitions(spark, 16):
        run_to_memory(joined, sink, output_mode="append")
    # The sentinels can never emit (their horizons stay past the final
    # watermark), but exclude them defensively — and do it on the
    # MATERIALIZED batch table, never inside the streaming plan: a
    # user_id predicate there is pushed below the watermark operator
    # on the preserved side, silently deleting the sentinel before it
    # can advance the watermark (observed: the outer join reverted to
    # the un-sentineled 2/3 emission).
    return spark.table(sink).filter(F.col("user_id") >= 0)
