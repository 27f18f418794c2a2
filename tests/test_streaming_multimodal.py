"""Streaming batch-parity and multimodal plumbing tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from module8_movies_etl_spark import streaming
from module8_movies_etl_spark.operators import multimodal
from module8_movies_etl_spark.sources import read_table
from module8_movies_etl_spark.streaming.windows import run_to_memory

SF = "/root/testdata/sf0.001"
EVENTS = SF + "/events.parquet"


def test_tumbling_stream_matches_batch(spark):
    batch = read_table(spark, SF, "events")
    expected = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in streaming.tumbling_event_counts(batch).collect()
    }

    stream = streaming.read_event_stream(spark, EVENTS)
    assert stream.isStreaming
    run_to_memory(
        streaming.tumbling_event_counts(stream), "tumbling_test", "complete"
    )
    got = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in spark.table("tumbling_test").collect()
    }
    assert got == expected and len(got) > 0


def test_session_window_stream_runs(spark):
    stream = streaming.read_event_stream(spark, EVENTS)
    run_to_memory(
        streaming.session_window_counts(stream, gap="30 minutes"),
        "sessions_test",
        "complete",
    )
    rows = spark.table("sessions_test")
    assert rows.count() > 0
    # sessions are per-user, disjoint, and non-empty
    assert rows.filter(F.col("n_events") <= 0).count() == 0


def test_stream_stream_interval_join_matches_batch(spark):
    """Watermarked stream-stream interval join (clicks within 10 min
    before each error) equals the batch non-equi join over the same
    finite input."""
    batch = read_table(spark, SF, "events")
    be = batch.filter(F.col("event_type") == "error").alias("l")
    bc = batch.filter(F.col("event_type") == "click").alias("r")
    expected = {
        (r[0], r[1])
        for r in be.join(
            bc,
            (F.col("l.user_id") == F.col("r.user_id"))
            & (F.col("r.ts") >= F.col("l.ts") - F.expr("INTERVAL 600 SECONDS"))
            & (F.col("r.ts") < F.col("l.ts")),
        )
        .select(F.col("l.event_id"), F.col("r.event_id"))
        .collect()
    }

    se = streaming.read_event_stream(spark, EVENTS).filter(
        F.col("event_type") == "error"
    )
    sc = streaming.read_event_stream(spark, EVENTS).filter(
        F.col("event_type") == "click"
    )
    joined = streaming.windows.interval_join_streams(
        se, sc, "user_id", "ts", "ts", lower_s=-600, upper_s=0
    ).select(F.col("l.event_id").alias("l_id"), F.col("r.event_id").alias("r_id"))
    run_to_memory(joined, "interval_join_test", "append")
    got = {
        (r.l_id, r.r_id) for r in spark.table("interval_join_test").collect()
    }
    assert got == expected and len(got) > 0


def test_fold_epochs_session_math():
    from module8_movies_etl_spark.streaming.stateful import _fold_epochs

    # gap boundary is STRICT (> gap starts a new session, == gap does not)
    closed, cur = _fold_epochs([0, 1800, 3601], None, 1800)
    assert closed == [(0, 1800, 2)] and cur == (3601, 3601, 1)
    # resumes an open session from state
    closed, cur = _fold_epochs([100, 5000], (0, 50, 3), 1800)
    assert closed == [(0, 100, 4)] and cur == (5000, 5000, 1)
    # empty batch with state keeps the state
    closed, cur = _fold_epochs([], (0, 50, 3), 1800)
    assert closed == [] and cur == (0, 50, 3)
    # no input, no state
    assert _fold_epochs([], None, 1800) == ([], None)


def test_sessionize_stateful_matches_batch_contract(spark):
    """The streaming replay emits exactly the batch sessions whose
    end + gap precedes the final watermark (= global max event time)."""
    from module8_movies_etl_spark.streaming.stateful import run_sessionize_over_events

    got = {
        (r.user_id, r.session_start_s, r.session_end_s, r.n_events)
        for r in run_sessionize_over_events(spark, SF).collect()
    }

    events = read_table(spark, SF, "events")
    # the watermark is millisecond-precision: a session whose horizon
    # equals the FLOORED max second still times out if max ts has a
    # sub-second part
    max_ms = events.agg(F.max(F.unix_millis("ts"))).first()[0]
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("es", "event_id")
    es = events.select("user_id", "event_id", F.unix_timestamp("ts").alias("es"))
    marked = es.withColumn(
        "is_new",
        F.when(
            (F.col("es") - F.lag("es").over(w) > 1800)
            | F.lag("es").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    sess = marked.withColumn(
        "sid", F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    expected = {
        (r.user_id, r.s0, r.s1, r.n)
        for r in sess.groupBy("user_id", "sid")
        .agg(
            F.min("es").alias("s0"),
            F.max("es").alias("s1"),
            F.count(F.lit(1)).alias("n"),
        )
        .filter((F.col("s1") + 1800) * 1000 < F.lit(max_ms))
        .collect()
    }
    assert got == expected and len(got) > 0


def test_event_replays_write_no_scratch(spark, tmp_path, monkeypatch):
    """The events replays stream the table where it lives: no scratch
    copy is written, so nothing waits on the exit reaper."""
    from module8_movies_etl_spark.streaming.dedup import run_dedup_over_events
    from module8_movies_etl_spark.streaming.stateful import run_sessionize_over_events

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    assert run_dedup_over_events(spark, SF).count() > 0
    assert run_sessionize_over_events(spark, SF).count() > 0
    assert list(tmp_path.iterdir()) == []


def test_multimodal_feature_extraction(spark):
    docs = read_table(spark, SF, "documents").limit(50)
    with_payload = docs.withColumn("payload", F.encode("text", "UTF-8"))
    meta = multimodal.attach_payload_meta(with_payload, "payload", mime="text/plain")
    m = meta.select("media_meta.*").first()
    assert m.n_bytes > 0 and len(m.content_sha) == 64

    feats = multimodal.extract_media_features(
        with_payload, decoder=multimodal.fake_image_decoder
    )
    rows = feats.collect()
    assert len(rows) == 50
    assert all(64 <= r.width <= 319 and 1 <= r.n_channels <= 4 for r in rows)
    # deterministic: same payload → same features
    again = multimodal.extract_media_features(
        with_payload, decoder=multimodal.fake_image_decoder
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    # the vectorized batch decoder is bit-identical to the row decoder
    batched = multimodal.extract_media_features(
        with_payload, batch_decoder=multimodal.fake_image_decoder_batch
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, batched))


def test_frame_sampling_fanout_and_determinism(spark):
    docs = read_table(spark, SF, "documents").limit(40)
    with_payload = docs.withColumn("payload", F.encode("text", "UTF-8"))
    frames = multimodal.sample_frames(
        with_payload, sampler=multimodal.fake_frame_sampler
    ).collect()
    by_doc: dict[int, list] = {}
    for r in frames:
        by_doc.setdefault(r.doc_id, []).append((r.frame_idx, r.frame_sha))
    assert len(by_doc) == 40
    for doc_id, fs in by_doc.items():
        idxs = sorted(i for i, _ in fs)
        assert idxs == list(range(len(fs))) and 1 <= len(fs) <= 4
        assert all(len(sha) == 64 for _, sha in fs)
    again = multimodal.sample_frames(
        with_payload, sampler=multimodal.fake_frame_sampler
    ).collect()
    assert sorted(map(tuple, frames)) == sorted(map(tuple, again))


def test_resize_stage_shapes(spark):
    docs = read_table(spark, SF, "documents").limit(10)
    with_payload = docs.withColumn("payload", F.encode("text", "UTF-8"))
    rows = multimodal.resize_payloads(with_payload, 16, 9).collect()
    assert len(rows) == 10
    for r in rows:
        assert (r.width, r.height) == (16, 9)
        assert len(bytes(r.payload)) == 16 * 9


def test_frame_sample_stub_raises(spark):
    docs = read_table(spark, SF, "documents").limit(1)
    with_payload = docs.withColumn("payload", F.encode("text", "UTF-8"))
    frames = multimodal.sample_frames(with_payload)  # default stub
    with pytest.raises(Exception, match="NotImplementedError|frame sampling"):
        frames.collect()


def test_decode_stub_raises(spark):
    docs = read_table(spark, SF, "documents").limit(1)
    with_payload = docs.withColumn("payload", F.encode("text", "UTF-8"))
    feats = multimodal.extract_media_features(with_payload)  # default stub
    with pytest.raises(Exception, match="NotImplementedError|media decoding"):
        feats.collect()


def test_spectral_tone_features_closed_form_and_robustness():
    """The DSP rung (round 9): square tones at exact DFT bins decode
    to closed-form (bin, Hz, power); the container parses with the
    stdlib wave module; non-tone inputs still produce sane spectra."""
    import io
    import wave as wave_mod

    from module8_movies_etl_spark.operators.multimodal import (
        _SAMPLE_RATES,
        make_wav,
        make_wav_tone,
        spectral_wav_features,
    )

    for doc in range(0, 600, 7):
        rate = _SAMPLE_RATES[doc % 4]
        k = 1 + doc % 126
        a = 1000 + (doc % 200) * 93
        f = spectral_wav_features(make_wav_tone(doc))
        assert f == {
            "sample_rate": rate, "n_samples": 256, "dominant_bin": k,
            "dominant_hz": k * rate / 256, "power": 256 * a * a,
        }, doc
    # independent container validation: Python's own wave module
    wf = wave_mod.open(io.BytesIO(make_wav_tone(7)))
    assert (wf.getnframes(), wf.getsampwidth()) == (256, 2)
    # the alternating +a/-b wave of make_wav peaks at Nyquist-ish
    # bins; the decoder must still return a valid non-DC bin
    g = spectral_wav_features(make_wav(5))
    assert 1 <= g["dominant_bin"] <= g["n_samples"] // 2
    assert g["power"] > 0
