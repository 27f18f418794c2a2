"""Multimodal stages (``operators.multimodal``) on real codecs: the
decode and frame-sample stages, their NULL-payload contract, and the
binary-file ingest path that feeds them."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from module8_movies_etl_spark.operators import multimodal
from module8_movies_etl_spark.sources import read_table

SF = "/root/testdata/sf0.001"


def _bmp_features(doc_id: int) -> tuple:
    """Closed form of ``decode_bmp(make_bmp(doc_id))``: the generator
    alternates two channel bytes over a (4 + id % 13) × (3 + id % 7)
    image."""
    w, h = 4 + doc_id % 13, 3 + doc_id % 7
    v1, v2 = doc_id % 256, (doc_id * 7 + 13) % 256
    nb = 3 * w * h
    return (w, h, 3, ((nb + 1) // 2 * v1 + nb // 2 * v2) / (nb * 255.0))


def test_multimodal_feature_extraction(spark):
    docs = read_table(spark, SF, "documents").limit(50)
    blobs = multimodal.synthesize_media_payloads(docs, maker=multimodal.make_bmp)
    meta = multimodal.attach_payload_meta(blobs, "payload", mime="image/bmp")
    for m in meta.select("doc_id", "media_meta.*").collect():
        payload = multimodal.make_bmp(m.doc_id)
        assert m.mime == "image/bmp" and m.n_bytes == len(payload)
        assert m.content_sha == hashlib.sha256(payload).hexdigest()

    feats = multimodal.extract_media_features(blobs, decoder=multimodal.decode_bmp)
    rows = feats.collect()
    assert len(rows) == 50
    for r in rows:
        assert tuple(r)[1:] == _bmp_features(r.doc_id), r.doc_id
    # deterministic: same payload → same features
    assert sorted(map(tuple, rows)) == sorted(map(tuple, feats.collect()))


def test_multimodal_null_payload_rows(spark):
    """NULL payloads emit NULL-feature rows / zero frames instead of
    bytes(None) TypeErrors killing the stage."""
    images = spark.createDataFrame(
        [(1, bytearray(multimodal.make_bmp(1))), (2, None)],
        "doc_id long, payload binary",
    )
    feats = {
        r["doc_id"]: r
        for r in multimodal.extract_media_features(
            images, decoder=multimodal.decode_bmp
        ).collect()
    }
    assert tuple(feats[1])[1:] == _bmp_features(1)
    assert feats[2]["width"] is None and feats[2]["mean_luma"] is None

    videos = spark.createDataFrame(
        [(1, bytearray(multimodal.make_avi_mjpeg(1))), (2, None)],
        "doc_id long, payload binary",
    )
    frames = multimodal.sample_frames(
        videos, sampler=multimodal.avi_frame_sampler
    ).collect()
    assert all(r["doc_id"] == 1 for r in frames) and len(frames) > 0


def test_audio_features_invariants(spark):
    """Audio decode stage: schema + internal consistency (duration is
    exactly n_samples/sample_rate; rates from the fixed palette)."""
    d = read_table(spark, SF, "documents").limit(50)
    blobs = multimodal.synthesize_media_payloads(d, maker=multimodal.make_wav)
    out = multimodal.extract_media_features(
        blobs,
        decoder=multimodal.decode_wav,
        feature_schema=multimodal.AUDIO_FEATURE_SCHEMA,
    ).collect()
    assert len(out) == 50
    for r in out:
        assert r["sample_rate"] in (8000, 16000, 22050, 44100)
        assert r["duration_s"] == r["n_samples"] / r["sample_rate"]
        assert 0.0 <= r["rms"] <= 1.0


def test_binary_file_ingest_feeds_multimodal(spark, tmp_path):
    """binaryFile source → opaque content column → the multimodal
    feature stage: the files-on-disk ingest path for image/audio
    blobs."""
    from module8_movies_etl_spark.sources import read_binary_files

    blob_dir = tmp_path / "blobs"
    blob_dir.mkdir()
    for i in range(5):
        (blob_dir / f"b{i}.bin").write_bytes(multimodal.make_bmp(i))
    (blob_dir / "ignore.txt").write_text("not a blob")

    files = read_binary_files(spark, str(blob_dir), glob="*.bin")
    assert files.count() == 5
    # file paths keyed to a stable long id (FEATURE_SCHEMA contract)
    named = files.select(
        F.crc32(F.col("path")).cast("long").alias("doc_id"),
        F.col("content").alias("payload"),
    )
    feats = multimodal.extract_media_features(
        named, decoder=multimodal.decode_bmp
    ).collect()
    # content survives ingest byte-for-byte: every file decodes to its
    # generator's closed-form features
    assert sorted(tuple(r)[1:] for r in feats) == sorted(
        _bmp_features(i) for i in range(5)
    )
