"""Multimodal plumbing + Structured Streaming tests."""

from __future__ import annotations

import shutil

import pytest

from training_etl_demo_2_spark.operators import multimodal
from training_etl_demo_2_spark.streaming import windowed
from training_etl_demo_2_spark.streaming.fixture_queries import _replay_to_table


def test_payload_roundtrip(tables):
    media = multimodal.attach_fake_payload(tables["documents"])
    r = media.limit(1).collect()[0]
    assert isinstance(r.payload, (bytes, bytearray))
    assert r.nbytes == len(r.payload)
    assert r.media_type == "image/fake"


def test_feature_extraction_batch_shape(tables):
    media = multimodal.attach_fake_payload(tables["documents"].limit(50))
    feats = multimodal.extract_features(media).collect()
    assert len(feats) == 50
    for r in feats:
        assert len(r.feature) == 8
        assert abs(sum(r.feature) - 1.0) < 1e-5  # normalized histogram
        assert r.width * r.height <= r.nbytes


def test_auto_decode_is_soft_dependency(tables):
    """decode_fn="auto" activates Pillow when present, else raises the
    documented NotImplementedError — the codec boundary is a soft
    dependency, not a hard stub."""
    media = multimodal.attach_fake_payload(tables["documents"].limit(1))
    if multimodal.load_image_decoder() is None:
        with pytest.raises(NotImplementedError):
            multimodal.extract_features(media, decode_fn="auto")
    else:
        assert multimodal.extract_features(media, decode_fn="auto").count() >= 0


def test_custom_image_decoder_is_used(tables):
    """A user-supplied decoder drives the REAL decode branch end-to-end
    (proving the plumbing works without Pillow): every payload decodes
    to a fixed 2x3 grid, so width/height come from the decoder, not the
    fake sqrt-grid convention."""
    import numpy as np

    media = multimodal.attach_fake_payload(tables["documents"].limit(5))

    def decode(_blob: bytes):
        return np.array([[0, 128, 255], [10, 20, 30]], dtype=np.uint8)

    rows = multimodal.extract_features(media, decode_fn=decode).collect()
    assert rows and all(r.width == 3 and r.height == 2 for r in rows)


def test_custom_audio_decoder_is_used(tables):
    import numpy as np

    media = multimodal.attach_fake_payload(tables["documents"].limit(3))

    def decode(_blob: bytes):
        return np.array([1.0, -1.0, 1.0, -1.0])

    rows = multimodal.audio_features(media, decode_fn=decode).collect()
    assert rows
    for r in rows:
        assert r.n_samples == 4
        assert r.mean == 0.0
        assert r.zero_crossings == 3


def test_bad_decode_fn_type_raises(tables):
    media = multimodal.attach_fake_payload(tables["documents"].limit(1))
    with pytest.raises(TypeError):
        multimodal.extract_features(media, decode_fn=42)


def test_streaming_windowed_matches_batch(spark, sf_dir, tmp_path):
    """File-source stream over the events table == batch events_hourly."""
    from training_etl_demo_2_spark.io import load_tables
    from training_etl_demo_2_spark.operators.relational import events_hourly

    events_dir = tmp_path / "events_in"
    events_dir.mkdir()
    # materialize micro-batch-friendly copies (nanos ts already converted)
    events = load_tables(spark, sf_dir)["events"]
    events.repartition(3).write.mode("overwrite").parquet(str(events_dir / "p"))

    stream = windowed.read_events_stream(spark, str(events_dir / "p"))
    assert stream.isStreaming
    result = windowed.events_windowed(stream)
    _replay_to_table(result, "ev_hourly_test")
    got = {
        (r.hour, r.event_type): (r.n_events, r.sum_value)
        for r in spark.sql("SELECT * FROM ev_hourly_test").collect()
    }
    want = {
        (r.hour, r.event_type): (r.n_events, r.sum_value)
        for r in events_hourly({"events": events}).collect()
    }
    assert got == want


def test_streaming_session_window(spark, sf_dir, tmp_path):
    from training_etl_demo_2_spark.io import load_tables

    events_dir = tmp_path / "sess_in"
    events_dir.mkdir()
    events = load_tables(spark, sf_dir)["events"]
    events.write.mode("overwrite").parquet(str(events_dir / "p"))
    stream = windowed.read_events_stream(spark, str(events_dir / "p"))
    result = windowed.events_sessions(stream)
    _replay_to_table(result, "ev_sessions_test")
    rows = spark.sql("SELECT * FROM ev_sessions_test").collect()
    assert len(rows) > 0
    assert all(r.session_start <= r.session_end for r in rows)


def test_resize_images_shape(tables):
    media = multimodal.attach_fake_payload(tables["documents"].limit(20))
    rows = multimodal.resize_images(media, out_w=4, out_h=4).collect()
    assert len(rows) == 20
    for r in rows:
        assert (r.width, r.height) == (4, 4)
        assert len(r.payload) == 16  # 4x4 grayscale bytes


def test_resize_with_custom_decoder(tables):
    import numpy as np

    media = multimodal.attach_fake_payload(tables["documents"].limit(2))

    def decode(_blob: bytes):
        return np.arange(64, dtype=np.uint8).reshape(8, 8)

    rows = multimodal.resize_images(
        media, out_w=4, out_h=4, decode_fn=decode
    ).collect()
    assert rows and all(len(r.payload) == 16 for r in rows)


def test_sample_frames_stride(tables):
    media = multimodal.attach_fake_payload(tables["documents"].limit(10))
    rows = multimodal.sample_frames(media, every_n=3).collect()
    assert len(rows) > 0
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
        assert r.frame_idx % 3 == 0
        assert len(r.frame) <= multimodal.FRAME_BYTES
    for doc_rows in by_doc.values():
        n_frames = doc_rows[0].n_frames
        want = len(range(0, n_frames, 3))
        assert len(doc_rows) == want


def test_audio_features_deterministic(tables):
    media = multimodal.attach_fake_payload(tables["documents"].limit(15))
    a = {r.doc_id: tuple(r) for r in multimodal.audio_features(media).collect()}
    b = {r.doc_id: tuple(r) for r in multimodal.audio_features(media).collect()}
    assert a == b
    for r in a.values():
        assert r[1] > 0  # n_samples
        assert r[3] >= 0  # std


def test_perceptual_hash_duplicates_collide(spark):
    from training_etl_demo_2_spark.operators import multimodal

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again"),
            (2, "the quick brown fox jumps over the lazy dog again"),  # dup
            (3, "completely different payload bytes with other content"),
        ],
        "doc_id long, text string",
    )
    media = multimodal.attach_fake_payload(docs)
    hashes = {r.doc_id: r.phash for r in multimodal.perceptual_hashes(media).collect()}
    assert hashes[1] == hashes[2]
    assert hashes[1] != hashes[3]
    pairs = [
        (r.doc_a, r.doc_b, r.hamming)
        for r in multimodal.media_near_dups(media).collect()
    ]
    assert pairs == [(1, 2, 0)]


def test_perceptual_hash_small_perturbation_stays_close(spark):
    from pyspark.sql import functions as F

    from training_etl_demo_2_spark.operators import multimodal

    base = "word " * 60
    docs = spark.createDataFrame(
        [(1, base + "alpha beta gamma"), (2, base + "alpha beta gamm")],
        "doc_id long, text string",
    )
    media = multimodal.attach_fake_payload(docs)
    h = {r.doc_id: r.phash for r in multimodal.perceptual_hashes(media).collect()}
    hamming = bin((h[1] ^ h[2]) & (2**64 - 1)).count("1")
    assert hamming <= 12  # one-character edit moves few of the 64 bits


def test_media_near_dups_density_bounded(tables):
    """Round-2 regression guard: at sf0.001 the banded phash join must
    return a near-dup-sized pair set (the 32-bit/8-bit-band version
    returned ~28% of ALL pairs — quadratic noise)."""
    media = multimodal.attach_fake_payload(tables["documents"])
    n = media.count()
    pairs = multimodal.media_near_dups(media).count()
    assert pairs <= 2 * n, f"{pairs} pairs from {n} docs: phash degenerated"
