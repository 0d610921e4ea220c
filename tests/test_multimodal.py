"""Multimodal plumbing tests: schema, Arrow batch shape, deterministic
stub features, 1→N frame sampling (SURVEY.md §2.3)."""

from __future__ import annotations

import hashlib

from pyspark.sql import Row

from cloud_dataflow_batch_processing_spark.extensions.multimodal import (
    FEATURE_DIM,
    MEDIA_SCHEMA,
    decode_and_featurize,
    frame_sample_plan,
    resize_stub,
)


def _media_df(spark):
    rows = [
        Row(
            media_id=i,
            kind=["image", "audio", "video"][i % 3],
            content=bytes([i]) * (10 + i),
            meta=Row(mime="x/fake", width=4, height=4, duration_ms=1000 * i),
        )
        for i in range(9)
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_decode_features_deterministic(spark):
    df = _media_df(spark)
    out = decode_and_featurize(df, batch_size=4).orderBy("media_id").collect()
    assert len(out) == 9
    for r in out:
        content = bytes([r.media_id]) * (10 + r.media_id)
        assert r.n_bytes == len(content)
        assert r.sha256 == hashlib.sha256(content).hexdigest()
        digest = hashlib.sha256(content).digest()
        assert len(r.feature) == FEATURE_DIM
        assert abs(r.feature[0] - digest[0] / 255.0) < 1e-6


def test_resize_stub_stamps_dims(spark):
    out = resize_stub(_media_df(spark), 224, 224).select("meta.width", "meta.height").distinct().collect()
    assert [(r.width, r.height) for r in out] == [(224, 224)]


def test_frame_sample_explodes(spark):
    df = _media_df(spark).filter("kind = 'video'")  # media_id 2,5,8
    out = frame_sample_plan(df, every_ms=500)
    got = {r.media_id for r in out.collect()}
    assert got == {2, 5, 8}
    # media_id 2 → 2000ms → frames 0..4 at 500ms
    frames = sorted(
        r.frame_ts_ms for r in out.filter("media_id = 2").collect()
    )
    assert frames == [0, 500, 1000, 1500, 2000]


def test_media_transforms_leave_session_arrow_conf(spark):
    """``batch_size`` bounds rows per decoded chunk inside the transform;
    it must not rewrite the session's Arrow batch size, which every later
    Arrow UDF of the session would inherit."""
    from cloud_dataflow_batch_processing_spark.extensions import media_codecs as M
    from cloud_dataflow_batch_processing_spark.extensions.multimodal import (
        extract_exact_features,
    )

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    rgb = bytes((i * 7) % 256 for i in range(3 * 4 * 3))
    media = spark.createDataFrame(
        [
            (0, M.encode_bmp(4, 3, rgb)),
            (1, M.encode_wav([5, -5, 100, -2048], 8000)),
            (2, b"\x00\x01garbage"),
            (3, None),
        ],
        "media_id long, content binary",
    ).repartition(1)
    got = {r.media_id: r for r in extract_exact_features(media, batch_size=2).collect()}
    assert spark.conf.get(key) == before
    assert sorted(got) == [0, 1, 2, 3]
    assert (got[0].format, got[0].img_w, got[0].img_h) == ("bmp", 4, 3)
    assert (got[1].format, got[1].wav_frames) == ("wav", 4)
    assert got[2].format is None and got[3].format is None


def test_resize_images_real(spark):
    """REAL image resize: a 4x4 BMP with known quadrant colors resized
    to 2x2 must produce exactly the top-left pixel of each quadrant
    (nearest-neighbor with floor indices), re-encoded as BMP."""
    from cloud_dataflow_batch_processing_spark.extensions import media_codecs as MC
    from cloud_dataflow_batch_processing_spark.extensions.multimodal import (
        MEDIA_SCHEMA,
        resize_images,
    )

    quad = {
        (0, 0): (255, 0, 0), (0, 1): (0, 255, 0),
        (1, 0): (0, 0, 255), (1, 1): (255, 255, 0),
    }
    rgb = bytearray()
    for y in range(4):
        for x in range(4):
            rgb += bytes(quad[(y // 2, x // 2)])
    bmp = MC.encode_bmp(4, 4, bytes(rgb))
    png = MC.encode_png(2, 2, bytes(b"".join(bytes(quad[(y, x)]) for y in range(2) for x in range(2))))
    rows = [
        (1, "image", bmp, {"mime": "image/bmp", "width": 4, "height": 4, "duration_ms": None}),
        (2, "image", png, {"mime": "image/png", "width": 2, "height": 2, "duration_ms": None}),
        (3, "image", b"\x00\x01notanimage", {"mime": "application/octet-stream", "width": None, "height": None, "duration_ms": None}),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in resize_images(df, 2, 2).collect()}

    w, h, rgb2 = MC.decode_bmp(bytes(out[1]["content"]))
    assert (w, h) == (2, 2)
    got = [tuple(rgb2[i : i + 3]) for i in range(0, 12, 3)]
    assert got == [(255, 0, 0), (0, 255, 0), (0, 0, 255), (255, 255, 0)]
    assert out[1]["meta"]["width"] == 2 and out[1]["meta"]["mime"] == "image/bmp"

    # PNG input resized (here 2x2 -> 2x2 identity) and re-encoded as BMP
    w2, h2, rgbp = MC.decode_bmp(bytes(out[2]["content"]))
    assert (w2, h2) == (2, 2) and tuple(rgbp[:3]) == (255, 0, 0)

    # undecodable bytes pass through untouched
    assert bytes(out[3]["content"]) == b"\x00\x01notanimage"
    assert out[3]["meta"]["width"] is None


def test_resample_audio_real(spark):
    """Nearest-frame WAV resample: 8 frames at 8000 Hz halved to
    4000 Hz must keep exactly every second frame; non-WAV rows pass
    through."""
    from cloud_dataflow_batch_processing_spark.extensions import media_codecs as MC
    from cloud_dataflow_batch_processing_spark.extensions.multimodal import (
        MEDIA_SCHEMA,
        resample_audio,
    )

    samples = [0, 100, 200, 300, 400, 500, 600, 700]
    wav = MC.encode_wav(samples, 8000, channels=1)
    rows = [
        (1, "audio", wav, {"mime": "audio/wav", "width": None, "height": None, "duration_ms": 1}),
        (2, "audio", b"nope", {"mime": "application/octet-stream", "width": None, "height": None, "duration_ms": None}),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in resample_audio(df, 4000).collect()}
    got = MC.decode_wav(bytes(out[1]["content"]))
    assert got.sample_rate == 4000
    assert got.samples == [0, 200, 400, 600]
    assert bytes(out[2]["content"]) == b"nope"


def test_resize_images_batch_size_slicing(spark):
    """ADVICE r4: batch_size must actually bound the rows processed per
    yielded chunk — results are identical at batch_size=1 vs default,
    and a batch_size smaller than the row count still covers all rows."""
    from cloud_dataflow_batch_processing_spark.extensions import media_codecs as MC
    from cloud_dataflow_batch_processing_spark.extensions.multimodal import (
        MEDIA_SCHEMA,
        resize_images,
    )

    bmp = MC.encode_bmp(4, 4, bytes(range(48)))
    rows = [
        (i, "image", bmp, {"mime": "image/bmp", "width": 4, "height": 4, "duration_ms": None})
        for i in range(7)
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA).coalesce(1)
    small = sorted(
        (r["media_id"], bytes(r["content"])) for r in resize_images(df, 2, 2, batch_size=2).collect()
    )
    big = sorted(
        (r["media_id"], bytes(r["content"])) for r in resize_images(df, 2, 2).collect()
    )
    assert small == big
    assert len(small) == 7


def test_batch_size_validated_up_front(spark):
    """ADVICE r5: a non-positive batch_size must fail loudly on the
    driver before any job launches — not die as an opaque range()
    error inside an executor task."""
    import pytest

    from cloud_dataflow_batch_processing_spark.extensions import multimodal as MM

    df = spark.createDataFrame(
        [Row(media_id=1, kind="image", content=bytearray(b"x"), meta=None)],
        MM.MEDIA_SCHEMA,
    )
    for bad in (0, -1):
        with pytest.raises(ValueError, match="batch_size"):
            MM.decode_and_featurize(df, batch_size=bad)
        with pytest.raises(ValueError, match="batch_size"):
            MM.resize_images(df, 4, 4, batch_size=bad)
        with pytest.raises(ValueError, match="batch_size"):
            MM.resample_audio(df, 8000, batch_size=bad)
        with pytest.raises(ValueError, match="batch_size"):
            MM.extract_exact_features(df.select("media_id", "content"), batch_size=bad)
