"""Multimodal columns: image/audio/video as opaque binary + typed
metadata (SURVEY.md §2.3 / BASELINE.json north-star).

Spark-side plumbing is real and tested: schemas, binaryFile ingestion,
Arrow-batched mapInPandas transforms with explicit batch-size control,
and partition sizing for large blobs. Since round 3 the decode step is
REAL for BMP / PPM / PNG images and PCM WAV audio via the
self-contained pure-Python codecs in ``extensions/media_codecs.py``
(magic-byte dispatch; no media libraries needed). Formats the container
can't decode (video, JPEG, ...) still fall back to the clearly-marked
deterministic hash-fake so the distributed plumbing stays exercised
end-to-end; swap ``_decode_impl``'s fallback for PIL/ffmpeg in
production.

Scale posture:
- Blobs never pass through Python row-at-a-time; mapInPandas streams
  Arrow batches (``spark.sql.execution.arrow.maxBytesPerBatch`` bounds
  their bytes), and every transform re-slices each batch into
  ``batch_size``-row chunks, so at most ``batch_size`` decoded blobs
  are held at once. No transform touches the session's Arrow conf.
- Feature extraction is 1→1 per blob and embarrassingly parallel —
  repartition by size before heavy decode so stragglers don't pin a
  task (``balance_by_size``).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("content", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType(), True),
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.IntegerType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("sha256", T.StringType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)

FEATURE_DIM = 8


def sniff_format(content: bytes | None) -> str | None:
    """Magic-byte format detection for the self-decodable formats."""
    if not content:
        return None
    if content[:2] == b"BM":
        return "bmp"
    if content[:2] == b"P6":
        return "ppm"
    if content[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if content[:4] == b"RIFF" and content[8:12] == b"WAVE":
        return "wav"
    return None


def _decode_impl(kind: str, content: bytes) -> list[float]:
    """Real decode for BMP/PPM/WAV (media_codecs.py); deterministic
    hash-fake fallback for formats without an in-container decoder
    (video, compressed images). Feature layout:

    - image: [width, height, n_pixels, mean_r, mean_g, mean_b, 0, 0]
    - audio: [sample_rate, channels, n_frames, duration_ms, mean, max_abs, 0, 0]
    - fallback: first FEATURE_DIM sha256 bytes / 255 (stub, as before).
    """
    if content is None:
        return [0.0] * FEATURE_DIM
    from cloud_dataflow_batch_processing_spark.extensions import media_codecs as M

    fmt = sniff_format(content)
    try:
        if fmt in M.IMAGE_FORMATS:
            w, h, rgb = M.decode_image(fmt, content)
            f = M.image_features(w, h, rgb)
            n = max(1, f["n_pixels"])
            return [
                float(w), float(h), float(f["n_pixels"]),
                f["sum_r"] / n, f["sum_g"] / n, f["sum_b"] / n, 0.0, 0.0,
            ]
        if fmt == "wav":
            wav = M.decode_wav(content)
            f = M.audio_features(wav)
            n = max(1, len(wav.samples))
            return [
                float(f["sample_rate"]), float(f["channels"]),
                float(f["n_frames"]), float(f["duration_ms"]),
                f["sum_samples"] / n, float(f["max_abs"]), 0.0, 0.0,
            ]
    except ValueError:
        pass  # malformed despite magic → treat as opaque bytes below
    digest = hashlib.sha256(content).digest()
    return [b / 255.0 for b in digest[:FEATURE_DIM]]


def _check_batch_size(batch_size: int) -> None:
    """Validate up front, on the driver. Unvalidated, a non-positive
    value dies as an opaque ``range() arg 3 must not be zero`` inside
    an executor task. Fail loudly before any job is launched instead."""
    if batch_size < 1:
        raise ValueError(f"batch_size must be >= 1, got {batch_size}")


def _chunks(batches: Iterator[pd.DataFrame], batch_size: int) -> Iterator[pd.DataFrame]:
    """Each incoming Arrow batch re-sliced into ``batch_size``-row chunks
    (ADVICE r4 — the bound on decoded blobs held at once)."""
    for full in batches:
        for lo in range(0, len(full), batch_size):
            yield full.iloc[lo : lo + batch_size]


def decode_and_featurize(df: DataFrame, batch_size: int = 64) -> DataFrame:
    """Arrow-batched decode → feature pipeline over a MEDIA_SCHEMA frame.

    The mapInPandas generator is the Beam ``DoFn.process`` twin with
    bundle lifecycle (start = generator entry, finish = exhaustion);
    ``batch_size`` rows are decoded per chunk so fat video rows don't
    blow executor memory.
    """
    _check_batch_size(batch_size)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in _chunks(batches, batch_size):
            feats = [
                _decode_impl(k, c) for k, c in zip(pdf["kind"], pdf["content"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [len(c) if c is not None else 0 for c in pdf["content"]],
                    "sha256": [
                        hashlib.sha256(c).hexdigest() if c is not None else None
                        for c in pdf["content"]
                    ],
                    "feature": feats,
                }
            )

    return df.mapInPandas(run, schema=FEATURE_SCHEMA)


EXACT_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("format", T.StringType(), True),
        T.StructField("img_w", T.LongType(), True),
        T.StructField("img_h", T.LongType(), True),
        T.StructField("sum_r", T.LongType(), True),
        T.StructField("sum_g", T.LongType(), True),
        T.StructField("sum_b", T.LongType(), True),
        T.StructField("wav_frames", T.LongType(), True),
        T.StructField("wav_duration_ms", T.LongType(), True),
        T.StructField("wav_sum", T.LongType(), True),
    ]
)


def extract_exact_features(df: DataFrame, batch_size: int = 64) -> DataFrame:
    """Arrow-batched REAL decode over a (media_id, content) frame:
    magic-sniffs each blob, decodes BMP/PPM/WAV with the pure-Python
    codecs, and emits exact integer features (dimensions, channel
    sums, frame counts, sample sums) — the oracle-checkable twin of
    :func:`decode_and_featurize`'s float features. Unknown formats
    yield NULL features rather than fake values."""
    _check_batch_size(batch_size)

    from cloud_dataflow_batch_processing_spark.extensions import media_codecs as M

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in _chunks(batches, batch_size):
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                content = bytes(content) if content is not None else None
                fmt = sniff_format(content)
                row = {"media_id": mid, "format": fmt}
                if fmt in M.IMAGE_FORMATS:
                    w, h, rgb = M.decode_image(fmt, content)
                    f = M.image_features(w, h, rgb)
                    row.update(
                        img_w=w, img_h=h,
                        sum_r=f["sum_r"], sum_g=f["sum_g"], sum_b=f["sum_b"],
                    )
                elif fmt == "wav":
                    f = M.audio_features(M.decode_wav(content))
                    row.update(
                        wav_frames=f["n_frames"],
                        wav_duration_ms=f["duration_ms"],
                        wav_sum=f["sum_samples"],
                    )
                rows.append(row)
            cols = [f.name for f in EXACT_FEATURE_SCHEMA.fields]
            # Absent features must be None (not float NaN) so Arrow
            # maps them to typed nulls in the LongType columns.
            out = pd.DataFrame(rows, columns=cols).astype(object)
            yield out.where(pd.notnull(out), None)

    return df.mapInPandas(run, schema=EXACT_FEATURE_SCHEMA)


def resize_images(df: DataFrame, width: int, height: int, batch_size: int = 64) -> DataFrame:
    """REAL image resize over a MEDIA_SCHEMA frame: decode (magic-byte
    dispatch, the pure-Python BMP/PPM/PNG codecs), nearest-neighbor
    resample (integer source indices — bit-deterministic), re-encode as
    BMP, and stamp the new dims. Rows whose content is not a decodable
    image pass through unchanged (a corrupt file must not kill a 100 TB
    job; the caller filters on meta dims if it needs only successes).
    Arrow-batched mapInPandas, 1→1, schema-stable, ``batch_size``-row
    chunks (``_chunks``)."""
    _check_batch_size(batch_size)
    from cloud_dataflow_batch_processing_spark.extensions import media_codecs as MC

    schema = df.schema

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in _chunks(batches, batch_size):
            out_content, out_meta = [], []
            for content, meta in zip(pdf["content"], pdf["meta"]):
                kind = sniff_format(bytes(content) if content is not None else None)
                try:
                    if kind in ("bmp", "ppm", "png"):
                        w, h, rgb = MC.decode_image(kind, bytes(content))
                        resized = MC.resize_nearest(w, h, rgb, width, height)
                        out_content.append(MC.encode_bmp(width, height, resized))
                        meta = dict(meta) if meta is not None else {}
                        meta.update({"mime": "image/bmp", "width": width, "height": height})
                        out_meta.append(meta)
                        continue
                except Exception:
                    pass  # undecodable image: fall through to passthrough
                out_content.append(content)
                out_meta.append(meta)
            pdf = pdf.copy()
            pdf["content"] = out_content
            pdf["meta"] = out_meta
            yield pdf

    return df.mapInPandas(run, schema=schema)


def resample_audio(df: DataFrame, sample_rate: int, batch_size: int = 64) -> DataFrame:
    """REAL audio resample over a MEDIA_SCHEMA frame: decode WAV (the
    pure-Python RIFF/PCM16 codec), nearest-frame resample to
    ``sample_rate`` (integer index math — byte-deterministic),
    re-encode, and stamp the new duration. Non-WAV rows pass through
    unchanged, same fault posture (and same ``batch_size`` re-slicing)
    as resize_images."""
    _check_batch_size(batch_size)
    from cloud_dataflow_batch_processing_spark.extensions import media_codecs as MC

    schema = df.schema

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in _chunks(batches, batch_size):
            out_content, out_meta = [], []
            for content, meta in zip(pdf["content"], pdf["meta"]):
                kind = sniff_format(bytes(content) if content is not None else None)
                try:
                    if kind == "wav":
                        wav = MC.decode_wav(bytes(content))
                        res = MC.resample_wav_nearest(wav, sample_rate)
                        out_content.append(
                            MC.encode_wav(res.samples, res.sample_rate, res.channels)
                        )
                        meta = dict(meta) if meta is not None else {}
                        meta.update({"mime": "audio/wav", "duration_ms": res.duration_ms})
                        out_meta.append(meta)
                        continue
                except Exception:
                    pass
                out_content.append(content)
                out_meta.append(meta)
            pdf = pdf.copy()
            pdf["content"] = out_content
            pdf["meta"] = out_meta
            yield pdf

    return df.mapInPandas(run, schema=schema)


def resize_stub(df: DataFrame, width: int, height: int) -> DataFrame:
    """Metadata-only resize plumbing (kept for formats with no codec:
    stamps target dims, passes bytes through). Prefer
    :func:`resize_images`, which REALLY resamples BMP/PPM/PNG content
    via the pure-Python codecs."""
    return df.withColumn(
        "meta",
        F.struct(
            F.col("meta.mime").alias("mime"),
            F.lit(width).alias("width"),
            F.lit(height).alias("height"),
            F.col("meta.duration_ms").alias("duration_ms"),
        ),
    )


def frame_sample_plan(df: DataFrame, every_ms: int) -> DataFrame:
    """Video frame-sampling *plan*: explodes each video row into frame
    timestamps (relational — the decode of each frame is the stubbed
    Python step). Shows the 1→N shape without touching bytes."""
    n_frames = F.greatest(
        (F.coalesce(F.col("meta.duration_ms"), F.lit(0)) / every_ms).cast("int"), F.lit(0)
    )
    return df.select(
        "media_id",
        F.explode(F.sequence(F.lit(0), n_frames)).alias("frame_idx"),
    ).withColumn("frame_ts_ms", F.col("frame_idx") * every_ms)


def balance_by_size(df: DataFrame, target_partition_bytes: int = 128 * 1024 * 1024) -> DataFrame:
    """Repartition so each task holds ~target bytes of blob content —
    the knob that keeps 100 TB of video from making straggler tasks."""
    total = df.agg(F.sum(F.length("content"))).head()[0] or 0
    parts = max(1, int(total / target_partition_bytes))
    return df.repartition(parts)
